"""Seeded generator of the graft input tables.

Writes the ten parquet tables `graft.sources.Tables` reads (the
TPC-H-shaped star schema, the `events` stream table, and the LLM-data
`documents` / `embeddings` corpora) with the same column names, types
and value domains as the project's test data. The same (seed, sf)
always writes the same bytes.

    python3 perfbench/datagen.py <out_dir> <sf> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (micros) uniform over [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(
            _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(
            _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line), pa.timestamp("us"))})
    # events: increasing timestamps over 30 days, 150 users
    gaps = rng.exponential(1.0, n_evt)
    micros = np.cumsum(gaps) / gaps.sum() * (30 * 86400e6 - 1e6)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_evt), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_evt), 2) + 0.01, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s)})
    # documents: 5% are an earlier original document with " dup"
    # appended, the near-duplicate structure the dedup and clustering
    # keys look for (a fixed count and depth, so every seed does the
    # same amount of clustering work)
    dup = set(rng.choice(np.arange(1, n_doc), round(n_doc * 0.05), replace=False).tolist())
    texts, originals = [], []
    for i in range(n_doc):
        if i in dup:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))

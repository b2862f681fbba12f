"""Per-layer numbers of a traced run: the metrics named in BENCHMARK.json
plus the printed self-time and workload-specific layer tables."""
import json
import os
import statistics

import numpy as np

FAMILIES = [("streamkeys", lambda k: "_stream_" in k),
            ("stores", lambda k: k.startswith("_store_")),
            ("relational", lambda k: k.startswith("q")),
            ("pipeline", lambda k: k.startswith("p_")),
            ("dedup", lambda k: k.startswith("d_")),
            ("similarity", lambda k: k.startswith("s_")),
            ("text", lambda k: k.startswith("t_")),
            ("multimodal", lambda k: k.startswith("m_"))]


def family(key):
    return next(name for name, match in FAMILIES if match(key))


def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): a weighted
    mean of all order statistics with Beta((n+1)q, (n+1)(1-q)) weights.
    A batch run yields about ten key samples, where a single order
    statistic jumps with each key's noise; this estimate does not."""
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    if n <= 1:
        return float(v[0]) if n else float("nan")
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    x = np.linspace(0.0, 1.0, 200 * n + 1)[1:-1]
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, x, cdf)
    edges[0], edges[-1] = 0.0, 1.0
    return float(np.dot(np.diff(edges), v))


def load_spans(path):
    if not os.path.exists(path):
        return []
    spans = json.load(open(path))
    explicit = [s for s in spans if s["parent"] >= 0]
    # listener-recorded spans (ms-precision phases, jobs) hang under the
    # innermost explicit span that contains them
    for s in spans:
        if s["parent"] >= 0:
            continue
        best = None
        for e in explicit:
            if e["start_us"] - 1000 <= s["start_us"] and s["end_us"] <= e["end_us"] + 1000:
                if best is None or e["end_us"] - e["start_us"] < best["end_us"] - best["start_us"]:
                    best = e
        s["parent"] = best["id"] if best else 0
    return spans


def self_times(spans):
    """{name: [count, total_ms, self_ms]}; self = duration minus the part
    of it that child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                    for c in kids.get(s["id"], []))
        covered, end = 0, s["start_us"]
        for a, b in iv:
            if b > end:
                covered += b - max(a, end)
                end = b
        dur = s["end_us"] - s["start_us"]
        row = out.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += dur / 1000.0
        row[2] += (dur - covered) / 1000.0
    return out


def layers(workload, res, info, work, cpus):
    """Per-unit layer metrics. A unit is one pass (batch workloads) or one
    micro-batch of the live stream (live_loop)."""
    spans = load_spans(os.path.join(work, "spans.json"))
    units = res.get("units", {})
    if workload == "live_loop":
        rep, first = res["live_rep"], res["first_live_batch"]
        walls = {f"r{rep}mb{b['batch']}": (b["end_ms"] - b["start_ms"]) / 1000.0
                 for b in res["batches"] if "start_ms" in b and b["rep"] == rep
                 and b["batch"] >= first}
        build = [s for s in spans if s["name"] == "operators.route"]
    else:
        walls = {p["unit"]: p["wall_s"] for p in res["passes"]}
        build = [s for s in spans if s["name"] == "queries.build"]
    n = max(1, len(walls))
    used = [units.get(u, {}) for u in walls]

    def per_unit(field):
        return sum(u.get(field, 0) for u in used) / n

    build_ms = sum((s["end_us"] - s["start_us"]) / 1000.0 for s in build)
    per_layer = {
        "queries.build_ms": (build_ms / n, "ms"),
        "catalyst.optimize_ms": (per_unit("optimize_ms"), "ms"),
        "catalyst.plan_ms": (per_unit("plan_ms"), "ms"),
        "exec.run_ms": (per_unit("job_busy_ms"), "ms"),
        "exec.task_cpu_ms": (per_unit("task_cpu_ms"), "ms"),
        "exec.cpu_util": (sum(u.get("task_cpu_ms", 0) for u in used)
                          / max(1e-9, sum(walls.values()) * 1000.0 * cpus), "ratio"),
        "exec.jobs": (per_unit("jobs"), "count"),
        "exec.stages": (per_unit("stages"), "count"),
        "exec.tasks": (per_unit("tasks"), "count"),
        "exec.scan_bytes": (per_unit("scan_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (per_unit("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (per_unit("shuffle_read_bytes"), "bytes"),
        "jvm.gc_ms": (res["measure_gc_ms"] / n, "ms"),
    }
    table = {"units": n,
             "exec.spill_bytes": per_unit("spill_bytes"),
             "catalyst.analyze_ms": per_unit("analyze_ms")}
    if workload == "live_loop":
        table.update(live_table(res, info, spans, walls, used))
    else:
        table.update(batch_table(res))
    return {"per_layer": per_layer, "table": table, "spans": spans, "units": n}


def batch_table(res):
    fam, stores = {}, {}
    for p in res["passes"]:
        sums = {}
        for k in p["keys"]:
            f = family(k["key"])
            sums[f] = sums.get(f, 0.0) + k["ms"] / 1000.0
            if f == "stores":
                stores.setdefault(k["key"], []).append(k["ms"])
        for f, v in sums.items():
            fam.setdefault(f, []).append(v)
    out = {f"{f}.pass_s": statistics.median(v) for f, v in sorted(fam.items())}
    out.update({f"stores.{k[len('_store_'):]}_ms": statistics.median(v)
                for k, v in sorted(stores.items())})
    return out


def live_table(res, info, spans, walls, used):
    rep = res["live_rep"]
    prog = [p for p in res.get("progress", [])
            if p["query"] == f"live{rep}" and p["batch"] >= res["first_live_batch"]]
    dur = lambda k: [p["duration_ms"].get(k, 0) for p in prog]
    # wait from the 200 answer to the start of the trigger that picked
    # the event up
    start = {p["batch"]: p["start_ms"] / 1000.0 for p in prog}
    answered = info["answered"]
    waits = []
    for b in res["batches"]:
        if b.get("rep") == rep and "message_ids" in b and b["batch"] in start:
            for mid in b["message_ids"]:
                i = int(mid.split("-")[1]) if mid.startswith("m") else None
                if i is not None and i in answered:
                    waits.append((start[b["batch"]] - answered[i]) * 1000.0)
    named = lambda name: [(s["end_us"] - s["start_us"]) / 1000.0 for s in spans
                          if s["name"] == name and s["trace"] in walls]
    nt = max(1, len(walls))
    ledger = res.get("ledger", [])
    return {
        "loadgen.lag_p99_ms": info["loadgen.lag_p99_ms"],
        "ingress.post_p50_ms": info["ingress.post_p50_ms"],
        "ingress.post_p99_ms": info["ingress.post_p99_ms"],
        "ingress.unauthorized": info["ingress.unauthorized"],
        "configstore.auth_p99_ms": quantile(res.get("auth_ms", []), 0.99),
        "streaming.wait_p50_ms": quantile(waits, 0.5),
        "streaming.backlog_files_max": max([p["rows"] for p in prog] or [0]),
        "streaming.trigger_p50_ms": quantile(dur("triggerExecution"), 0.5),
        "streaming.trigger_p99_ms": quantile(dur("triggerExecution"), 0.99),
        "streaming.list_ms": statistics.mean(dur("latestOffset") or [0]),
        "streaming.planning_ms": statistics.mean(dur("queryPlanning") or [0]),
        "streaming.commit_ms": statistics.mean(
            [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))] or [0]),
        "streaming.rows_per_batch": statistics.mean([p["rows"] for p in prog] or [0]),
        "streaming.jobs_per_batch": statistics.mean([u.get("jobs", 0) for u in used] or [0]),
        "operators.route_ms": sum(named("operators.route")) / nt,
        "egress.deliver_ms": sum(named("egress.deliver")) / nt,
        "egress.posts": sum(info["destinations.posts"].values()),
        "egress.retries": info["destinations.seeded_503"],
        "egress.first_try_ratio": (sum(1 for r in ledger if r["n_attempts"] == 1)
                                   / max(1, len(ledger))),
        "jdbcsink.write_ms": sum(named("jdbcsink.write")) / nt,
    }


def print_tables(workload, layers_, e2e, last_path, spans_path):
    per = "micro-batch" if workload == "live_loop" else "pass"
    print(f"# per-layer metrics ({workload}, per {per}):")
    for k, (v, unit) in layers_["per_layer"].items():
        print(f"#   {k:32s} {v:14.4f} {unit}")
    for k, v in layers_["table"].items():
        print(f"#   {k:32s} {v:14.4f}" if isinstance(v, (int, float)) else f"#   {k:32s} {v}")
    st = self_times(layers_["spans"])
    n = layers_["units"]
    print(f"# self time per unit ({n} units; spans in {spans_path}):")
    print(f"#   {'span':28s} {'count':>7s} {'total_ms':>10s} {'self_ms':>10s}")
    for name, (c, tot, self_) in sorted(st.items(), key=lambda x: -x[1][2]):
        print(f"#   {name:28s} {c / n:7.1f} {tot / n:10.2f} {self_ / n:10.2f}")
    # tracing overhead: this traced run against the last untraced run of
    # the same workload and seed
    if os.path.exists(last_path):
        last = json.load(open(last_path))
        for k in ("latency_p50_ms", "throughput_per_s"):
            print(f"# tracing overhead: {k} {e2e[k][0]:.3f} traced, {last[k]:.3f} untraced")
    else:
        print(f"# tracing overhead: no untraced run of this workload and seed to compare")

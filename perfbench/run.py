#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, every metric by name and unit.

    python3 perfbench/run.py --workload batch|live_loop \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark harness from source into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed. The last stdout line is
one JSON object: correct, attempted, failed and metrics (end-to-end
metrics untraced, per-layer metrics with --trace 1). See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import loadgen  # noqa: E402
import report   # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# Scale factor of the generated tables; the smoke test runs at 0.001.
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))
SETUP_REPS = 3
JVM_TIMEOUT_S = 160
HEAP = "3g"

# Pinned key lists (see README.md for why each key is here). Every pass
# runs all of them; the seed permutes their order.
WORKLOADS = {
    "batch": [
        # warehouse side: relational and pipeline keys, driver-floor bound
        "q3_shipping_priority", "p_job_latest_status", "p_sessionize",
        # curation side: explicit store builds, then LLM-data keys
        "_store_minhash", "_store_kmeans", "d_dup_clusters", "s_ivf_topk",
        "t_quality", "m_frame_dup",
        # graft.streaming: a streaming query run to completion per call
        "p_stream_sessions",
    ],
    "live_loop": [],
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars, which include the Scala compiler: $SPARK_HOME/jars,
    else the directory build.sbt compiles against (its unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        die("no Spark jars: set SPARK_HOME, or run from the repository root")
    return jars


def sources(root):
    out = []
    for base, _, files in os.walk(root):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(jars, cp, outdir, files):
    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={outdir}", "-Xss16m", "-Xmx2g",
           "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", outdir]
    if cp:
        cmd += ["-classpath", cp]
    r = subprocess.run(cmd + files, capture_output=True, text=True)
    if r.returncode != 0:
        die(f"compile failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")


def build(build_dir, jars):
    """Compile graft (src/main/scala) and the harness (perfbench/src),
    each only when its sources changed."""
    graft_src = sources("src/main/scala")
    if not graft_src:
        die("no graft sources under src/main/scala: run from the repository root")
    bench_src = sources(os.path.join(HERE, "src"))
    parts = [("graft", graft_src, None), ("harness", bench_src, "graft")]
    stamps = {}
    for name, files, dep in parts:
        h = hashlib.sha256()
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        if dep:
            h.update(stamps[dep].encode())
        stamps[name] = h.hexdigest()
        outdir = os.path.join(build_dir, name)
        stamp = os.path.join(build_dir, f"{name}.stamp")
        if os.path.exists(stamp) and open(stamp).read() == stamps[name]:
            continue
        compile_scala(jars, os.path.join(build_dir, dep) if dep else None, outdir, files)
        with open(stamp, "w") as fh:
            fh.write(stamps[name])
    return [os.path.join(build_dir, "harness"), os.path.join(build_dir, "graft"), f"{jars}/*"]


def inputs(build_dir, seed):
    """Generated tables for this seed, kept for the next run of the same
    seed; older seeds' tables are dropped."""
    root = os.path.join(build_dir, "data")
    d = os.path.join(root, f"sf{SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(root, ignore_errors=True)
        datagen.generate(d, SF, seed)
        open(os.path.join(d, "done"), "w").close()
    return d


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def start_jvm(classpath, work, args, cpus):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", ":".join(classpath), "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)


def wait_jvm(proc, deadline):
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("system under test timed out")


def batch_correctness(res, work, data, keys):
    """Replay each dumped key's oracle SQL in DuckDB with the comparison
    in tools/check.py. Returns {key: cause} for every mismatch."""
    bad = {k: f"threw: {m}" for k, m in res.get("failures", {}).items()}
    queries = [k for k in keys if not k.startswith("_store_") and k not in bad]
    if not queries:
        return bad
    r = subprocess.run([sys.executable, "tools/check.py", data, os.path.join(work, "check"),
                        "--skip-verify", "--no-spill", "--threads=2"] + queries,
                       capture_output=True, text=True)
    passed = set()
    for line in r.stdout.splitlines():
        if line.startswith("PASS"):
            passed |= set(line.split(":", 1)[1].split())
        elif line.startswith("ROWS-ONLY:"):
            passed.add(line.split()[1])
        elif line.startswith(("FAIL:", "TIMEOUT:")):
            k, cause = line.split(":", 2)[1:]
            bad[k.strip()] = cause.strip()
    for k in queries:
        if k not in passed and k not in bad:
            bad[k] = f"no verdict from tools/check.py (exit {r.returncode}): {r.stderr[-300:]}"
    return bad


def run_batch(args, classpath, build_dir, work, cpus):
    keys = WORKLOADS[args.workload]
    data = inputs(build_dir, args.seed)
    proc = start_jvm(classpath, work, [
        "--workload", args.workload, "--data", data, "--work", work,
        "--seconds", str(args.seconds), "--seed", str(args.seed),
        "--trace", str(args.trace), "--cpus", str(cpus), "--keys", ",".join(keys),
        "--setup-reps", str(SETUP_REPS)], cpus)
    wait_jvm(proc, START + JVM_TIMEOUT_S)
    res = load_result(work)
    bad = batch_correctness(res, work, data, keys)
    samples = [(k["key"], k["ms"]) for p in res["passes"] for k in p["keys"]]
    failed = sum(1 for k, _ in samples if k in bad)
    walls = [p["wall_s"] for p in res["passes"]]
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "latency_p50_ms": (report.quantile([ms for _, ms in samples], 0.5), "ms"),
        "latency_tail_ms": (report.quantile([ms for _, ms in samples], 0.9), "ms"),
        "throughput_per_s": (len(samples) / sum(walls), "1/s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    info = {"context_s": res["context_s"], "peak_rss_mb": res["peak_rss_mb"],
            "passes": len(walls),
            "key_samples": len(samples), "tail_percentile": 90,
            "pass_s_median": statistics.median(walls), "warmup_s": res["warmup_s"],
            "mismatches": bad}
    return res, e2e, len(samples), failed, info


def run_live(args, classpath, build_dir, work, cpus):
    plan = loadgen.schedule(args.seed, args.seconds)
    dests = loadgen.Destinations()
    proc = None
    try:
        proc = start_jvm(classpath, work, [
            "--workload", "live_loop", "--data", "-", "--work", work,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace), "--cpus", str(cpus), "--keys", "-",
            "--setup-reps", str(SETUP_REPS),
            "--dest-a", dests.url("dest_a"), "--dest-b", dests.url("dest_b")], cpus)
        ready = os.path.join(work, "ready.json")
        while not os.path.exists(ready):
            if proc.poll() is not None or time.time() > START + JVM_TIMEOUT_S - 60:
                die(f"system under test did not become ready; see {work}/jvm.log")
            time.sleep(0.02)
        port = json.load(open(ready))["port"]
        t0 = time.time() + 0.2
        sent = loadgen.send(port, plan, t0, min(cpus, 4))
        # drain: wait until every accepted event reached each routed destination
        want = {(d, e["messageId"]) for (_, wk, evs), s in zip(plan, sent) if s[3] == 200
                for e in evs for d in loadgen.expected_dests(wk, e["event"])}
        drain_end = time.time() + 30
        while time.time() < drain_end:
            with dests.lock:
                if all(k in dests.receipts for k in want):
                    break
            time.sleep(0.05)
        open(os.path.join(work, "done"), "w").close()
        wait_jvm(proc, START + JVM_TIMEOUT_S)
        proc = None
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        dests.close()
    res = load_result(work)
    jdbc = set(open(os.path.join(work, "jdbc_ids.txt")).read().split())
    jdbc = {m for m in jdbc if not m.startswith("warm")}

    causes, lat, delivered, failed, last = {}, [], 0, 0, t0

    def fail(cause, n=1):
        causes[cause] = causes.get(cause, 0) + n

    for (_, wk, evs), (due, _, _, status) in zip(plan, sent):
        if status != (401 if wk == "wk-off" else 200):
            fail(f"status {status} for {wk}", len(evs))
            failed += len(evs)
            if wk != "wk-off":  # refused events miss any latency limit
                lat += [(drain_end - due) * 1000.0] * len(evs)
        if status != 200:
            continue
        for e in evs:
            mid, ok, done_at = e["messageId"], True, due
            routed = loadgen.expected_dests(wk, e["event"])
            for d in ("dest_a", "dest_b"):
                got = dests.receipts.get((d, mid), [])
                if d in routed and len(got) != 1:
                    ok = False
                    fail(f"{'undelivered' if not got else 'duplicate delivery'} to {d}")
                    done_at = max(done_at, max(got) if got else drain_end)
                elif d not in routed and got:
                    ok = False
                    fail(f"unrouted delivery to {d}")
                elif got:
                    done_at = max(done_at, got[0])
            if mid not in jdbc:
                ok = False
                fail("missing from JDBC table")
            lat.append((done_at - due) * 1000.0)
            if ok:
                delivered += 1
                last = max(last, done_at)
            else:
                failed += 1
    if dests.rename_violations:
        fail("FIELDMAP rename not visible at dest_a", dests.rename_violations)
        failed += dests.rename_violations
    attempted = sum(len(evs) for _, _, evs in plan)
    failed = min(attempted, failed)
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "latency_p50_ms": (report.quantile(lat, 0.5), "ms"),
        "latency_tail_ms": (report.quantile(lat, 0.99), "ms"),
        "throughput_per_s": (delivered / max(1e-9, last - t0), "1/s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    lags = [(s[1] - s[0]) * 1000.0 for s in sent]
    posts = [(s[2] - s[1]) * 1000.0 for s in sent]
    info = {"context_s": res["context_s"], "peak_rss_mb": res["peak_rss_mb"],
            "requests": len(plan), "events": attempted,
            "delivered": delivered, "tail_percentile": 99, "mismatches": causes,
            "loadgen.lag_p99_ms": report.quantile(lags, 0.99),
            "ingress.post_p50_ms": report.quantile(posts, 0.5),
            "ingress.post_p99_ms": report.quantile(posts, 0.99),
            "ingress.unauthorized": sum(1 for s in sent if s[3] == 401),
            "destinations.posts": dests.posts, "destinations.seeded_503": dests.refused,
            "answered": {i: s[2] for i, s in enumerate(sent) if s[3] == 200}}
    return res, e2e, attempted, failed, info


def load_result(work):
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        die(f"system under test wrote no result; see {work}/jvm.log")
    res = json.load(open(path))
    if "fatal" in res:
        die(f"system under test failed: {res['fatal']}; see {work}/jvm.log")
    return res


def cpu_ticks():
    """(steal, total) jiffies of the host CPUs so far, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=5)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def validity(res, load1, ticks0, cpus):
    h = res.get("header", {})
    knobs = {k: v for k, v in os.environ.items()
             if k.startswith("GRAFT_") or k.startswith("SPARK_GRAFT_")}
    reasons = []
    if h.get("aqe_enabled") != "true":
        reasons.append("AQE off")
    if h.get("non_default_sql_conf"):
        reasons.append("non-default SQL conf")
    if any(k.startswith("GRAFT_") for k in knobs):
        reasons.append("GRAFT_* knob set")
    # back-to-back runs start near load1 = cpus * 0.75 from their own
    # predecessor; more than every core busy means someone else's work
    if load1 > cpus:
        reasons.append(f"load1_start {load1:.2f} above cpus")
    # time the hypervisor gave this machine's CPUs to other tenants
    ticks1 = cpu_ticks()
    steal = (100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)
    if steal is not None and steal > 10:
        reasons.append(f"{steal:.0f}% of CPU time stolen by the host")
    return {"load1_start": load1, "steal_pct": steal, "cpus": cpus,
            "max_heap_mb": h.get("max_heap_mb"),
            "git_commit": git_commit(), "java": h.get("java_version"),
            "spark": h.get("spark_version"), "scala": h.get("scala_version"),
            "aqe_enabled": h.get("aqe_enabled"),
            "non_default_sql_conf": h.get("non_default_sql_conf"), "env": knobs,
            "valid": not reasons, "invalid_because": reasons}


def main():
    global START
    START = time.time()
    load1 = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cpus = min(os.cpu_count() or 4, 8)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    classpath = build(build_dir, jars)
    START = time.time()  # the build is not part of a run's time budget
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = run_live if args.workload == "live_loop" else run_batch
    res, e2e, attempted, failed, info = run(args, classpath, build_dir, work, cpus)

    header = validity(res, load1, ticks0, cpus)
    print("# validity " + json.dumps(header, sort_keys=True))
    print(f"# {args.workload}: attempted {attempted}, failed {failed}, "
          f"fail_ratio {failed / attempted:.6f}")
    for cause, n in sorted(info["mismatches"].items()):
        print(f"#   mismatch {cause}: {n}")
    for name, (v, unit) in e2e.items():
        print(f"# {name} = {v:.4f} {unit}")
    print("# " + ", ".join(f"{k} {v:.4g}" if isinstance(v, float) else f"{k} {v}"
                           for k, v in info.items() if not isinstance(v, dict)))
    last_path = os.path.join(build_dir, "last_untraced", f"{args.workload}-{args.seed}.json")
    if args.trace:
        layers = report.layers(args.workload, res, info, work, cpus)
        report.print_tables(args.workload, layers, e2e, last_path,
                            os.path.join(work, "spans.json"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers["per_layer"].items()}
    else:
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as fh:
            json.dump({k: v for k, (v, _) in e2e.items()}, fh)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload in BENCHMARK.json
runs tiny (PERFBENCH_SF=0.001, a two-second run) untraced and traced,
and each run must emit every declared metric with its declared unit, a
computed fail_ratio, and a correct result.

    python3 perfbench/smoke_test.py      # from the repository root
"""
import json
import os
import subprocess
import sys


def run(workload, trace):
    env = dict(os.environ, PERFBENCH_SF="0.001")
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "1", "--seconds", "2", "--trace", str(trace)],
                       capture_output=True, text=True, env=env, timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-2000:]}"
    return r.stdout.strip().splitlines()


def main():
    spec = json.load(open("BENCHMARK.json"))
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            lines = run(w["name"], trace)
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["attempted"] >= 1 and result["correct"], result
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {got} != {want}"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            ratio = [l for l in lines if "fail_ratio" in l]
            assert ratio, f"{w['name']}: no fail_ratio line"
            value = float(ratio[0].rsplit("fail_ratio", 1)[1])
            assert value == round(result["failed"] / result["attempted"], 6), ratio[0]
            print(f"ok {w['name']} trace={trace}: {len(want)} metrics, {ratio[0]}")


if __name__ == "__main__":
    main()

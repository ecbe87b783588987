#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode (a few rows of
input), untraced and traced, must print a result line that meets the output
contract, with every output check passing.

    python3 perfbench/test_smoke.py

Run from the root of a checkout; takes several minutes (one JVM per run).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import LAYERS, SIZES, SPARK_LAYERS  # noqa: E402


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed",
         "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    for workload in listed + sorted(set(SIZES) - set(listed)):
        for trace in (0, 1):
            r = run(workload, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
            want = spec["per_layer" if trace else "end_to_end"]
            for m in want:
                got = r["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m, got)
                assert isinstance(got["value"], (int, float)), got
            if trace:
                # the JVM's own report, before run.py zero-fills the
                # per-layer metrics the workload does not run
                with open(f"{ROOT}/.bench_work/{workload}/result.json") as f:
                    reported = set(json.load(f)["layers"])
                own = set(SPARK_LAYERS) | set(LAYERS[workload])
                assert own <= reported, sorted(own - reported)
                assert own <= set(r["metrics"]), sorted(own - set(r["metrics"]))
            else:
                assert all(r["metrics"][m["name"]]["value"] > 0 for m in want), r
            print(f"ok {workload} trace={trace}")


if __name__ == "__main__":
    main()

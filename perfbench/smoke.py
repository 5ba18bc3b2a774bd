#!/usr/bin/env python3
"""Smoke test of the benchmark itself on tiny data (about sf0.001).

    python3 perfbench/smoke.py

Runs every workload run.py knows (those BENCHMARK.json lists and
olap_cold) for a few operations, untraced and traced, and asserts that
each run prints, as its last line, the result object with every metric
named in BENCHMARK.json and its unit, and that the report line before it
carries a computed ``error_rate``.  Exits non-zero on the
first failed assertion.  Takes a few minutes: each run starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import WORKLOADS  # noqa: E402


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke", "--max-ops", "4"],
        cwd=ROOT, capture_output=True, text=True, timeout=240)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr}"
    lines = out.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench report: "), lines[-2][:200]
    return (json.loads(lines[-2].split(": ", 1)[1]), json.loads(lines[-1]))


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            report, result = run(w, trace)
            assert set(result) == {"correct", "attempted", "failed",
                                   "metrics"}, result.keys()
            assert result["attempted"] >= 1
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want[trace], (w, trace, set(got) ^ set(want[trace]))
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)), (w, k, v)
            er = report["error_rate"]
            assert er["unit"] == "ratio" and er["value"] == (
                result["failed"] / result["attempted"]), er
            assert result["correct"] == (result["failed"] == 0)
            print(f"ok {w} trace={trace}: {result['attempted']} ops, "
                  f"error_rate {er['value']:.3f}", flush=True)
    print("smoke: all workloads report every metric")


if __name__ == "__main__":
    main()

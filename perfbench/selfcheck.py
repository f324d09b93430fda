#!/usr/bin/env python3
"""Fast self-check of the benchmark itself.

Usage (from the repository root): python3 perfbench/selfcheck.py

Runs every workload once, traced, at sf0.001, and asserts that:
  - the run is correct (every digest matched) and the digest check ran on
    every execution;
  - every end-to-end metric of BENCHMARK.json, and failed_frac, is printed
    in the summary with its unit;
  - the last line is the result object, and its metrics are exactly the
    per-layer metrics of BENCHMARK.json, each with its unit;
  - the per-layer time of build plus materialize accounts for the pass.
Exits non-zero on the first failed assertion.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, spec: dict) -> None:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "sf0.001"],
        capture_output=True, text=True, cwd=ROOT)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, f"{workload}: {lines}"
    m = re.search(r"^# digest check: (\d+)/(\d+) executions", p.stdout, re.M)
    assert m and m.group(1) == m.group(2) == str(result["attempted"]), \
        f"{workload}: digest check did not run on every execution"
    printed = {k: u for k, u in re.findall(r"^# (\S+) [-0-9.e]+ (\S+)$",
                                           p.stdout, re.M)}
    for e in spec["end_to_end"] + [{"name": "failed_frac", "unit": "fraction"}]:
        assert printed.get(e["name"]) == e["unit"], \
            f"{workload}: {e['name']} not printed with unit {e['unit']}"
    want = {e["name"]: e["unit"] for e in spec["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload}: per-layer metrics {got} != {want}"
    v = {k: x["value"] for k, x in result["metrics"].items()}
    parts = v["queries.build_s"] + v["queries.materialize_s"]
    assert abs(parts - v["trace.wall_s"]) <= 0.05 * v["trace.wall_s"], \
        f"{workload}: build + materialize {parts} vs pass wall {v['trace.wall_s']}"
    print(f"ok {workload}: {result['attempted']} executions, "
          f"{len(got)} per-layer metrics")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        check(w["name"], spec)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and summarize each metric.

Usage (from the repository root):

    python3 perfbench/stats.py --workloads relational,pipeline,iterative \
        --seeds 1-10 --seconds 25 --trace 0 --out FILE.json

Runs `perfbench/run.py` once per (workload, seed), serially, and writes
FILE.json with every run's metrics plus, per workload and metric, the
median, first and third quartile (`statistics.quantiles(values, n=4)`) and
the spread (Q3 - Q1) / median. Prints the summary as a table.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="relational,pipeline,iterative")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="25")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    result = {"seconds": a.seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-3000:]}")
            last = json.loads(p.stdout.strip().splitlines()[-1])
            last["seed"] = s
            runs.append(last)
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
                flush=True)
        names = list(runs[0]["metrics"])
        result["workloads"][w] = {
            "runs": runs,
            "all_correct": all(r["correct"] for r in runs),
            "summary": {k: dict(summarize([r["metrics"][k]["value"] for r in runs]),
                                unit=runs[0]["metrics"][k]["unit"])
                        for k in names}}
        for k, v in result["workloads"][w]["summary"].items():
            sp = "n/a" if v["spread"] is None else f"{v['spread']:.4f}"
            print(f"  {w:10s} {k:26s} median {v['median']:.4f} {v['unit']:8s} "
                  f"q1 {v['q1']:.4f} q3 {v['q3']:.4f} spread {sp}")
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare two graft.Bench runs query-by-query.

Usage: bench_compare.py A.json B.json [--tol 1.5]

Each input is either a raw Bench stdout line or the driver's BENCH_r*.json
wrapper (whose "tail" holds a fragment of that line); query timings are
regex-extracted, keeping the LAST occurrence of each name, which is the
`queries_min` entry when both maps are present (falling back to the
median `queries` for older/truncated files). For every query present in
both inputs, the comparison statistic is that per-query MIN — the
contention-proof floor. A query
"disagrees" when the larger min exceeds the smaller by more than the
tolerance factor (default 1.5 = 50%) AND the absolute gap exceeds 0.3 s
(sub-second queries sit on Spark's local job floor, where a 0.1 s wiggle
is scheduler noise, not an engine change).

Exit 0: the two runs agree (any recorded "regression" between them is
host noise). Exit 1: at least one query genuinely disagrees — rerun it
as an interleaved same-host pair (per-query spans from
`perfbench/run.py --trace 1`) before believing either number.
"""
import re
import sys


def load(path):
    # regex over the raw text handles every shape that actually occurs:
    # the one-line Bench JSON, the driver wrapper's "tail" fragment
    # (escaped quotes), and hand-trimmed copies. Names are normalized to
    # their unique pNN/qNN/tNN prefix so the round-8+ compact final line
    # (prefix keys, min floors) and the older full-name maps compare
    # uniformly. The LAST occurrence of a name wins: in old files that is
    # the queries_min map (printed after queries); in new files it is the
    # compact min line (printed last). Either way the min floor is
    # preferred when present.
    text = open(path).read()
    out = {}
    for m in re.finditer(r'\\?"([pqt]\d+)(?:_[a-z0-9_]+)?\\?":(-?[0-9.eE+]+)', text):
        out[m.group(1)] = float(m.group(2))
    if not out:
        raise SystemExit(f"{path}: no Bench query timings found")
    return {k: v for k, v in out.items() if v >= 0}


def main():
    argv = sys.argv[1:]
    args, tol, i = [], 1.5, 0
    while i < len(argv):
        a = argv[i]
        if a == "--tol":
            i += 1
            if i >= len(argv):
                raise SystemExit("--tol requires a value")
            tol = float(argv[i])
        elif a.startswith("--tol="):
            tol = float(a.split("=", 1)[1])
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}\n\n" + __doc__.strip())
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        raise SystemExit(__doc__.strip())
    a, b = load(args[0]), load(args[1])
    shared = sorted(set(a) & set(b))
    only = sorted(set(a) ^ set(b))
    bad = []
    print(f"{'query':34} {'A_min':>8} {'B_min':>8} {'ratio':>7}")
    for q in shared:
        lo, hi = sorted((a[q], b[q]))
        ratio = hi / lo if lo > 0 else float("inf")
        flag = ratio > tol and (hi - lo) > 0.3
        print(f"{q:34} {a[q]:8.3f} {b[q]:8.3f} {ratio:7.2f}{'  DISAGREE' if flag else ''}")
        if flag:
            bad.append(q)
    print(f"-- {len(shared)} shared queries; totals A={sum(a[q] for q in shared):.2f}s "
          f"B={sum(b[q] for q in shared):.2f}s")
    if only:
        print(f"-- not in both runs (ignored): {', '.join(only)}")
    if bad:
        print(f"-- DISAGREEMENT on {len(bad)} queries (> {tol}x and > 0.3s): "
              f"{', '.join(bad)}")
        return 1
    print("-- runs agree: any recorded regression between them is host noise")
    return 0


if __name__ == "__main__":
    sys.exit(main())

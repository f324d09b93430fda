#!/usr/bin/env python3
"""Record perfbench/goldens.json from oracle-confirmed outputs.

Usage (from the repository root): python3 perfbench/record_goldens.py

For each scale (sf0.1, sf0.001) the harness writes every benchmark query's
gated output as parquet, with the row count and content digest of what it
wrote. `tools/check_oracle.py` then compares each output with DuckDB over
the same tables. A query gets a golden only if DuckDB confirmed it, or if
it has no oracle SQL (then its digest is recorded as is and listed as
unconfirmed). Any oracle failure stops the recording.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

import run

RECORD_LIMIT_S = 1800


def record(scale: str, classes: str) -> dict:
    data = os.path.join(run.HERE, "data", scale)
    base = os.path.join(run.ROOT, ".bench_build", f"record-{scale}")
    shutil.rmtree(base, ignore_errors=True)
    dump = os.path.join(base, "dump")
    digests = run.run_jvm(classes, os.path.join(base, "run"), {
        "mode": "record", "data": data, "record-dir": dump,
        "cores": len(os.sched_getaffinity(0))}, time.time() + RECORD_LIMIT_S)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
         data, dump], capture_output=True, text=True)
    print(check.stdout, end="")
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    failed = set(re.findall(r"^FAIL (\S+)", check.stdout, re.M))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        with_oracle = set(json.load(f))
    if failed or with_oracle - passed:
        sys.exit(f"{scale}: oracle did not confirm {sorted(failed | (with_oracle - passed))}")
    unconfirmed = sorted(set(digests) - with_oracle)
    if unconfirmed:
        print(f"{scale}: no oracle SQL, digest recorded unconfirmed: {unconfirmed}")
    shutil.rmtree(base, ignore_errors=True)
    return dict(sorted(digests.items()))


def main() -> None:
    classes = run.build.build(os.path.join(run.ROOT, ".bench_build", "classes"))
    goldens = {s: record(s, classes) for s in ("sf0.1", "sf0.001")}
    with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine: one run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational|pipeline|iterative \
        --seed N --seconds S --trace 0|1 [--scale sf0.1|sf0.001]

Builds the engine and the harness from source (perfbench/build.py), then
runs the harness JVM (perfbench/src) in a per-run directory under
`.bench_build/`: its working directory, `java.io.tmpdir` and
`spark.local.dir` all live there, and the directory is measured and deleted
after the JVM exits. Query outputs are checked against the row counts and
content digests in perfbench/goldens.json.

Output: a summary (effective confs, cores, every metric with its unit) and,
as the last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run (spans are written to
`.bench_build/traces/`).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Seconds of timed work one pass counts as: a run makes
# max(1, round(--seconds / PASS_S)) passes, so the work measured is fixed
# by the arguments, never by how fast a pass went. At the run_seconds of
# BENCHMARK.json (40) that is two passes, and per-query times are medians
# over them; more do not fit the time budget of the benchmark driver.
PASS_S = 20
SETUPS = 3
END_TO_END = {  # name -> unit
    "wall_s": "s", "query_p50_s": "s", "query_max_s": "s",
    "setup_s": "s", "peak_heap_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.materialize_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.task_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.cores_busy_frac": "fraction",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "catalyst.executions": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "connections.read_mb": "MB",
    "connections.write_mb": "MB", "trace.wall_s": "s",
    "hygiene.leftover_mb": "MB",
}


def du(path: str) -> int:
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classes: str, run_dir: str, args: dict, deadline: float) -> dict:
    """Run the harness; return its raw result, or exit non-zero."""
    for sub in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.PerfBench", "--out", out,
            "--local-dir", os.path.join(run_dir, "local")]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(log, "wb") as lf:
        proc = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"),
                                stdout=lf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail + "\n")
        reason = "timed out" if rc is None else f"exited with code {rc}"
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"perfbench: harness JVM {reason}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["relational", "pipeline", "iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="sf0.1", choices=["sf0.1", "sf0.001"])
    a = ap.parse_args()

    classes = build.build(os.path.join(ROOT, ".bench_build", "classes"))
    deadline = time.time() + RUN_LIMIT_S
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)[a.scale]
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    trace_dir = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl")
    raw = run_jvm(classes, run_dir, {
        "workload": a.workload, "seed": a.seed,
        "trace": a.trace, "cores": cores, "setups": SETUPS,
        "passes": max(1, round(a.seconds / PASS_S)),
        "data": os.path.join(HERE, "data", a.scale),
        "warm": os.path.join(HERE, "data", "sf0.001"),
        "spans": spans}, deadline)
    leftover = sum(du(os.path.join(run_dir, s)) for s in ("tmp", "local", "cwd"))
    shutil.rmtree(run_dir, ignore_errors=True)

    execs = raw["execs"]
    failed = 0
    for e in execs:
        want = goldens.get(e["name"])
        e["correct"] = e["ok"] and want is not None and e["digest"] == want
        if not e["correct"]:
            failed += 1
            why = e["error"] or f"digest {e['digest']} != golden {want}"
            print(f"# FAILED {e['name']} pass {e['pass']}: {why}")
    passes = raw["passes"]
    by_pass = [[e for e in execs if e["pass"] == p] for p in range(passes)]
    per_query = {}
    for e in execs:
        per_query.setdefault(e["name"], []).append(e["wall_s"])
    q_med = [statistics.median(v) for v in per_query.values()]
    wall = statistics.median(sum(e["wall_s"] for e in b) for b in by_pass)
    end_to_end = {
        "wall_s": wall,
        "query_p50_s": statistics.median(q_med),
        "query_max_s": max(q_med),
        "setup_s": statistics.median(raw["setup_s"]),
        "peak_heap_mb": raw["peak_heap_mb"],
    }

    print(f"# workload {a.workload} seed {a.seed} scale {a.scale} "
          f"cores {cores} passes {passes} queries/pass {len(by_pass[0])}")
    for k, v in sorted(raw["confs"].items()):
        print(f"# conf {k}={v}")
    print(f"# digest check: {len(execs) - failed}/{len(execs)} executions "
          f"matched goldens.json[{a.scale}]")
    print(f"# failed_frac {failed / len(execs):.4f} fraction")
    print(f"# setup_s samples {raw['setup_s']}")
    for n, v in sorted(per_query.items()):
        print(f"# query {n} {statistics.median(v):.3f} s")
    for k, v in end_to_end.items():
        print(f"# {k} {v:.6f} {END_TO_END[k]}")
    if a.trace:
        layers = {k: v / passes for k, v in raw["layers"].items()}
        layers["spark.cores_busy_frac"] = raw["layers"]["spark.cores_busy_frac"]
        layers["trace.wall_s"] = wall
        layers["hygiene.leftover_mb"] = leftover / 2**20
        for k in PER_LAYER:
            print(f"# {k} {layers[k]:.6f} {PER_LAYER[k]}")
        print(f"# spans written to {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        print(f"# hygiene.leftover_mb {leftover / 2**20:.6f} MB")
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Usage: python3 perfbench/build.py [--out DIR]   (from the repository root)

Compiles every Scala source under `src/main/scala` (the engine) together
with `perfbench/src` (the harness) with the Scala compiler that ships in
Spark's own jar directory, against Spark's jars. No sbt is involved, so the
build reads only the checkout and the Spark installation and writes only
DIR (default `.bench_build/classes`). A stamp of the source contents skips
the compile when nothing changed.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources() -> list:
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            sys.exit(f"build: {top} is missing; run from a full checkout")
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs: list, jars: str) -> str:
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(out: str) -> str:
    """Compile into `out` unless its stamp matches; return the classes dir."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
        cwd=ROOT)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"build: compiled {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "classes"))
    build(os.path.abspath(ap.parse_args().out))

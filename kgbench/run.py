#!/usr/bin/env python3
"""Run one workload of the KG-engine benchmark.

    python3 kgbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (kgbench/build.sbt) and records a
fingerprint of the sources; later runs reuse the build while the
fingerprint holds. The harness then runs in one JVM at local[N], N the
CPUs this process may use. Runtime files go to kgbench/work/. The last
line of standard output is the JSON result; progress and Spark's own
messages go to standard error.
"""
import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "kgbench.stamp")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("extract", "pipeline", "queries")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these (the list the root
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jar directory the root build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    return m.group(1) if m else None


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return True
    log("building the engine and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]))
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "Compile/products"],
                           cwd=HERE, env=env, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        return False
    if r.returncode != 0:
        log("build failed")
        return False
    with open(STAMP, "w") as f:
        f.write(fp)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the smoke test")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "scala", "graft")):
        log(f"the engine's sources are missing ({os.path.relpath(PROGRAM, ROOT)}); nothing to measure")
        return 2
    if not spark_jars():
        log("the root build.sbt names no Spark jar directory (unmanagedBase)")
        return 2
    if not build():
        return 1

    cpus = len(os.sched_getaffinity(0))
    # Fixed JIT compiler threads, so their CPU time (left out of cpu_s)
    # is never lost with an exited thread; a deep call site on each SQL
    # execution, which the traced pipeline attributes its work by.
    cmd = ["java", f"-XX:ActiveProcessorCount={cpus}", "-Xmx3g", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.callstack.depth=200",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "kgbench.Run",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--work", WORK]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    try:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1
    lines = r.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        result = None
    if r.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(r.stdout)
        log(f"run failed (exit {r.returncode})")
        return r.returncode or 1
    sys.stdout.write(r.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())

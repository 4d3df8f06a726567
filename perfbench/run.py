#!/usr/bin/env python3
"""Benchmark entry point for the Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first call compiles the engine's
sources (src/main/scala) together with the benchmark's own
(perfbench/src) into .bench_build/classes with the Scala compiler that
ships in $SPARK_HOME/jars; later calls reuse the classes while no
source file changed. Each call then runs one workload in one JVM (see
perfbench/README.md): the last line of standard output is the result
JSON, and the lines before it print every metric with its unit and
the machine the numbers came from. Traced runs (--trace 1) also write
their spans to .bench_build/traces/<workload>-seed<seed>.json.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ["strava_backfill", "dedup_chain_ann_pq"]
RUN_TIMEOUT_S = 170
SELF_TEST_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 700
# A fixed heap with a fixed young generation: collections come every
# 256 MB allocated, so peak_heap_mb (occupancy after collection) samples
# each job's live heap often and the same way on every run.
HEAP = "2g"
YOUNG = "256m"

# What spark-submit passes to JDK 17 (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    engine = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.relpath(f, REPO).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for name in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, f"{name}-*.jar"))]
    t0 = time.time()
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*")] + srcs
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if r.returncode != 0:
        fail("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)


def jvm(jars, main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java(), "-XX:-UsePerfData"] + ADD_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]), main] + args
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {timeout} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    build(jars)
    started = time.time()
    work = os.path.join(BUILD, "work", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    if a.self_test:
        r = jvm(jars, "graft.perfbench.SelfTest", ["--work", work], work, SELF_TEST_TIMEOUT_S)
    else:
        r = jvm(jars, "graft.perfbench.Main",
                ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work,
                 "--trace-dir", os.path.join(BUILD, "traces")],
                work, RUN_TIMEOUT_S - (time.time() - started))
    shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.rstrip("\n").split("\n")
    if r.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(r.stdout)
        fail(f"run failed (exit {r.returncode})")
    sys.stdout.write(r.stdout)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one linkbench workload and print its metrics.

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale <f>]

Builds the benchmark with the program (make, in this directory) on first
use, then runs it in one JVM on a local[nproc] Spark session. The last
stdout line is the result object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer ones with --trace 1). The
line before it is the detail object: input fingerprint, host contention
and every run. Inputs, outputs and the JVM log go to
linkbench/work/<workload>/, which each launch empties first. --scale
shrinks the inputs (the self-test uses it); measurements use 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    jars = os.path.join(spark_home, "jars")
    if subprocess.run(["make", "-s", "-C", HERE, f"SPARK_JARS={jars}"],
                      stdout=sys.stderr).returncode != 0:
        fail("build failed")

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *ADD_OPENS,
           "-cp", os.pathsep.join([os.path.join(HERE, "target", "classes"),
                                   os.path.join(jars, "*")]),
           "linkbench.LinkBench", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--scale", str(a.scale)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {TIMEOUT_S} s; log in {log_path}")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"no result (exit {proc.returncode}); log in {log_path}")
    print("\n".join(lines))
    if proc.returncode != 0:
        fail(f"JVM exited with {proc.returncode}")


if __name__ == "__main__":
    main()

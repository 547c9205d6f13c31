#!/usr/bin/env python3
"""Runs one benchmark workload; see perfbench/README.md.

    python3 perfbench/run.py --workload dom_links --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), then
runs graftbench.Main in fresh JVMs, one after the other: one writes the
inputs, SETUP_JVMS - 1 time one cold set-up each, and the last times its own
cold set-up and runs the jobs. Inputs, Spark scratch files and traces stay
under .bench_build/ in the directory it is run from. The last line of
standard output is the result JSON; the exit code is 0 only if every JVM ran
to the end.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Fixed heap and young generation: the same sizes every run, so that the
# collector's adaptive sizing, which follows the host's speed, cannot move
# the collection cadence (and with it peak_heap_mb) from run to run.
HEAP = "2g"
YOUNG = "768m"
# Cold set-ups per run, each in a fresh JVM (the last is the run's own);
# setup_s is their median.
SETUP_JVMS = 2
# Every JVM of a run is killed after this, so that a run ends within 180 s.
DEADLINE_S = 170


def git_commit():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dom_links", "crawl_round"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classes, key = build.build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(build.OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        java += ["--add-opens", p + "=ALL-UNNAMED"]
    java += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
             "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--work-dir", work]

    def jvm(mode, *extra, capture=False):
        proc = subprocess.Popen(java + ["--mode", mode, *extra], cwd=build.ROOT,
                                stdout=subprocess.PIPE if capture else None, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("run: timed out after %d s" % DEADLINE_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            sys.exit("run: %s JVM exited with code %d" % (mode, proc.returncode))
        return out

    try:
        jvm("generate")
        setups = [json.loads(jvm("setup", capture=True).strip().splitlines()[-1])["setup_s"]
                  for _ in range(SETUP_JVMS - 1)]
        jvm("run", "--seconds", str(a.seconds), "--trace", a.trace,
            "--benchmark", os.path.join(build.ROOT, "BENCHMARK.json"),
            "--setup-samples", ",".join(repr(x) for x in setups),
            "--git-commit", git_commit(), "--source-hash", key)
    finally:
        # keep only the span files
        for d in os.listdir(work):
            if os.path.isdir(os.path.join(work, d)):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)


if __name__ == "__main__":
    main()

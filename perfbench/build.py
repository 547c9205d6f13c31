#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, the same jars the repository's sbt build compiles against.

The output directory is named after a hash of every source file and of the
compiler command, and is compiled into a fresh directory that is renamed into
place only when the compiler succeeds, so classes from an earlier build are
never on the classpath of a later one.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: no Spark jars with a Scala compiler found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("build: no java found (set JAVA_HOME)")
    return exe


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not program:
        sys.exit("build: no program sources under src/main/scala")
    if not bench:
        sys.exit("build: no benchmark sources under perfbench/src")
    return program + bench


def build():
    """Returns (classes directory, source hash), compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    compiler = [os.path.join(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect")]
    compiler = [glob.glob(p + "-*.jar")[0] for p in compiler]
    flags = ["-nowarn", "-release", "17"]
    h = hashlib.sha256(" ".join([os.path.basename(c) for c in compiler] + flags).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + key)
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, key
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")) + glob.glob(os.path.join(OUT, "tmp-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(OUT, "tmp-%d" % os.getpid())
    os.makedirs(tmp)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", *flags, "-d", tmp,
           "-classpath", os.path.join(jars, "*"), *srcs]
    print("build: compiling %d sources into %s" % (len(srcs), classes), file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build: scalac failed with exit code %d" % res.returncode)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classes, key


if __name__ == "__main__":
    print(build()[0])

#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes, using
the Scala compiler and the Spark jars of $SPARK_HOME/jars -- the same jars
build.sbt compiles against. Run it from the repository root:

    python3 perfbench/build.py

A build is skipped when the sources are unchanged since the last one
(content hash in .bench_build/classes.stamp).
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """Directory of the Spark jars (scala-compiler and scala-library included)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise SystemExit("build: run from the repository root; missing " + ", ".join(missing))
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the run classpath."""
    files = sources()
    jars = spark_jars()
    classpath = os.pathsep.join([os.path.abspath(CLASSES), os.path.join(jars, "*")])
    digest = source_hash(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classpath


if __name__ == "__main__":
    build()

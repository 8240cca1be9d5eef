#!/usr/bin/env python3
"""Builds the engine and the benchmark harness into .bench_build/classes.

The engine's sources (src/main/scala) and the harness's (perfbench/src)
are compiled together with the Scala compiler that ships among Spark's
jars (the jar directory the engine's build.sbt names), so no build tool
or network is needed. A stamp of every source's
path and content skips the compile when nothing changed.

Usage: python3 perfbench/build.py    (from anywhere; prints the class dir)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` the engine's build.sbt
    compiles against, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("build: no Spark jars with a Scala compiler "
                     "(build.sbt unmanagedBase, or set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise SystemExit(f"build: engine sources not found under {engine}")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the class directory."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return CLASSES
    staging = CLASSES + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("build: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())

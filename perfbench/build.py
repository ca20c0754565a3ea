#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine sources (src/main/scala) together with the harness
sources (perfbench/src) with the Scala compiler that ships among the Spark
jars, into .bench_build/classes. A stamp over the source contents skips the
build when nothing changed.

The Spark jar directory is $SPARK_HOME/jars, else the `unmanagedBase` the
repo's build.sbt names.

Usage: build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("build: no Spark jars (set SPARK_HOME)")


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: source directory {d} is missing")
    files = sorted(
        f for d in SOURCE_DIRS
        for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit("build: no sources")
    return files


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", jars] + files,
        stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"build: scalac exited with {rc}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()

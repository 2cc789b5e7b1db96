#!/usr/bin/env python3
"""Builds the program and the benchmark's JVM runner from source.

Compiles the repository's `src/main/scala` together with `perfbench/src`
in one scalac invocation, using the Scala compiler and the Spark jars the
sbt build compiles against (its `unmanagedBase`, else $SPARK_HOME/jars),
into `<build_dir>/classes`. A stamp holding the hash of every source file
skips the build when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (run from the repo root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise RuntimeError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir, log=sys.stderr):
    """Returns the classes directory, compiling first if sources changed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    files = sources(root)
    stamp = source_hash(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", staging, "-classpath", cp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        log.write(res.stdout[-4000:])
        raise RuntimeError(f"scalac failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.getcwd(), os.path.abspath(out)))

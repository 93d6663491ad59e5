#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) together with the benchmark's own
Scala sources (``perfbench/src``) into ``.bench_build/classes`` with the Scala
compiler that ships in Spark's jar directory, and copies the program's
resources (``src/main/resources``) next to the classes.  The output is reused while
no source file changes (a hash of paths, sizes and contents is kept next
to it).

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD_DIR = os.path.join(ROOT, ".bench_build")  # everything a run writes goes here


def spark_jars() -> list:
    """Spark's jars: ``$SPARK_HOME/jars``, else next to ``spark-submit`` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if home and jars:
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def files_under(d: str, suffix: str = "") -> list:
    found = []
    for dirpath, _, files in os.walk(d):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir: str) -> str:
    """Compile if needed; return the classes directory."""
    srcs = [f for d in SOURCE_DIRS for f in files_under(d, ".scala")]
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    resources = files_under(RESOURCES)
    key = digest(srcs + resources)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", classes, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    for f in resources:  # service registrations (data sources) and the like
        dst = os.path.join(classes, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes


if __name__ == "__main__":
    print(build(BUILD_DIR))

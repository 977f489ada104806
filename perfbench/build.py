#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source.

Compiles src/main/scala (the engine) together with perfbench/scala (the
harness) with the Scala 2.13 compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else next to spark-submit on the PATH),
into .bench_build/classes. A stamp of every source file's
content skips the compile when nothing changed.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


class BuildError(Exception):
    pass


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory: {d}")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError(f"no Scala sources under {SOURCE_DIRS}")
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError(f"missing Spark jar directory: {jars if home else '$SPARK_HOME/jars'}")
    return jars


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = h.hexdigest()
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = classpath()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

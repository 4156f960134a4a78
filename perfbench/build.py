#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala and its
resources) together with the benchmark's JVM program (perfbench/scala) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, or the jars beside `spark-submit` on the PATH).

    python3 perfbench/build.py          # from the repository root

A stamp of the sources' content skips the compile when nothing changed.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]
RESOURCES = os.path.join("src", "main", "resources")


def _files(top, suffix=""):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: no Spark jars; set SPARK_HOME")
    return os.path.join(home, "jars")


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr):
    """Compile if the sources changed; return the classpath. Concurrent
    callers in one checkout take turns on a lock file."""
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}; run "
                             "from the root of a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(log)


def _build(log):
    srcs = [f for d in SOURCES for f in _files(d, ".scala")]
    res = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"build: compiling {len(srcs)} Scala files", file=log)
    jars = spark_jars()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD}", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", f"{jars}/*", f"@{argfile}"],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(CLASSES, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    build()

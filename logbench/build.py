#!/usr/bin/env python3
"""Build file of the log benchmark.

Compiles the program (src/main/scala) together with the benchmark harness
(logbench/src) into .bench_build/classes with the Scala compiler that ships
in the Spark distribution, so a build needs neither sbt nor a network.
A build is skipped when the classes were made from the same sources.

    python3 logbench/build.py          # from the root of a checkout
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "logbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def walk(d):
    return sorted(os.path.join(base, f) for base, _, files in os.walk(d) for f in files)


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
    return [f for d in SOURCE_DIRS for f in walk(d) if f.endswith(".scala")]


def stamp(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classes directory, compiling first if it is stale."""
    files = sources()
    want = stamp(files + walk(RESOURCES))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(CLASSES, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return CLASSES
        jars = spark_jars()
        compiler = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                    for m in ("compiler", "library", "reflect")]
        missing = [j for j in compiler if not os.path.exists(j)]
        if missing:
            raise SystemExit(f"build: Scala compiler jars not found: {missing}")
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn",
               "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
        if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
            raise SystemExit("build: compilation failed")
        if os.path.isdir(RESOURCES):
            shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
        with open(os.path.join(tmp, "STAMP"), "w") as fh:
            fh.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        return CLASSES


if __name__ == "__main__":
    print(build(), file=sys.stderr)
    sys.exit(0)

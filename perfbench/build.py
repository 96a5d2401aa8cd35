#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark harness into one class directory.

The engine's only compile dependencies are the Spark jars, which ship the
Scala 2.13 compiler as well, so the build is a single scalac run over
`src/main/scala` and `perfbench/src` with `$SPARK_HOME/jars` on the class
path (without SPARK_HOME, the first `spark-submit` on PATH that has them). A stamp holding the hash of every source file skips the compile when
nothing changed.

Usage: python3 perfbench/build.py [build_dir]     (default .bench_build)
Prints the runtime class path on its last line.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation on PATH
    that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark installation with a Scala compiler; set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                             recursive=True))
    return engine + bench


def build(build_dir):
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        if os.path.isdir(classes):
            subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", jars,
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        with open(stamp, "w") as f:
            f.write(digest)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                        else os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    print(build(d))

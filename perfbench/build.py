#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler shipped in the
Spark distribution ($SPARK_HOME/jars), into `<build dir>/classes`.

Usage: python3 perfbench/build.py   (from the repository root)

The build directory is $CARGO_TARGET_DIR when set, else `.bench_build`.
A build is reused while the sources hash to the stamp it was made from;
a new one is compiled beside it and swapped in whole.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home() -> str:
    """$SPARK_HOME, else the first `spark-submit` on PATH whose installation
    ships the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("build: set SPARK_HOME (a Spark 4 / Scala 2.13 installation)")


SPARK_JARS = os.path.join(spark_home(), "jars")
SOURCES = ["src/main/scala", "perfbench/scala"]


def build_dir() -> str:
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources() -> list:
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing "
                             "(run from the root of a graft checkout)")
        files += glob.glob(f"{root}/**/*.scala", recursive=True)
    return sorted(files)


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_dir() -> str:
    """Compile if needed; returns the directory of compiled classes."""
    files = sources()
    want = stamp(files)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == want:
        return out
    compiler = [f"{SPARK_JARS}/scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]
    for jar in compiler:
        if not os.path.exists(jar):
            raise SystemExit(f"build: {jar} not found")
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", f"{SPARK_JARS}/*"] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(want + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(classes_dir())

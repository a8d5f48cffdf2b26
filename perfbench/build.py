#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the harness (perfbench/src) into
`<build dir>/classes`, with the Scala compiler that ships in Spark's jar
directory. Nothing is downloaded. A build is reused while no source file
changed.

Usage: python3 perfbench/build.py [build dir]   (default .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one next to a
    spark-submit on the PATH that ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jar directory with a Scala compiler; set SPARK_HOME to a "
                     "Spark 4 / Scala 2.13 install")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {d} (run from the repository root)")
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root=".", build_dir=".bench_build"):
    """Compile if needed; returns the classes directory."""
    files = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(".", sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))

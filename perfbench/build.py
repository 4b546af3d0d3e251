"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) into `.bench_build/classes`, using the Scala
compiler and Spark jars of the Spark distribution. A stamp of the source
contents skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _sources():
    srcs = []
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "perfbench", "src")):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        srcs += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return srcs


def jars():
    found = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not found:
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    return found


def build():
    """Returns the benchmark's class directory, compiling first if sources
    changed."""
    srcs = _sources()
    digest = hashlib.sha256()
    for path in srcs + jars():
        digest.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "bench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", ":".join(jars())] + srcs
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError(f"scalac exited with {proc.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")

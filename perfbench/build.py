#!/usr/bin/env python3
"""Compile the engine (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships in the Spark
distribution. Nothing is downloaded; sbt is not involved.

    python3 perfbench/build.py            # builds into $CARGO_TARGET_DIR or .bench_build

The build is skipped when a stamp of the sources' digest matches."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Return the class directory, compiling first when the sources changed."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    target = target_dir(root)
    classes = os.path.join(target, "classes")
    stamp = os.path.join(target, "classes.stamp")
    want = digest(srcs)
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit("compile failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))

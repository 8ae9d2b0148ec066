#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (sessionbench/src) with the Scala compiler that ships in the
Spark distribution, straight to class files. No sbt, so no state outside the
checkout. A content stamp skips the build when no source changed.

Usage: python3 sessionbench/build.py   (from the checkout root)
Prints the classes directory on success; exits non-zero when the sources are
missing or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
RESOURCES = os.path.join(ROOT, "src/main/resources")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "sessionbench")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    res = sorted(f for f in glob.glob(os.path.join(RESOURCES, "**"), recursive=True)
                 if os.path.isfile(f))
    return lib, own, res


def classpath(classes=None):
    cp = os.path.join(SPARK_JARS, "*")
    return f"{classes}{os.pathsep}{cp}" if classes else cp


def build(log=sys.stderr):
    lib, own, res = sources()
    if not lib:
        raise SystemExit("sessionbench: no library sources under src/main/scala")
    h = hashlib.sha256()
    for f in lib + own + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath()] + lib + own
    print(f"sessionbench: compiling {len(lib)} library + {len(own)} harness files",
          file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"sessionbench: compile failed (exit {r.returncode})")
    for f in res:  # service registrations (the paged-replays data source)
        dst = os.path.join(classes, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())

#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main) and the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars, into <build>/classes.

The build directory is $CARGO_TARGET_DIR, else .bench_build, relative
to the checkout root. A build is skipped when a hash of every source
file matches the last one. The classes directory is a plain class-path
entry, so spark-shell loads it as it is.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    """$SPARK_HOME, else the installation of spark-submit on the PATH, else
    the pyspark package: the first that has a jars directory."""
    def homes():
        yield os.environ.get("SPARK_HOME")
        submit = shutil.which("spark-submit")
        if submit:
            yield os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        try:
            import pyspark
            yield os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    for h in homes():
        if h and os.path.isdir(os.path.join(h, "jars")):
            return h
    raise SystemExit("build: no Spark installation found; set SPARK_HOME")


SPARK_JARS = os.path.join(spark_home(), "jars", "*")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise SystemExit("build: no graft sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    resources = sorted(f for f in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
                       if os.path.isfile(f))
    return graft + bench, resources


def build():
    """Returns the classes directory, compiling first when sources changed."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for f in srcs + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", SPARK_JARS, "-d", tmp, "@" + args]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    res_root = os.path.join(ROOT, "src/main/resources")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())

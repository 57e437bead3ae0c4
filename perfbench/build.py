#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library's main sources together
with the harness under perfbench/src, using the Scala compiler that ships
with Spark, into <root>/.bench_build/perfbench/classes.

Usage: python3 perfbench/build.py      (from the repository root)

The build is skipped when a stamp of every source file's content still
matches; it writes to a temporary directory and renames it into place, so an
interrupted build never leaves half a class tree behind.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else pyspark's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        return os.path.join(os.path.dirname(pyspark.__file__), "jars")
    except ImportError:
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        sys.exit("perfbench: the library sources (src/main/scala/graft) "
                 "are missing; run from the root of a full checkout")
    files = glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "*.scala"))
    return sorted(files)


def ensure():
    """Returns the run classpath, compiling first if any source changed."""
    files = sources()
    jars = spark_jars()
    stamp = hashlib.sha256(jars.encode())
    for f in files:
        with open(f, "rb") as fh:
            stamp.update(f.encode() + b"\0" + fh.read())
    stamp = stamp.hexdigest()
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(OUT, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    print(ensure())

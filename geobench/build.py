"""Compile the engine sources and the benchmark sources into one class directory.

Run from anywhere:  python3 geobench/build.py
The classes land in .bench_build/geobench/classes at the repository root and
are rebuilt only when a source file or the compiler flags change. The Scala
compiler and the Spark jars come from the Spark installation ($SPARK_HOME, or
the one whose spark-submit is on PATH).
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "geobench")
SCALAC_FLAGS = ["-usejavacp", "-nowarn"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("geobench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(roots[0]) for f in found):
        raise SystemExit("geobench: engine sources not found under src/main/scala")
    return sorted(found)


def build():
    """Returns the class directory, compiling first if it is stale."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", *SCALAC_FLAGS, "-d", tmp, "@" + argfile]
    print("geobench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, timeout=800)
    if r.returncode != 0:
        raise SystemExit("geobench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())

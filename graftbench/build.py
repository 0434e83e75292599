"""Build file of the benchmark: compiles the library (src/main/scala at
the repo root) together with the bench sources (graftbench/src) into
.bench_build/graftbench/classes with the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars). Rebuilds only when a source file changed.

    python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("graftbench build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not lib or not bench:
        raise SystemExit("graftbench build: library or bench sources missing "
                         f"(found {len(lib)} library, {len(bench)} bench files)")
    return lib + bench


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classpath to run with."""
    srcs = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"graftbench build: no Spark jar directory at {jars}")
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    want = stamp(srcs)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"graftbench build: scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark: compiles the engine (``src/main/scala``)
together with the benchmark driver (``perfbench/scala``) with the Scala
compiler that ships in Spark's jar directory, into ``.bench_build/classes``.
The output is reused while a hash of every source file is unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala")]


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler:
    $SPARK_HOME/jars, else the first beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    sys.exit("build: no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if stale; return the run classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return f"{CLASSES}{os.pathsep}{jars}"
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", jars] + files,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build: scalac failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return f"{CLASSES}{os.pathsep}{jars}"


if __name__ == "__main__":
    print(build())

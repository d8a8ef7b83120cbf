"""Build the benchmark: compile the program's main sources together with the
benchmark code into `.bench_build/classes`.

The Scala compiler and the Spark runtime both come from the Spark
distribution's jar directory, so the build needs neither sbt nor a
dependency download. A digest of every input source is stored beside the
classes; an unchanged tree is not recompiled.

Usage (from the repository root):  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.digest")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"build: no Spark distribution with a Scala compiler (SPARK_HOME={home})")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet=False):
    """Compile when the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    have = open(STAMP).read().strip() if os.path.exists(STAMP) else ""
    if want != have or not os.path.isdir(CLASSES):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        if os.path.exists(STAMP):
            os.remove(STAMP)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
               "-classpath", os.pathsep.join(jars)] + files
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True)
        if out.returncode != 0:
            sys.stderr.write(out.stdout)
            raise SystemExit(f"build: scalac failed with exit code {out.returncode}")
        if not quiet:
            sys.stderr.write(f"build: compiled {len(files)} sources\n")
        with open(STAMP, "w") as fh:
            fh.write(want + "\n")
    return [CLASSES] + jars


if __name__ == "__main__":
    build()

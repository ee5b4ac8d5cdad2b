#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root) and
the benchmark's own sources (`perfbench/src`) into one class directory with
the Scala compiler that ships in the Spark distribution, so the build needs
neither sbt nor a dependency cache. The class directory is reused while a
stamp over every source file, the compiler and the Spark jar list matches.

Usage: python3 perfbench/build.py      (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars (SPARK_HOME, else pyspark)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except (ImportError, ValueError):
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(PROGRAM_SRC) for p in out):
        raise BuildError("no program sources found")
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return (classes dir, spark jars dir)."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == stamp \
            and os.path.isdir(CLASSES):
        return CLASSES, jars
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD_DIR}", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships with Spark, into .bench_build/classes.

A stamp over every source file and the compiler jar skips the compile
when nothing changed. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_home():
    """SPARK_HOME, or the first Spark install on PATH that ships its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    raise BuildError("Spark not found: set SPARK_HOME or put Spark's bin on PATH")


def spark_jars():
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found at {main}")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return srcs


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def ensure_built(log=sys.stderr):
    """Compiles when the sources changed; returns the run classpath."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA_VERSION}.jar", f"scala-library-{SCALA_VERSION}.jar",
        f"scala-reflect-{SCALA_VERSION}.jar")]
    if len(compiler) != 3:
        raise BuildError(f"Scala {SCALA_VERSION} compiler jars not found with Spark")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)

#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own JVM side (`perfbench/src`) with the Scala compiler that
ships with Spark, into `perfbench/.work/build/classes`.

    python3 perfbench/build.py        # from the root of a checkout

A stamp of every source file's path, size and hash skips the compile when
nothing changed. Spark's jars come from `$SPARK_HOME/jars`, or from the
`jars` dir next to the `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(ENGINE_RES, "**"),
                                      recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError(f"engine sources missing under {ENGINE_SRC}")
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    jars = spark_jars()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    # no perf-data file and no temp files outside the work dir
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=BUILD)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, CLASSES, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

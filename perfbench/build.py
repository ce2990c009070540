#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark (`perfbench/src`) with the Scala compiler that ships in the Spark
jars, into `<build dir>/classes`. A build is skipped when the sources have not
changed since the last one (a hash of every source file is stored next to the
classes).

    python3 perfbench/build.py

The build dir is $CARGO_TARGET_DIR, else `.bench_build`, relative to the
checkout root. Spark jars come from $SPARK_HOME/jars, else from the Spark
install whose `spark-submit` is on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: Spark jars not found; set SPARK_HOME")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_into(out, files, classpath):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as a:
        a.write("\n".join(files))
    try:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath, "@" + argfile]
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    finally:
        os.unlink(argfile)


def build():
    """Return the classpath of a current build, building first if needed."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    engine, bench = sources(ENGINE_SRC), sources(BENCH_SRC)
    digest = hashlib.sha256()
    for f in engine + bench:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    base = build_dir()
    classes = os.path.join(base, "classes")
    stamp_file = os.path.join(base, "classes.sha256")
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "engine"), jars])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    os.makedirs(base, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="classes.", dir=base)
    try:
        compile_into(os.path.join(staging, "engine"), engine, jars)
        compile_into(os.path.join(staging, "bench"), bench,
                     os.pathsep.join([os.path.join(staging, "engine"), jars]))
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())

#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships in Spark's jars, into the build directory.

    python3 perfbench/build.py            # prints the runtime classpath

Outputs are keyed by a hash of every source file, so an unchanged
checkout builds once.  The build directory is $CARGO_TARGET_DIR when
set, else .bench_build, relative to the checkout root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first jars/ beside
    a spark-submit on PATH that holds a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise BuildError("no Spark with a Scala compiler among its jars: set SPARK_HOME")


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def scalac(out, classpath, srcs, log):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + srcs
    with open(log, "ab") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}); see {log}")


def ensure_built():
    """Compile if needed; return the runtime classpath."""
    program = sources(PROGRAM_SRC)
    bench = sources(BENCH_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    h = hashlib.sha256()
    for p in program + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    main, perf = os.path.join(out, "main"), os.path.join(out, "bench")
    cp = [main, perf]
    if os.path.isdir(PROGRAM_RES):
        cp.append(PROGRAM_RES)
    cp.append(spark_jars())
    if os.path.exists(os.path.join(out, "done")):
        return os.pathsep.join(cp)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    scalac(main, spark_jars(), program, log)
    scalac(perf, os.pathsep.join([main, spark_jars()]), bench, log)
    open(os.path.join(out, "done"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)

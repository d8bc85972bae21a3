#!/usr/bin/env python3
"""MOB benchmark entry point.

    python3 perfbench/run.py --workload fit_wide --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py, cached per
source hash), generates the seeded inputs in a separate step
(perfbench/gen.py), runs the workload in a fresh JVM, and prints one
JSON result object as the last line of standard output.  Everything it
writes stays under the build directory of the checkout, and the
per-run directory is removed at the end.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("fit_wide", "score_batch", "stream_refit")
HEAP = "3g"
JVM_TIMEOUT_S = 160

# JDK 17 needs these when a SparkSession is created outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, tmp, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", classpath, "graft.perfbench.MobBench"] + main_args)


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "wb") as log:
        # Spark would put its scratch files under SPARK_LOCAL_DIRS instead of
        # the run directory
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    a = ap.parse_args(argv)

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    # the run's own time limit starts after a (first-run) build
    started = time.monotonic()
    run_dir = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
        for d in (data, work, tmp):
            os.makedirs(d)
        gen.generate(a.seed, data, a.scale)
        out = os.path.join(run_dir, "record.json")
        log = os.path.join(run_dir, "jvm.log")
        cmd = jvm_command(classpath, tmp, [a.workload, data, str(a.seconds),
                                           str(a.trace), work, out])
        budget = max(30.0, JVM_TIMEOUT_S - (time.monotonic() - started))
        try:
            code = run_jvm(cmd, log, budget)
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM timed out after {budget:.0f}s\n{tail(log)}",
                  file=sys.stderr)
            return 1
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: JVM exited with {code}\n{tail(log)}", file=sys.stderr)
            return 1
        with open(out) as f:
            rec = json.load(f)
        for o in rec["ops"] + rec["traced_ops"]:
            if not o["ok"]:
                print(f"perfbench: op failed: {o['detail']}", file=sys.stderr)
        print(json.dumps(metrics.result(rec, a.trace == 1)))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Runs one workload on several seeds and prints, per metric, the median
and the quartile spread (Q3 - Q1) / median of the run values, the same
steadiness figure the bounds in BENCHMARK.json are judged against.

    python3 perfbench/spread.py --workload fit_wide --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = str(bench["run_seconds"])
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{k:36s} median {med:12.6g}  spread {spread:.4f}  n={len(vs)}")


if __name__ == "__main__":
    main(sys.argv[1:])

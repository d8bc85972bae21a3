#!/usr/bin/env python3
"""Interleaved A/B of the MOB benchmark between two checkouts.

    python3 tools/perfbench_ab.py PARENT CHANGE --workload fit_wide --seeds 41-50
    python3 tools/perfbench_ab.py PARENT CHANGE --workload score_batch --seeds 41-50 \\
        --seconds 20 --json ab.json

For each seed it runs `perfbench/run.py --workload W --seed S --seconds N`
once in each checkout, alternating which side runs first (A then B for
the first seed, B then A for the next, ...), so that host drift falls on
both sides alike.  Each checkout builds (before any run) and runs its
own benchmark files.  It then prints, per end-to-end metric: each
side's median and quartiles, the relative change of the medians, and
how many seed pairs each side won (ties count for neither).  The metrics and their better
direction come from A's BENCHMARK.json.  `--json` also writes every
run's metrics.  A run that fails is reported and left out of its pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

DEFAULT_METRICS = [{"name": "op_s", "better": "lower"},
                   {"name": "success_rate", "better": "higher"},
                   {"name": "setup_s", "better": "lower"}]


def seed_range(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def end_to_end(checkout):
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            return json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return DEFAULT_METRICS


def run_once(checkout, workload, seed, seconds):
    """One run's metrics {name: value}, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}\n")
        return None
    rec = json.loads(lines[-1])
    return {k: v["value"] for k, v in rec["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summary(runs, metrics, labels):
    """Printable table rows of the per-metric comparison."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        pairs = [(a[name], b[name]) for a, b in runs
                 if a is not None and b is not None and name in a and name in b]
        if not pairs:
            continue
        sa, sb = [p[0] for p in pairs], [p[1] for p in pairs]
        ma, mb = statistics.median(sa), statistics.median(sb)
        (qa1, qa3), (qb1, qb3) = quartiles(sa), quartiles(sb)
        b_wins = sum(1 for a, b in pairs if (b < a if lower else b > a))
        a_wins = sum(1 for a, b in pairs if (a < b if lower else a > b))
        delta = (mb - ma) / ma * 100 if ma else float("nan")
        rows.append(f"{name:>14}  {labels[0]} median {ma:.4g} (q {qa1:.4g}/{qa3:.4g}, "
                    f"IQR {qa3 - qa1:.3g})  {labels[1]} median {mb:.4g} "
                    f"(q {qb1:.4g}/{qb3:.4g})  {delta:+.1f}%  wins {labels[0]} "
                    f"{a_wins} / {labels[1]} {b_wins} of {len(pairs)} pairs "
                    f"({'lower' if lower else 'higher'} is better)")
    return rows


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="first checkout (the parent)")
    ap.add_argument("b", help="second checkout (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 41-50 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--json", help="also write every run's metrics here")
    args = ap.parse_args(argv)
    labels = ("A", "B")
    sides = [os.path.abspath(args.a), os.path.abspath(args.b)]
    # build both sides first, so that no timed run shares the host with a build
    for side in sides:
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=side, check=True,
                       stdout=subprocess.DEVNULL)
    runs = []
    for i, seed in enumerate(args.seeds):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = [None, None]
        for side in order:
            got[side] = run_once(sides[side], args.workload, seed, args.seconds)
            ms = got[side]
            op = f"{ms['op_s']:.4f}" if ms and "op_s" in ms else "failed"
            print(f"seed {seed} {labels[side]} op_s {op}", flush=True)
        runs.append(tuple(got))
    print(f"{args.workload}: A = {sides[0]}, B = {sides[1]}, seeds {args.seeds[0]}.."
          f"{args.seeds[-1]}, --seconds {args.seconds:g}")
    for row in summary(runs, end_to_end(sides[0]), labels):
        print(row)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "a": sides[0], "b": sides[1],
                       "seeds": args.seeds, "runs": [list(r) for r in runs]}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

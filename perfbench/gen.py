#!/usr/bin/env python3
"""Seeded input generator for the MOB benchmark.

Writes the parquet inputs of every workload for one seed, plus a
manifest (per-feature distinct count and missing share, and a digest of
the generated values).  The benchmark JVM only reads these files.

    python3 perfbench/gen.py --seed 7 --out DIR [--scale 1.0]

One synthetic "credit application" schema: a 0/1 `target` and 12
numeric features in three cardinality tiers.  The target is logistic in
all 12 features, so every variable passes the default IV >= 0.02 filter.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMT = [f"amt_{i}" for i in range(1, 5)]   # near-unique amounts (0.01 grid)
MID = [f"mid_{i}" for i in range(1, 5)]   # ~1k distinct values, 5% NaN
LOW = [f"low_{i}" for i in range(1, 5)]   # 20 distinct values
FEATURES = AMT + MID + LOW

# Logistic weights on the standardized features; alternating signs give
# both ascending and descending monotone bins.  Fixed across seeds, so
# the seed changes the rows and never the shape of the workload.
WEIGHTS = np.array([0.50, -0.40, 0.30, -0.35,
                    0.45, -0.30, 0.40, -0.50,
                    0.35, -0.45, 0.30, -0.40])
INTERCEPT = -1.0
MID_MISSING = 0.05
MID_MISSING_Z = 1.0     # a missing mid value raises risk like z = +1

# Rows at scale 1.0, and the part-file count of each table.
TABLES = {
    "fit": (100_000, 8),      # fit_wide, and the model fit of score_batch
    "score": (40_000, 8),     # score_batch's scoring batch
    "stream": (24_000, 4),    # stream_refit; one part file per trigger
}


def make_columns(seed, table_id, n):
    """All columns of one table as numpy arrays, in schema order."""
    rng = np.random.default_rng([seed, table_id])
    amt = np.round(rng.uniform(0.0, 100_000.0, (4, n)), 2)
    mid = rng.integers(0, 1000, (4, n)).astype(np.float64)
    mid_missing = rng.random((4, n)) < MID_MISSING
    low = rng.integers(0, 20, (4, n)).astype(np.float64)
    z = np.concatenate([
        (amt - 50_000.0) / 28_867.5,
        np.where(mid_missing, MID_MISSING_Z, (mid - 499.5) / 288.7),
        (low - 9.5) / 5.766,
    ])
    logit = INTERCEPT + WEIGHTS @ z
    target = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int32)
    mid[mid_missing] = np.nan
    cols = {"target": target}
    for name, row in zip(FEATURES, np.concatenate([amt, mid, low])):
        cols[name] = row
    return cols


def write_table(cols, path, parts):
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    n = table.num_rows
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{p:03d}.parquet"),
                       compression="snappy")


def profile(cols):
    out = {}
    for name in FEATURES:
        v = cols[name]
        missing = np.isnan(v)
        out[name] = {"distinct": int(np.unique(v[~missing]).size),
                     "missing_share": float(missing.mean())}
    return out


def generate(seed, out_dir, scale=1.0):
    """Write every table for `seed` under `out_dir`; return the manifest."""
    digest = hashlib.sha256()
    manifest = {"seed": seed, "scale": scale, "features": FEATURES,
                "tables": {}}
    for table_id, (name, (rows, parts)) in enumerate(TABLES.items()):
        n = max(parts * 50, int(rows * scale))
        cols = make_columns(seed, table_id, n)
        for c in ["target"] + FEATURES:
            digest.update(c.encode())
            digest.update(np.ascontiguousarray(cols[c]).tobytes())
        write_table(cols, os.path.join(out_dir, name), parts)
        manifest["tables"][name] = {
            "rows": n, "files": parts,
            "target_rate": float(cols["target"].mean()),
            "features": profile(cols)}
    manifest["digest"] = digest.hexdigest()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args(argv)
    m = generate(a.seed, a.out, a.scale)
    print(m["digest"])


if __name__ == "__main__":
    main(sys.argv[1:])

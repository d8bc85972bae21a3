#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs (e.g. a parent and a change).

    python3 tools/verify_diff.py PARENT_OUT CHANGE_OUT

Checks, and prints every mismatch:
  * `oracle_sql.json`: the same set of query names, and the same SQL
    string for each name;
  * each query's result parquet dir: the md5 of its canonical CSV, with
    columns sorted by name, floats printed at `%.17g`, and rows sorted.

Exits 0 when nothing differs, 1 otherwise.  A query dir missing on one
side (a query that failed there) is a mismatch.
"""
import csv
import hashlib
import io
import json
import math
import os
import sys

import pyarrow.parquet as pq


def cell(v):
    """A value's canonical text: floats at %.17g, nested values recursed."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else "%.17g" % v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ";".join(f"{k}={cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ";".join(cell(x) for x in v) + "]"
    return str(v)


def result_md5(path):
    """md5 of the column- and row-sorted CSV of one query's parquet dir."""
    table = pq.read_table(path)
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    lines = []
    for r in rows:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerow(cell(r[c]) for c in cols)
        lines.append(buf.getvalue())
    lines.sort()
    h = hashlib.md5(",".join(cols).encode() + b"\n")
    for line in lines:
        h.update(line.encode())
    return h.hexdigest(), len(rows)


def query_dirs(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    mismatches = 0

    def report(msg):
        nonlocal mismatches
        mismatches += 1
        print("MISMATCH " + msg)

    oa = json.load(open(os.path.join(a_dir, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b_dir, "oracle_sql.json")))
    for k in sorted(set(oa) - set(ob)):
        report(f"oracle_sql.json: {k} only in {a_dir}")
    for k in sorted(set(ob) - set(oa)):
        report(f"oracle_sql.json: {k} only in {b_dir}")
    for k in sorted(set(oa) & set(ob)):
        if oa[k] != ob[k]:
            report(f"oracle_sql.json: {k} SQL differs")

    names = sorted(query_dirs(a_dir) | query_dirs(b_dir) | set(oa) | set(ob))
    same = 0
    for name in names:
        pa, pb = os.path.join(a_dir, name), os.path.join(b_dir, name)
        if not (os.path.isdir(pa) and os.path.isdir(pb)):
            missing = a_dir if not os.path.isdir(pa) else b_dir
            report(f"{name}: no result in {missing}")
            continue
        (ha, na), (hb, nb) = result_md5(pa), result_md5(pb)
        if ha != hb:
            report(f"{name}: md5 {ha} ({na} rows) vs {hb} ({nb} rows)")
        else:
            same += 1
    print(f"{same}/{len(names)} query results identical; "
          f"{len(set(oa) & set(ob))} oracle names in both; {mismatches} mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/verify_diff.py <dirA> <dirB>

Each dump holds one directory of parquet parts per query plus
oracle_sql.json. A query differs when it is present on one side only, or
when its rows differ: column names, row count, or any row at the same
position (row order counts; parts are read in file-name order; values
compare by repr, so NaN matches NaN). The oracle SQL is compared key by
key as exact text. Every difference is printed; the exit status is 1 if
there is any, else 0.
"""
import difflib
import glob
import json
import os
import sys

import pyarrow.parquet as pq


def rows(qdir):
    parts = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not parts:
        return [], []
    tables = [pq.read_table(p) for p in parts]
    names = tables[0].column_names
    out = []
    for t in tables:
        out.extend(t.select(names).to_pylist())
    return names, out


def query_dirs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def diff_rows(a, b):
    qa, qb = query_dirs(a), query_dirs(b)
    ndiff = 0
    for n in sorted(qa ^ qb):
        side = a if n in qa else b
        print(f"ROWS {n}: only in {side}")
        ndiff += 1
    for n in sorted(qa & qb):
        ca, ra = rows(os.path.join(a, n))
        cb, rb = rows(os.path.join(b, n))
        if ca != cb:
            print(f"ROWS {n}: columns {ca} != {cb}")
        elif len(ra) != len(rb):
            print(f"ROWS {n}: {len(ra)} rows != {len(rb)} rows")
        else:
            # repr, not ==: NaN equals itself there, and -0.0 differs from 0.0
            bad = [i for i, (x, y) in enumerate(zip(ra, rb))
                   if repr(x) != repr(y)]
            if not bad:
                continue
            i = bad[0]
            print(f"ROWS {n}: {len(bad)} of {len(ra)} rows differ; first at "
                  f"{i}:\n  A={ra[i]}\n  B={rb[i]}")
        ndiff += 1
    print(f"== rows: {len(qa & qb)} common queries, {ndiff} differ ==")
    return ndiff


def diff_oracle(a, b):
    oa = json.load(open(os.path.join(a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b, "oracle_sql.json")))
    ndiff = 0
    for k in sorted(set(oa) | set(ob)):
        if oa.get(k) == ob.get(k):
            continue
        ndiff += 1
        if k not in oa or k not in ob:
            print(f"ORACLE {k}: only in {a if k in oa else b}")
            continue
        print(f"ORACLE {k}:")
        for line in difflib.unified_diff(
                oa[k].splitlines(), ob[k].splitlines(), "A", "B", n=0,
                lineterm=""):
            print("  " + line)
    print(f"== oracle_sql.json: {len(set(oa) | set(ob))} keys, "
          f"{ndiff} differ ==")
    return ndiff


def main(a, b):
    n = diff_rows(a, b) + diff_oracle(a, b)
    return 1 if n else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

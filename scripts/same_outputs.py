#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 scripts/same_outputs.py <verifyOutA> <verifyOutB>

For every query dir (<outDir>/<query>/*.parquet) on either side it prints
the md5 of the output as DuckDB reads it: columns sorted by name, rows in
emitted order, values canonicalized as scripts/check.py does. Exit 1 when
any query's hash differs or the query is missing on one side.
"""
import hashlib
import os
import sys

import duckdb

from check import fetch


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def digest(con, out_dir, name):
    cols, rows = fetch(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
    h = hashlib.md5("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\n" + "\x1f".join(r).encode())
    return h.hexdigest()


def main(a, b):
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    n_same = n_bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"MISSING {name}: only in {a if name in qa else b}")
            n_bad += 1
            continue
        ha, hb = digest(con, a, name), digest(con, b, name)
        if ha == hb:
            print(f"SAME {name} {ha}")
            n_same += 1
        else:
            print(f"DIFF {name} {ha} {hb}")
            n_bad += 1
    print(f"== {n_same} same / {n_bad} differ or missing ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Value-level diff of two Verify dump directories (A/B harness for
code or config changes that must not move a value): for every query present in
both dumps, load the parquet, sort columns by name and rows by value,
and compare exactly. Prints one line per mismatch and a summary.

Usage: python3 tools/dump_diff.py <dirA> <dirB>
Dev tooling only — not part of the shipped engine.
"""
import math
import os
import sys

import duckdb


def norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def rows(con, d, name):
    df = con.sql(
        f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')").df()
    df = df[sorted(df.columns)]
    return list(df.columns), sorted(
        [tuple(norm(v) for v in r) for r in df.itertuples(index=False)],
        key=lambda r: tuple(str(x) for x in r))


def main(a, b):
    con = duckdb.connect()
    names = sorted(set(os.listdir(a)) & set(os.listdir(b)))
    names = [n for n in names if os.path.isdir(os.path.join(a, n))]
    n_ok = n_bad = 0
    for name in names:
        ca, ra = rows(con, a, name)
        cb, rb = rows(con, b, name)
        if ca != cb:
            print(f"DIFF {name}: columns {ca} vs {cb}")
            n_bad += 1
        elif ra != rb:
            bad = [(x, y) for x, y in zip(ra, rb) if x != y]
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows, "
                  f"{len(bad)} differing; first: {bad[0] if bad else '(len)'}")
            n_bad += 1
        else:
            n_ok += 1
    print(f"== {n_ok} identical / {n_bad} differ (of {len(names)}) ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

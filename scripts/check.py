#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tooling only; the
shipped library is pure Scala). Usage:

    python3 scripts/check.py <sfDir> <verifyOutDir>
    python3 scripts/check.py <sfDir> <verifyOutDir> --baseline <otherOutDir>

Reads each <verifyOutDir>/<name> parquet dump written by graft.Verify,
runs the matching oracle SQL from oracle_sql.json in DuckDB over the same
source tables, sorts columns by name, and diffs values both ordered and as
sorted multisets.

With --baseline, each query dump is diffed against the same query's dump
in a second graft.Verify output dir instead (same normalization, same
ordered and sorted-multiset diffs), so rows-only queries are compared
too; <sfDir> is not read. A query dumped in one dir and missing from the
other fails: Verify logs a failing query and carries on without a dump."""
import argparse
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    return str(v)


def diff(name, got, want, unordered, other="oracle"):
    """Print one query's verdict (PASS / WARN / FAIL); True unless FAIL."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"FAIL {name}: columns spark={gc} {other}={wc}")
        return False
    g = [tuple(norm(v) for v in row) for row in got[gc].itertuples(index=False)]
    w = [tuple(norm(v) for v in row) for row in want[wc].itertuples(index=False)]
    if g == w:
        print(f"PASS {name} ({len(g)} rows)")
        return True
    if sorted(g) == sorted(w):
        # every query/oracle pair carries a total ORDER BY, so an
        # order mismatch is a real regression unless explicitly waived
        if unordered:
            print(f"WARN {name}: rows match only after sorting ({len(g)} rows)")
            return True
        print(f"FAIL {name}: ORDER mismatch ({len(g)} rows; "
              "values equal as multisets — pass --unordered to waive)")
        return False
    print(f"FAIL {name}: spark {len(g)} rows vs {other} {len(w)} rows")
    only_g = [r for r in g if r not in set(w)][:3]
    only_w = [r for r in w if r not in set(g)][:3]
    print(f"  cols {gc}")
    print(f"  only-spark: {only_g}")
    print(f"  only-{other}: {only_w}")
    return False


def dumps(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}")}


def read(con, out_dir, name):
    return con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()


def main_baseline(out_dir, base_dir, unordered=False):
    con = duckdb.connect()
    got, base = dumps(out_dir), dumps(base_dir)
    n_pass = n_fail = 0
    for name in sorted(got | base):
        if name not in got or name not in base:
            where = out_dir if name not in got else base_dir
            print(f"FAIL {name}: no dump in {where}")
            n_fail += 1
            continue
        try:
            ok = diff(name, read(con, out_dir, name), read(con, base_dir, name),
                      unordered, other="baseline")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            ok = False
        n_pass += ok
        n_fail += not ok
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


def main(sf_dir, out_dir, unordered=False):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            got = read(con, out_dir, name)
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if diff(name, got, want, unordered):
            n_pass += 1
        else:
            n_fail += 1
    rows_only = sorted(d for d in dumps(out_dir) if d not in oracles)
    for name in rows_only:
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetchone()[0]
            tag = "ROWS" if n > 0 else "EMPTY"
            print(f"{tag} {name} ({n} rows, no oracle)")
            if n == 0:
                n_fail += 1
        except Exception as e:
            print(f"FAIL {name}: unreadable dump: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("sf_dir")
    p.add_argument("out_dir")
    p.add_argument("--unordered", action="store_true",
                   help="waive ORDER BY mismatches (multiset-equal rows)")
    p.add_argument("--baseline", metavar="OTHER_OUT_DIR",
                   help="diff against a second graft.Verify dump, not DuckDB")
    a = p.parse_args()
    if a.baseline:
        sys.exit(main_baseline(a.out_dir, a.baseline, a.unordered))
    sys.exit(main(a.sf_dir, a.out_dir, a.unordered))

#!/usr/bin/env python3
"""DEV-ONLY local emulation of the driver's correctness gate.

Not part of the library (the Scala engine has no python dependency) —
this just reruns what the driver does so failures surface before a
round ends: load each Verify output parquet, run the corresponding
oracle SQL in DuckDB over the same test tables, and compare rows,
schema (column names) and values exactly after sorting.

Every key in Verify's oracle_sql.json is checked (or only the named
ones): a key with no output directory — its Verify run threw — prints
MISSING and counts as a failure. Output directories with no oracle SQL
get a rows-only line.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [name ...]
"""
import json, math, os, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return repr(v)


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_missing = 0
    written = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(set(oracle) | written | only):
        if only and name not in only:
            continue
        d = os.path.join(out_dir, name)
        if name not in written:
            print(f"{name}: MISSING (no output directory)")
            n_missing += 1
            n_fail += 1
            continue
        spark = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        if name not in oracle:
            print(f"{name}: rows={len(spark)} (rows-only, no oracle)")
            continue
        try:
            ora = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        ok_rows = len(spark) == len(ora)
        sc, oc = sorted(spark.columns), sorted(ora.columns)
        ok_schema = sc == oc
        ok_hash = False
        if ok_rows and ok_schema:
            a = sorted(tuple(norm(v) for v in row) for row in spark[sc].itertuples(index=False))
            b = sorted(tuple(norm(v) for v in row) for row in ora[oc].itertuples(index=False))
            ok_hash = a == b
            if not ok_hash:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"{name}: VALUE DIFF (first 3): {diff}")
        status = "PASS" if (ok_rows and ok_schema and ok_hash) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        print(f"{name}: {status} rows={len(spark)}/{len(ora)} schema={ok_schema} ({sc if not ok_schema else ''}{oc if not ok_schema else ''})")
    print(f"== {n_pass} pass, {n_fail} fail ({n_missing} missing)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only — the
Scala library has no Python dependency). Runs graft.Verify output against
DuckDB executing each query's `oracleSql` (the `Query` entries of
`SparkEntry.queries`, dumped by Verify to oracle_sql.json) on the same
parquet tables, compares orderless with columns sorted by name. A
SPARK_GRAFT_ONLY Verify run dumps only its selected rows' SQL.

Usage: python3 tools/parity.py [sf_dir] [verify_out_dir]
(run `sbt "runMain graft.Verify <sf_dir> <out_dir>"` first)
"""
import sys, json, glob, os
import duckdb, pandas as pd, numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"MISSING  {name}: no spark output dir"); fails += 1; continue
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df()
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"ERROR    {name}: {e}"); fails += 1; continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"SCHEMA   {name}: spark={list(got.columns)} oracle={list(exp.columns)}"); fails += 1; continue
    if len(got) != len(exp):
        print(f"ROWS     {name}: spark={len(got)} oracle={len(exp)}"); fails += 1; continue
    key = list(got.columns)
    got = got.sort_values(key, na_position="first").reset_index(drop=True)
    exp = exp.sort_values(key, na_position="first").reset_index(drop=True)
    ok = True
    for c in key:
        a, b = got[c], exp[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            same = ((a.isna() & b.isna()) | (a == b)).all()
        else:
            same = a.astype(object).where(pd.notna(a), None).equals(
                   b.astype(object).where(pd.notna(b), None))
        if not same:
            diff = (a != b) & ~(a.isna() & b.isna())
            i = diff[diff].index[0] if diff.any() else 0
            print(f"VALUE    {name}.{c}: first diff row {i}: spark={a[i]!r} oracle={b[i]!r}")
            ok = False
    if ok: print(f"OK       {name} ({len(got)} rows)")
    else: fails += 1
sys.exit(1 if fails else 0)

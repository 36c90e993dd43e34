#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare: for each query dir in
outDir, run the oracle SQL against the sf parquet tables and diff against the
Spark result (columns sorted by name, rows sorted by all columns). A query
dir without oracle SQL is a FAIL; exits 1 when any FAIL remains."""
import json, sys, glob
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort",
                        na_position="first")
    return df

def norm_cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return tuple(norm_cell(x) for x in v)
    return v

ok = fail = 0
for qdir in sorted(glob.glob(f"{out_dir}/q*")):
    name = qdir.split("/")[-1]
    spark_df = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf()
    if name not in oracle:
        print(f"FAIL {name}: no oracle SQL ({len(spark_df)} rows)")
        fail += 1
        continue
    try:
        oracle_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fail += 1
        continue
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        print(f"FAIL {name}: columns spark={list(a.columns)} oracle={list(b.columns)}")
        fail += 1
        continue
    if len(a) != len(b):
        print(f"FAIL {name}: rows spark={len(a)} oracle={len(b)}")
        fail += 1
        continue
    av = [[norm_cell(v) for v in row] for row in a.itertuples(index=False)]
    bv = [[norm_cell(v) for v in row] for row in b.itertuples(index=False)]
    av.sort(key=repr); bv.sort(key=repr)
    if av != bv:
        bad = [(x, y) for x, y in zip(av, bv) if x != y][:3]
        print(f"FAIL {name}: value mismatch, first diffs: {bad}")
        fail += 1
        continue
    # dtype note (schema check may be strict in the driver)
    dta, dtb = list(a.dtypes), list(b.dtypes)
    note = "" if dta == dtb else f"  [dtype diff: {[(c, str(x), str(y)) for c, x, y in zip(a.columns, dta, dtb) if x != y]}]"
    print(f"ok   {name} ({len(a)} rows){note}")
    ok += 1

print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)

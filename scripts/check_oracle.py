#!/usr/bin/env python3
"""The gate's correctness compare: for each query result parquet under
OUT_DIR, run the oracle SQL in DuckDB over the same tables and compare
(columns sorted by name, values hashed row-wise after sorting). A result
with no oracle, an oracle with no result (the row failed in graft.Verify)
and a match on 0 rows all count as failures.
Usage: check_oracle.py /tmp/verify_out perfbench/data
"""
import json, sys, glob, os
import duckdb
import pandas as pd

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.astype(str)

def dtypes_of(df):
    return {c: str(t) for c, t in df.dtypes.items()}

fails = 0
results = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
for name in sorted(results | set(oracle)):
    p = os.path.join(out_dir, name)
    if name not in results:
        print(f"{name:28s} NO RESULT (the query failed in Verify)")
        fails += 1
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in glob.glob(p + "/*.parquet")]) \
        if glob.glob(p + "/*.parquet") else pd.DataFrame()
    if name not in oracle:
        print(f"{name:28s} NO ORACLE rows={len(spark_df)}")
        fails += 1
        continue
    try:
        duck_df = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name:28s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    da, db = dtypes_of(spark_df), dtypes_of(duck_df)
    if da != db and set(da) == set(db):
        diffs = {c: (da[c], db[c]) for c in da if da[c] != db[c]}
        print(f"{name:28s} DTYPE MISMATCH {diffs}")
        fails += 1
        continue
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"{name:28s} COLUMN MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
        fails += 1
    elif len(a) != len(b):
        print(f"{name:28s} ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
        fails += 1
    elif not a.equals(b):
        diff = (a != b).any(axis=1)
        print(f"{name:28s} VALUE MISMATCH on {diff.sum()} rows; first:")
        idx = diff[diff].index[:3]
        for i in idx:
            print("  spark:", dict(a.loc[i]))
            print("  duck :", dict(b.loc[i]))
        fails += 1
    elif len(a) == 0:
        print(f"{name:28s} EMPTY MATCH: 0 rows on both sides")
        fails += 1
    else:
        print(f"{name:28s} OK rows={len(a)}")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)

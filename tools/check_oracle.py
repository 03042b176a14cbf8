#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: check_oracle.py <verifyOutDir> <sfDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB over the
parquet tables in <sfDir>, loads the Spark-written parquet result from
<verifyOutDir>/<name>/, sorts columns by name and rows by all columns, and
compares values exactly. Exit 1 on any mismatch.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(name, duck, spark):
    if sorted(duck.columns) != sorted(spark.columns):
        return f"columns differ: oracle={sorted(duck.columns)} spark={sorted(spark.columns)}"
    if len(duck) != len(spark):
        return f"row count differs: oracle={len(duck)} spark={len(spark)}"
    d, s = canon(duck), canon(spark)
    for c in d.columns:
        dv, sv = d[c].to_numpy(), s[c].to_numpy()
        if dv.dtype.kind == "f" or sv.dtype.kind == "f":
            if not np.array_equal(dv.astype("float64"), sv.astype("float64"), equal_nan=True):
                bad = np.where(dv.astype("float64") != sv.astype("float64"))[0][:3]
                return f"col {c} float mismatch at rows {bad.tolist()}: oracle={dv[bad]} spark={sv[bad]}"
        else:
            if not (dv.astype(object) == sv.astype(object)).all():
                bad = np.where(dv.astype(object) != sv.astype(object))[0][:3]
                return f"col {c} mismatch at rows {bad.tolist()}: oracle={dv[bad]} spark={sv[bad]}"
    return None


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # a view only per table present (a generated corpus may hold just
    # documents and embeddings); a query over a missing table then fails
    # by its name as an ORACLE SQL ERROR
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"{name}: MISSING spark output")
            failures += 1
            continue
        try:
            duck = con.execute(oracle[name]).fetch_df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        spark = con.execute(
            "SELECT * FROM read_parquet(?)", [files]).fetch_df()
        err = compare(name, duck, spark)
        if err:
            print(f"{name}: MISMATCH — {err}")
            failures += 1
        else:
            print(f"{name}: MATCH ({len(duck)} rows)")
    print(f"== {len(oracle) - failures}/{len(oracle)} matched ==")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: compare.py <sfDir> <verifyOutDir>
Reads <verifyOutDir>/oracle_sql.json, registers each parquet table from
<sfDir> as a DuckDB view, runs each oracle, and compares row-sets
(columns sorted by name, rows sorted) against the Spark parquet dumps.
Both frames must also sort on all their columns with pandas `sort_values`,
which hashes every value: an output column that cannot be hashed (e.g. an
array) fails here, as it fails any compare that canonicalizes that way.
"""
import json, sys, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
fails = 0
for q, sql in sorted(oracle.items()):
    spark_dir = os.path.join(outdir, q)
    if not os.path.isdir(spark_dir):
        print(f"{q}: MISSING spark output"); fails += 1; continue
    try:
        got = con.execute(
            f"SELECT * FROM parquet_scan('{spark_dir}/*.parquet')").fetchdf()
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{q}: ERROR {e}"); fails += 1; continue
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        print(f"{q}: SCHEMA MISMATCH {list(got.columns)} vs {list(exp.columns)}")
        fails += 1; continue
    try:
        for df in (got, exp):
            df.sort_values(list(df.columns))
    except Exception as e:
        print(f"{q}: UNSORTABLE {type(e).__name__}: {e}"); fails += 1; continue
    gs = sorted(map(repr, got.itertuples(index=False, name=None)))
    es = sorted(map(repr, exp.itertuples(index=False, name=None)))
    if len(gs) != len(es):
        print(f"{q}: ROWS {len(gs)} vs {len(es)}")
        onlyg = sorted(set(gs) - set(es))[:3]
        onlye = sorted(set(es) - set(gs))[:3]
        print(f"  only-spark: {onlyg}\n  only-oracle: {onlye}")
        fails += 1
    elif gs != es:
        diff = [(a, b) for a, b in zip(gs, es) if a != b][:3]
        print(f"{q}: VALUE MISMATCH e.g. {diff}")
        fails += 1
    else:
        print(f"{q}: OK ({len(gs)} rows)")
sys.exit(1 if fails else 0)

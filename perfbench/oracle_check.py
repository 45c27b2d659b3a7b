#!/usr/bin/env python3
"""Check a recorded query battery against the engine's DuckDB oracle SQL.

    python3 perfbench/oracle_check.py <work dir of a --record-digests --keep-work run>

Registers the generated tables (<work>/sf/*.parquet) as DuckDB views, runs
each oracle_sql.json entry and compares it with the rows the engine wrote
(<work>/verify/<query>), with the comparison of tools/oracle_check.py:
columns sorted by name, rows stringified and sorted. Exits non-zero unless
every oracled query is OK.
"""
import glob
import json
import os
import sys

import duckdb

work = sys.argv[1]
con = duckdb.connect()
for p in glob.glob(os.path.join(work, "sf", "*.parquet")):
    t = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
verify = os.path.join(work, "verify")
oracles = json.load(open(os.path.join(verify, "oracle_sql.json")))
bad = 0
for name in sorted(os.listdir(verify)):
    d = os.path.join(verify, name)
    if not os.path.isdir(d):
        continue
    spark = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf()
    if name not in oracles:
        print(f"{name}: no_oracle rows={len(spark)}")
        continue
    ora = con.execute(oracles[name]).fetchdf()
    sc, oc = sorted(spark.columns), sorted(ora.columns)
    a = sorted(tuple(str(x) for x in row) for row in spark[sc].itertuples(index=False))
    b = sorted(tuple(str(x) for x in row) for row in ora[oc].itertuples(index=False))
    ok = sc == oc and a == b
    bad += not ok
    print(f"{name}: {'OK' if ok else 'MISMATCH'} rows={len(a)} oracle_rows={len(b)}")
sys.exit(1 if bad else 0)

#!/usr/bin/env python3
"""Replicates the driver's DuckDB correctness gate against a Verify dump.

Usage: python3 tools/oracle_check.py [sf_dir] [verify_out]
Compares rows/schema/value-hash for every query in oracle_sql.json; a query
with no output directory counts as FAIL. Prints one line per query.
"""
import sys, json, glob
import duckdb
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

sqls = json.load(open(f'{out}/oracle_sql.json'))
dirs = {d.rstrip('/').split('/')[-1]: d for d in glob.glob(f'{out}/*/')}
fails = 0
for qname in sorted(set(dirs) - set(sqls)):
    print(f"{qname:24s} no_oracle")
for qname in sorted(sqls):
    if qname not in dirs:
        fails += 1
        print(f"{qname:24s} no output  FAIL")
        continue
    name = dirs[qname]
    got = duckdb.sql(f"SELECT * FROM read_parquet('{name}*.parquet')").df()
    try:
        exp = con.sql(sqls[qname]).df()
    except Exception as e:
        print(f"{qname:24s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    ok_rows = len(got) == len(exp)
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    ok_schema = gcols == ecols
    ok_hash = False
    if ok_rows and ok_schema:
        g = got[gcols].sort_values(gcols).reset_index(drop=True)
        e = exp[ecols].sort_values(ecols).reset_index(drop=True)
        # normalize dtypes like the driver hash does (string render)
        ok_hash = g.astype(str).equals(e.astype(str))
    status = 'PASS' if (ok_rows and ok_schema and ok_hash) else 'FAIL'
    if status == 'FAIL':
        fails += 1
        print(f"{qname:24s} rows={len(got)}/{len(exp)} schema={ok_schema} hash={ok_hash}  FAIL")
        if ok_rows and ok_schema:
            g = got[gcols].sort_values(gcols).reset_index(drop=True)
            e = exp[ecols].sort_values(ecols).reset_index(drop=True)
            diff = (g.astype(str) != e.astype(str)).any(axis=1)
            print("  spark:", g[diff].head(3).to_dict('records'))
            print("  oracle:", e[diff].head(3).to_dict('records'))
        elif ok_schema is False:
            print(f"  spark cols: {gcols}\n  oracle cols: {ecols}")
    else:
        print(f"{qname:24s} rows={len(got):6d}  PASS")
print(f"\n{'ALL PASS' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Emulates the driver's CORRECTNESS check: runs graft.Verify's dumped
oracle SQL in DuckDB over the testdata tables and compares row sets
(sorted rows x sorted columns, stringified) against the Spark parquet
outputs. A dumped query without an oracle, or an oracle without a dumped
query (a query that failed to run), fails the check.
Usage: compare_oracles.py <verify_out_dir> [sf_dir]"""
import duckdb, json, os, sys

out = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
sql = json.load(open(f'{out}/oracle_sql.json'))
con = duckdb.connect()
for tbl in ['region','nation','customer','supplier','part','orders',
            'lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf}/{tbl}.parquet'")
dumped = {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}
bad = 0
for q in sorted(dumped - sql.keys()):
    print(f"{q:35s} NO ORACLE")
    bad += 1
for q in sorted(sql.keys() - dumped):
    print(f"{q:35s} NOT DUMPED")
    bad += 1
for q, stmt in sorted(sql.items()):
    if q not in dumped:
        continue
    try:
        spark = con.sql(f"SELECT * FROM '{out}/{q}/*.parquet'").df()
        oracle = con.sql(stmt).df()
        cols = sorted(spark.columns)
        s = spark.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
        o = oracle.reindex(sorted(oracle.columns), axis=1)
        o = o.sort_values(sorted(o.columns)).reset_index(drop=True)
        ok = (s.shape == o.shape and list(s.columns) == list(o.columns)
              and (s.astype(str).values == o.astype(str).values).all())
        print(f"{q:35s} rows={len(s):5d}/{len(o):5d} "
              f"{'MATCH' if ok else 'MISMATCH'}")
        if not ok: bad += 1
    except Exception as e:
        print(f"{q:35s} ERR {e}")
        bad += 1
print('ALL MATCH' if bad == 0 else f'{bad} MISMATCHES')
sys.exit(1 if bad else 0)

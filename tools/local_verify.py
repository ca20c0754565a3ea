#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query result
parquet dumped by graft.Verify, run the corresponding oracle SQL in DuckDB
over the same fixture tables and compare values exactly (columns sorted by
name, rows compared in order and as multisets).

When the dump carries Verify's `_report.json`, only the queries it lists
as swept are checked, so a restricted `graft.Verify ... <query>` dump
exits 0 when those queries pass.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [query ...]
"""
import json, sys, glob, os
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
report = f"{outdir}/_report.json"
swept = set(json.load(open(report))) if os.path.exists(report) else set(oracle)

def norm(v):
    if isinstance(v, float):
        import math
        if math.isnan(v):
            return "NaN"
        # driver-style value hash would stringify; normalize -0.0 and ints
        if v == int(v) and abs(v) < 1e15:
            v = float(int(v))
        return repr(v)
    return repr(v)

fails = 0
for name in sorted(oracle):
    if name not in swept or (only and name not in only):
        continue
    res_dir = f"{outdir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no result parquet")
        fails += 1
        continue
    got = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fails += 1
        continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"FAIL {name}: columns {gcols} vs {ecols}")
        fails += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
        fails += 1
        continue
    g = got[gcols].map(norm)
    e = exp[ecols].map(norm)
    # order-sensitive first; fall back to multiset compare
    if g.values.tolist() == e.values.tolist():
        print(f"PASS {name} ({len(got)} rows)")
    elif sorted(map(tuple, g.values.tolist())) == sorted(map(tuple, e.values.tolist())):
        print(f"PASS* {name} ({len(got)} rows, order differs)")
    else:
        gl, el = g.values.tolist(), e.values.tolist()
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(gl, el)) if a != b][:3]
        print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
        fails += 1

sys.exit(1 if fails else 0)

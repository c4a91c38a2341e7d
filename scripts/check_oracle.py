#!/usr/bin/env python3
"""Local pre-check mimicking the driver's DuckDB oracle compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB against the sfDir parquet tables,
and compares: row count, column names, and values (columns sorted by name).
"""
import json, sys, math
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.9g}"
    return str(v)

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            print(f"FAIL {name}: columns {gcols} != {wcols}"); fails += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); fails += 1; continue
        # the driver's hash sees dtype-level differences (e.g. DuckDB
        # HUGEINT sums → pandas float64 vs Spark int64), so flag them
        kinds = [(c, got[c].dtype.kind, want[c].dtype.kind) for c in gcols
                 if got[c].dtype.kind != want[c].dtype.kind]
        if kinds:
            print(f"FAIL {name}: dtype kind mismatch {kinds}"); fails += 1; continue
        g = got[gcols].map(norm).values.tolist()
        w = want[wcols].map(norm).values.tolist()
        # driver may compare ordered; check both ordered and sorted
        if g == w:
            print(f"OK   {name} ({len(got)} rows)")
        elif sorted(map(tuple, g)) == sorted(map(tuple, w)):
            print(f"OK~  {name} ({len(got)} rows, order differs)")
        else:
            bad = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"FAIL {name}: value mismatch, e.g. {bad}"); fails += 1
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}"); fails += 1

print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)

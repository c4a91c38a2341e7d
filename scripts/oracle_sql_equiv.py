#!/usr/bin/env python3
"""Check that two oracle_sql.json files ask for the same results.

Usage: python3 scripts/oracle_sql_equiv.py <before.json> <after.json> <sfDir>

The files are what graft.Verify writes (one SQL string per query name),
typically from the commit before a refactor and from the refactor itself.
Every entry is reported as one of:

  SAME  the two SQL strings are byte-identical;
  ROWS  the strings differ, but both run in DuckDB over the sfDir parquet
        tables and return the same column names, the same column types and
        the same rows in the same order;
  DIFF  anything else (different columns, types or rows, an error, or a
        name present in only one file).

Exits 1 when any entry is DIFF.
"""
import json
import math
import sys

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def run(con, sql):
    rel = con.sql(sql)
    return rel.columns, [str(t) for t in rel.types], rel.fetchall()


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


def compare(con, a, b):
    """None when the two queries return the same result, else a reason."""
    ca, ta, ra = run(con, a)
    cb, tb, rb = run(con, b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if ta != tb:
        return f"types {ta} != {tb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} != {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if len(x) != len(y) or not all(map(same_value, x, y)):
            return f"row {i}: {x} != {y}"
    return None


def main():
    before_path, after_path, sf_dir = sys.argv[1:4]
    before = json.load(open(before_path))
    after = json.load(open(after_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    same, rows, diff = [], [], []
    for name in sorted(before.keys() | after.keys()):
        if name not in before or name not in after:
            only = "before" if name in before else "after"
            diff.append(name)
            print(f"DIFF {name}: only in the {only} file")
        elif before[name] == after[name]:
            same.append(name)
            print(f"SAME {name}")
        else:
            try:
                reason = compare(con, before[name], after[name])
            except Exception as e:  # a query that fails is a difference
                reason = f"{type(e).__name__}: {e}"
            if reason is None:
                rows.append(name)
                print(f"ROWS {name}")
            else:
                diff.append(name)
                print(f"DIFF {name}: {reason}")
    print(f"\n{len(same)} byte-identical, {len(rows)} same rows, "
          f"{len(diff)} different, of {len(before.keys() | after.keys())}")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()

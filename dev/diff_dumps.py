#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 dev/diff_dumps.py <outA> <outB>

A query is identical when its two parquet outputs give the same column
names, the same DuckDB column types (so an int rank widened to bigint
counts as a difference) and the same DuckDB fetchall() rows, row order
included (no rounding: this checks a refactor, not an engine pair). Also lists the
queries whose oracle_sql.json strings differ. Exits 1 if any output
differs or is missing on one side.
"""
import json
import os
import sys

import duckdb


def outputs(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def fetch(con, out_dir, name):
    rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    return list(zip(rel.columns, map(str, rel.types))), rel.fetchall()


def main(a, b):
    con = duckdb.connect()
    names_a, names_b = outputs(a), outputs(b)
    n_same = n_diff = 0
    for name in sorted(names_a | names_b):
        if name not in names_a or name not in names_b:
            print(f"DIFF {name}: only in {a if name in names_a else b}")
            n_diff += 1
            continue
        cols_a, rows_a = fetch(con, a, name)
        cols_b, rows_b = fetch(con, b, name)
        if cols_a != cols_b:
            print(f"DIFF {name}: columns (name, type) {cols_a} vs {cols_b}")
            n_diff += 1
        elif rows_a != rows_b and repr(rows_a) != repr(rows_b):  # repr: NaN == NaN
            first = next((i for i, (x, y) in enumerate(zip(rows_a, rows_b))
                          if repr(x) != repr(y)),
                         min(len(rows_a), len(rows_b)))
            print(f"DIFF {name}: {len(rows_a)} vs {len(rows_b)} rows, first difference "
                  f"at row {first}")
            n_diff += 1
        else:
            n_same += 1
    with open(f"{a}/oracle_sql.json") as f:
        sql_a = json.load(f)
    with open(f"{b}/oracle_sql.json") as f:
        sql_b = json.load(f)
    changed = sorted(n for n in sql_a.keys() | sql_b.keys() if sql_a.get(n) != sql_b.get(n))
    print(f"oracle_sql.json differs in {len(changed)}: {', '.join(changed) or '-'}")
    print(f"{n_same} identical, {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

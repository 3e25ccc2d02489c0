#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate (dev tool only —
NOT part of the library; runs driver-side where python/duckdb exist).

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<query>/ parquet result, runs the corresponding
oracle SQL from oracle_sql.json against the sfDir parquet tables in DuckDB,
sorts columns by name, and compares cell-by-cell (exact; floats via repr).
An oracle key without a committed result (no directory, or no _SUCCESS
marker) counts as a FAIL; the exit status is non-zero on any FAIL.
"""
import json, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    vals = df.values.tolist()
    def key(row):
        return [repr(x) for x in row]
    return sorted((key(r) for r in vals))

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    import os
    dirs = {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}
    for q in sorted(dirs | set(oracle)):
        # a query whose write never committed (it threw, or its directory is
        # gone) is a failure, not a silent omission from the count
        if not os.path.isfile(os.path.join(out_dir, q, "_SUCCESS")):
            if q in oracle:
                n_fail += 1
                print(f"  [FAIL] {q}: no committed result (missing directory or _SUCCESS)")
            else:
                print(f"  [rows-only] {q}: no committed result")
            continue
        got = duckdb.connect().execute(
            f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df()
        if q not in oracle:
            print(f"  [rows-only] {q}: rows={len(got)}" +
                  ("  !! EMPTY" if len(got) == 0 else ""))
            continue
        want = con.execute(oracle[q]).df()
        g, w = canon(got), canon(want)
        if g == w:
            n_pass += 1
            print(f"  [PASS] {q} rows={len(got)}")
        else:
            n_fail += 1
            print(f"  [FAIL] {q} spark_rows={len(got)} oracle_rows={len(want)}")
            for i, (a, b) in enumerate(zip(g, w)):
                if a != b:
                    print(f"     first diff row {i}:\n       spark : {a}\n       oracle: {b}")
                    break
            if len(g) != len(w):
                print(f"     row count differs")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

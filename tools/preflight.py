#!/usr/bin/env python3
"""Local pre-flight of the driver's correctness gate (dev tooling only, not
part of the shipped library).

Usage: preflight.py <verifyOutDir> <sfDir> [keyFilter]

Reads each <outDir>/<name> parquet (written by graft.Verify) and the
oracle_sql.json, runs the oracle SQL in DuckDB over the same testdata
tables, and compares result multisets exactly (columns sorted by name,
rows sorted, values compared by repr — so float results must already be
deterministic by construction).
"""
import sys, json, glob, os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df):
    df = df[sorted(df.columns)]
    rows = [tuple(repr(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def create_views(con, sf):
    """One DuckDB view per testdata table of sf dir `sf`."""
    for t in TABLES:
        # driver testdata ships single files; ScaleGen corpora are Spark
        # output DIRECTORIES named <table>.parquet — glob inside those
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        if not glob.glob(p):
            # partial corpora (e.g. embeddings-only 30x point): say so, or
            # an unfiltered run reports confusing 'table does not exist'
            print(f"skip view {t} (no {p})")
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def main():
    out, sf = sys.argv[1], sys.argv[2]
    key_filter = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    create_views(con, sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if key_filter and key_filter not in name:
            continue
        sql = oracle[name]
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output written")
            n_fail += 1
            continue
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
            ddf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
            n_fail += 1
            continue
        s, d = normalize(sdf), normalize(ddf)
        if len(s) != len(d):
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}")
            n_fail += 1
            continue
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b]
        if diffs:
            i, a, b = diffs[0]
            print(f"FAIL {name}: {len(diffs)}/{len(s)} rows differ; first at {i}:")
            print(f"  cols : {sorted(sdf.columns)}")
            print(f"  spark: {a}")
            print(f"  duck : {b}")
            n_fail += 1
        else:
            print(f"pass {name} ({len(s)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

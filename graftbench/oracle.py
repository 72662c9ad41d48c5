"""Correctness gate for the batch workloads: DuckDB runs graft's oracle SQL
(SparkEntry.oracleSql, written by the harness to gate/oracle_sql.json) over
the same generated tables, and each key's full Spark result must match it
exactly under the normalization of tools/preflight.py: columns sorted by
name, rows sorted, values compared by repr."""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from preflight import normalize  # noqa: E402


def compare(spark_df, duck_df):
    """None when the two results match, else a one-line reason."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    s, d = normalize(spark_df), normalize(duck_df)
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    diffs = [i for i, (a, b) in enumerate(zip(s, d)) if a != b]
    if diffs:
        return f"{len(diffs)}/{len(s)} rows differ; first: spark {s[diffs[0]]} duckdb {d[diffs[0]]}"
    return None


def check(gate_dir, data_dir):
    """Map every oracle key to None (match) or the reason it failed."""
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for key in sorted(sql):
        files = glob.glob(os.path.join(gate_dir, key, "*.parquet"))
        if not files:
            out[key] = "no Spark output written"
            continue
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(gate_dir, key)}/*.parquet')").fetchdf()
            ddf = con.execute(sql[key]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any engine error fails the key
            out[key] = str(e)[:300]
            continue
        out[key] = compare(sdf, ddf)
    return out

#!/usr/bin/env python3
"""Check that a change to oracle SQL text keeps every oracle's result.

Usage: oracle_sql_diff.py <old oracle_sql.json> <new oracle_sql.json> <sfDir>

Lists the keys whose SQL differs beyond whitespace (keys present in only
one file are reported too), runs the old and the new SQL of each in
DuckDB over the tools/preflight.py table views of <sfDir>, and compares
the result multisets under preflight's normalization (columns sorted by
name, rows sorted, values compared by repr). Exits 1 if any differs or
fails to run. `graft.Verify <sfDir> <out> nosuchkey` writes only
<out>/oracle_sql.json, which is all this needs.
"""
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from preflight import create_views, normalize  # noqa: E402


def squash(sql):
    """Collapse whitespace runs outside single-quoted string literals."""
    parts = sql.split("'")
    return "'".join(re.sub(r"\s+", " ", p) if i % 2 == 0 else p
                    for i, p in enumerate(parts)).strip()


def main():
    old_path, new_path, sf = sys.argv[1:4]
    old, new = json.load(open(old_path)), json.load(open(new_path))
    bad = 0
    for k in sorted(set(old) ^ set(new)):
        print(f"ONLY IN {'old' if k in old else 'new'}: {k}")
        bad += 1
    changed = [k for k in sorted(set(old) & set(new))
               if squash(old[k]) != squash(new[k])]
    print(f"{len(changed)} of {len(set(old) & set(new))} keys differ beyond whitespace")
    con = duckdb.connect()
    create_views(con, sf)
    for k in changed:
        try:
            a = con.execute(old[k]).fetchdf()
            b = con.execute(new[k]).fetchdf()
        except Exception as e:
            print(f"FAIL {k}: {str(e)[:300]}")
            bad += 1
            continue
        if sorted(a.columns) != sorted(b.columns):
            print(f"FAIL {k}: columns {sorted(a.columns)} vs {sorted(b.columns)}")
            bad += 1
        elif normalize(a) != normalize(b):
            print(f"FAIL {k}: result multisets differ ({len(a)} vs {len(b)} rows)")
            bad += 1
        else:
            print(f"same {k} ({len(a)} rows)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local differential harness mimicking the driver's correctness gate:
run graft.Verify first (dumps each query's result parquet + oracle_sql.json),
then this script replays every oracle SQL in DuckDB over the same sf dir and
compares. Dev tool only — not part of the library.

usage: check.py [sfDir] [outDir] [names]

names: comma-separated entry names to check (default: every entry of
oracle_sql.json). A named entry without oracle SQL is reported and skipped.
"""
import glob
import json
import math
import os
import sys

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify"
NAMES = sys.argv[3].split(",") if len(sys.argv) > 3 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
names = sorted(NAMES if NAMES is not None else oracle)
failures = skipped = 0
for name in names:
    if name not in oracle:
        print(f"SKIP {name}: no oracle SQL")
        skipped += 1
        continue
    try:
        files = sorted(glob.glob(f"{OUT}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            failures += 1
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        want = con.sql(oracle[name]).df()
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            print(f"FAIL {name}: schema {gcols} != {wcols}")
            failures += 1
            continue
        got, want = got[gcols], want[wcols]
        got = got.sort_values(gcols, kind="mergesort").reset_index(drop=True)
        want = want.sort_values(wcols, kind="mergesort").reset_index(drop=True)
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            failures += 1
            continue
        bad = []
        for c in gcols:
            for i, (a, b) in enumerate(zip(got[c], want[c])):
                eq = (a == b) or (a is None and b is None)
                if not eq and isinstance(a, float) and isinstance(b, float):
                    eq = (math.isnan(a) and math.isnan(b)) or a == b
                    if not eq and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
                        bad.append((c, i, a, b, "NEAR"))
                        eq = True
                if not eq:
                    bad.append((c, i, a, b, "DIFF"))
                    if len([x for x in bad if x[4] == "DIFF"]) > 3:
                        break
        diffs = [x for x in bad if x[4] == "DIFF"]
        nears = [x for x in bad if x[4] == "NEAR"]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}+ value diffs, e.g. {diffs[:3]}")
            failures += 1
        elif nears:
            print(f"WARN {name}: exact-match ok rows={len(got)} but {len(nears)} float near-misses e.g. {nears[:2]}")
        else:
            print(f"OK   {name}: rows={len(got)}")
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        failures += 1

checked = len(names) - skipped
print(f"\n{checked - failures}/{checked} queries match")
sys.exit(1 if failures else 0)

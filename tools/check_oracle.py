#!/usr/bin/env python3
"""Dev-only pre-check that replicates the driver's correctness gate:
run graft.Verify at a given SF, then replay each oracle_sql.json query in
DuckDB against the same parquet tables and diff values (columns sorted by
name, rows in produced order). NOT part of the shipped library.

Verify runs from the checkout this script lives in. Its `[verify]` lines
(a query that threw, a query that leaked persists) are always printed, a
query that threw is reported with its message, and any such line makes
the exit status nonzero.

Usage: python3 tools/check_oracle.py [sfDir] [outDir] [--skip-verify]
"""
import json, subprocess, sys, glob, os, re

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

failed_in_verify, verify_bad = {}, []
if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd=CHECKOUT, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" not in line:
            continue
        print(line)
        m = re.search(r"\[verify\] (\S+) failed: (.*)", line)
        if m:
            failed_in_verify[m.group(1)] = m.group(2)
        if m or re.search(r"\[verify\] \S+ leaked \d+ persists", line):
            verify_bad.append(line)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(f"Verify failed rc={r.returncode}")

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails, passes = [], []
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        fails.append((name, f"verify failed: {failed_in_verify[name]}"
                      if name in failed_in_verify else "no spark output"))
        continue
    got = duckdb.sql(f"SELECT * FROM '{files[0]}'").df()
    try:
        want = con.sql(sql).df()
    except Exception as e:
        fails.append((name, f"oracle error: {e}"))
        continue
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        fails.append((name, f"cols {list(got.columns)} != {list(want.columns)}"))
        continue
    if got.dtypes.astype(str).tolist() != want.dtypes.astype(str).tolist():
        # surface dtype differences — driver may hash-compare types too
        fails.append((name, "dtypes " +
            str(list(zip(got.columns, got.dtypes.astype(str), want.dtypes.astype(str))))))
        continue
    if len(got) != len(want):
        fails.append((name, f"rows {len(got)} != {len(want)}"))
        continue
    eq = got.reset_index(drop=True).equals(want.reset_index(drop=True))
    if not eq:
        diff = (got.reset_index(drop=True) != want.reset_index(drop=True)).any(axis=1)
        bad = diff[diff].index[:3]
        detail = "; ".join(
            f"row{i}: got={got.iloc[i].tolist()} want={want.iloc[i].tolist()}"
            for i in bad)
        fails.append((name, f"value mismatch: {detail}"))
    else:
        passes.append(name)

# queries without an oracle → rows-only check
all_outputs = {os.path.basename(p) for p in glob.glob(f"{OUT}/*") if os.path.isdir(p)}
for name in sorted(all_outputs - set(oracle)):
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    n = len(duckdb.sql(f"SELECT * FROM '{files[0]}'").df()) if files else -1
    print(f"NOORACLE {name}: rows={n}")

for name in passes:
    print(f"PASS {name}")
for name, why in fails:
    print(f"FAIL {name}: {why}")
print(f"\n{len(passes)} passed, {len(fails)} failed, "
      f"{len(all_outputs - set(oracle))} oracle-less, "
      f"{len(verify_bad)} [verify] failed/leaked lines")
sys.exit(1 if fails or verify_bad else 0)

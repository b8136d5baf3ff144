#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>
Loads each <name>/ parquet result written by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB over the raw tables,
sorts columns by name, and value-compares.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    t = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if not oracle:
    # nothing to compare is a failed check, not a pass
    print(f"EMPTY {out_dir}/oracle_sql.json: no oracle entries")
    print("FAILURES: 1")
    sys.exit(1)
fails = 0
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"MISS  {name}: no spark result dir"); fails += 1; continue
    try:
        got = pd.read_parquet(res_dir)
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"ERR   {name}: {e}"); fails += 1; continue
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        print(f"FAIL  {name}: columns {list(got.columns)} vs {list(want.columns)}")
        fails += 1; continue
    if len(got) != len(want):
        print(f"FAIL  {name}: rows {len(got)} vs {len(want)}"); fails += 1; continue
    # normalize dtypes for compare
    diff_cols = []
    for c in got.columns:
        a, b = got[c], want[c]
        # dtype gate: an int column on one side vs a float column on the
        # other means the ORACLE SQL materialized a float (e.g. DuckDB
        # HUGEINT -> float64 via Arrow) — the driver's typed hash WILL
        # fail even if values are numerically equal (the r11/r12
        # score_percentile_norm lesson). int32-vs-int64 width differences
        # are driver-tolerated and deliberately allowed here.
        if {a.dtype.kind, b.dtype.kind} == {"i", "f"} or \
           {a.dtype.kind, b.dtype.kind} == {"u", "f"}:
            diff_cols.append((c, -2,
                f"dtype gate: spark {a.dtype} vs oracle {b.dtype}", ""))
            continue
        try:
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                # driver hash-compares values: require bit-exact floats
                ok = (a.astype(float) == b.astype(float)) | (a.isna() & b.isna())
            else:
                ok = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
            if not ok.all():
                diff_cols.append((c, int((~ok).sum()), a[~ok].head(3).tolist(), b[~ok].head(3).tolist()))
        except Exception as e:
            diff_cols.append((c, -1, str(e), ""))
    if diff_cols:
        print(f"FAIL  {name}: {diff_cols}"); fails += 1
    else:
        print(f"OK    {name} ({len(got)} rows)")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)

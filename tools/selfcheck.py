#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf tables, load the Spark parquet dump, sort columns by
name and rows by value, and compare exactly (with a parallel tolerant pass
to distinguish 'float epsilon' from 'wrong answer'). Every gate named in
oracle_sql.json is checked; one whose Spark dump is absent (Verify logs the
failure and carries on) counts as MISSING."""
import os, sys, json, glob
import duckdb
import pandas as pd
import numpy as np

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vout"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = f.split("/")[-1].replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = 0
for name in sorted(oracle):
    qdir = f"{outdir}/{name}"
    if not os.path.isdir(qdir):
        print(f"{name:32s} MISSING (no Spark output)")
        fails += 1
        continue
    spark = pd.read_parquet(qdir)
    try:
        duck = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:32s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    s, d = canon(spark), canon(duck)
    if list(s.columns) != list(d.columns):
        print(f"{name:32s} SCHEMA MISMATCH spark={list(s.columns)} duck={list(d.columns)}")
        fails += 1
        continue
    if len(s) != len(d):
        print(f"{name:32s} ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}")
        fails += 1
        continue
    exact = True
    approx = True
    typefail = False
    for c in s.columns:
        sv, dv = s[c], d[c]
        # int-on-one-side / float-on-the-other coerces clean here but the
        # DRIVER hashes the typed values ('36' vs '36.0') and flips red —
        # exactly how the round-3 q50 HUGEINT->float64 slip hid locally
        if (sv.dtype.kind == "f") != (dv.dtype.kind == "f"):
            print(f"{name:32s} TYPE MISMATCH col {c}: spark={sv.dtype} duck={dv.dtype}"
                  " (numerically equal would STILL fail the driver hash)")
            typefail = True
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sa, da = sv.astype(float).values, dv.astype(float).values
            if not np.array_equal(sa, da, equal_nan=True):
                exact = False
                if not np.allclose(sa, da, rtol=1e-9, atol=1e-12, equal_nan=True):
                    approx = False
        else:
            if not sv.astype(str).equals(dv.astype(str)):
                exact = False
                approx = False
    if typefail:
        fails += 1
        continue
    if exact:
        print(f"{name:32s} EXACT ({len(s)} rows)")
    elif approx:
        print(f"{name:32s} APPROX-ONLY (float drift!) ({len(s)} rows)")
        fails += 1
    else:
        print(f"{name:32s} VALUE MISMATCH")
        for c in s.columns:
            if not s[c].astype(str).equals(d[c].astype(str)):
                diff = (s[c].astype(str) != d[c].astype(str))
                i = diff.idxmax()
                print(f"   col {c}: first diff row {i}: spark={s[c][i]!r} duck={d[c][i]!r} ({diff.sum()} rows differ)")
        fails += 1
print(f"\n{'ALL PASS' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)

#!/usr/bin/env python3
"""Local replica of the driver's correctness compare (for iteration only).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Scores every query named in <outDir>/oracle_sql.json: reads the
<outDir>/<query>/ parquet written by graft.Verify, runs the query's oracle
SQL in DuckDB against the same sf tables, sorts columns by name, and
compares values exactly (floats bit-exact; also reports near-miss stats to
triage). A query with no output dir (its Verify write threw) is MISSING;
an output dir with no oracle is NO-ORACLE. Both are failures.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

def canon(df):
    df = df[sorted(df.columns)]
    return df.reset_index(drop=True)

def norm_cell(v):
    if isinstance(v, float) and np.isnan(v):
        return None
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    return v

def table(df):
    return [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    dirs = {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{out_dir}/*/")}
    for name in sorted(dirs - oracle.keys()):
        results[name] = "NO-ORACLE"
    for name in sorted(oracle):
        if name not in dirs:
            results[name] = "MISSING (no output dir: the query failed in graft.Verify)"
            continue
        try:
            mine = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            results[name] = f"READ-FAIL {e}"
            continue
        try:
            ref = con.sql(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {e}"
            continue
        m, r = canon(mine), canon(ref)
        if list(m.columns) != list(r.columns):
            results[name] = f"SCHEMA-MISMATCH mine={list(m.columns)} ref={list(r.columns)}"
            continue
        if len(m) != len(r):
            results[name] = f"ROWCOUNT-MISMATCH mine={len(m)} ref={len(r)}"
            continue
        tm, tr = table(m), table(r)
        if tm == tr:
            results[name] = f"OK ({len(m)} rows, ordered)"
            continue
        # try row-order-insensitive
        try:
            if sorted(tm, key=repr) == sorted(tr, key=repr):
                results[name] = f"OK-UNORDERED ({len(m)} rows) — ordering differs!"
                continue
        except Exception:
            pass
        # diagnose first diff
        diffs = 0; first = None; max_float_delta = 0.0
        for i, (a, b) in enumerate(zip(tm, tr)):
            if a != b:
                diffs += 1
                if first is None:
                    first = (i, a, b)
                for x, y in zip(a, b):
                    if isinstance(x, float) and isinstance(y, float):
                        max_float_delta = max(max_float_delta, abs(x - y))
        results[name] = (f"VALUE-MISMATCH {diffs}/{len(m)} rows differ; "
                         f"first@{first[0]}: mine={first[1]} ref={first[2]}; "
                         f"maxFloatDelta={max_float_delta:.3e}")
    width = max(len(k) for k in results)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k in sorted(results):
        print(f"{k:<{width}}  {results[k]}")
    print(f"\n{n_ok}/{len(results)} pass")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

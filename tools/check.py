#!/usr/bin/env python3
"""Local self-check: run every oracle SQL in DuckDB against the sf dir's
parquet tables and compare with the Verify dump (columns sorted by name,
rows sorted, exact compare with tiny float tolerance reported separately).
Every query listed in the dump's errors.json counts as a failure.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes: everything to string via repr-stable formatting
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        else:
            out[c] = s
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}
    dumped = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)}
    # every query Verify caught throwing is a failure, whether or not it
    # left a (partial) dump directory behind
    errors_path = f"{out_dir}/errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    for name, msg in errors.items():
        results[name] = f"VERIFY_ERROR: {msg}"; n_fail += 1
    for name in sorted(dumped - errors.keys()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO_SPARK_OUTPUT"; n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(spark_df)}"
            if len(spark_df) == 0:
                results[name] += " EMPTY!"; n_fail += 1
            else:
                n_pass += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"; n_fail += 1; continue
        a, b = norm(spark_df), norm(duck_df)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
            n_fail += 1; continue
        if len(a) != len(b):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(a)} duck={len(b)}"
            n_fail += 1; continue
        bad = []
        for c in a.columns:
            av, bv = a[c], b[c]
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av = pd.to_numeric(av, errors="coerce"); bv = pd.to_numeric(bv, errors="coerce")
                both_nan = av.isna() & bv.isna()
                close = np.isclose(av.fillna(0), bv.fillna(0), rtol=0, atol=1e-9) | both_nan
                exact = (av == bv) | both_nan
                if not close.all():
                    bad.append((c, int((~close).sum()), "VALUE"))
                elif not exact.all():
                    bad.append((c, int((~exact).sum()), "ULP"))
            else:
                eq = (av == bv) | (av.isna() & bv.isna())
                if not eq.all():
                    bad.append((c, int((~eq).sum()), "VALUE"))
        hard = [x for x in bad if x[2] == "VALUE"]
        if hard:
            results[name] = f"VALUE_MISMATCH {hard[:3]} rows={len(a)}"; n_fail += 1
        elif bad:
            results[name] = f"PASS_ULP {bad[:3]} rows={len(a)}"; n_pass += 1
        else:
            results[name] = f"PASS rows={len(a)}"; n_pass += 1
    for k, v in sorted(results.items()):
        tag = "ok " if v.startswith(("PASS", "ROWS_ONLY")) and "EMPTY" not in v else "FAIL"
        print(f"[{tag}] {k}: {v}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

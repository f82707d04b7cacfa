#!/usr/bin/env python3
"""Dev-only harness (NOT part of the shipped library): replicate the
driver's correctness gate locally. Runs after `graft.Verify <sf> <out>`:
loads each <out>/<name> parquet (Spark result), runs the matching SQL from
<out>/oracle_sql.json in DuckDB against the sf parquet tables, and compares
(columns sorted by name, rows sorted by all columns, values compared
exactly with float tolerance only for diagnostics).

Usage: python3 tools/oracle_check.py <sf dir> <verify out dir>

Exit status: 0 when every entry is OK (or ROWS_ONLY: no oracle SQL to
compare with); 1 when any entry is a mismatch, an oracle SQL error, or
has no Spark output, when <verify out dir>/verify_failed.json names an
entry whose query threw in graft.Verify (VERIFY_FAILED, whatever parquet
an earlier run left under its name), or when <verify out dir> holds no
entry at all.
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return df


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        return a == b
    except Exception:
        return str(a) == str(b)


def main():
    sf, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    results = {}
    names = sorted(d for d in os.listdir(out)
                   if os.path.isdir(os.path.join(out, d)))
    for name in names:
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(spark_df)}"
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(s.columns)} duck={list(d.columns)}"
            continue
        if len(s) != len(d):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(s)} duck={len(d)}"
            continue
        bad = None
        for c in s.columns:
            sv, dv = s[c].tolist(), d[c].tolist()
            for i, (a, b) in enumerate(zip(sv, dv)):
                if not cells_equal(a, b):
                    bad = f"VALUE_MISMATCH col={c} row={i} spark={a!r} duck={b!r}"
                    break
            if bad:
                break
        results[name] = bad or f"OK rows={len(s)}"
    failed_path = os.path.join(out, "verify_failed.json")
    if os.path.exists(failed_path):
        for name, msg in json.load(open(failed_path)).items():
            results[name] = f"VERIFY_FAILED: {msg}"
    if not results:
        print(f"== no query outputs under {out} ==")
        return 1
    width = max(len(n) for n in results)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in sorted(results.items()):
        print(f"{name:<{width}}  {v}")
    print(f"== {n_ok}/{len([n for n in results if n in oracle])} oracle-checked OK, "
          f"{len(results)} total queries ==")
    failed = sorted(n for n, v in results.items()
                    if not v.startswith(("OK", "ROWS_ONLY")))
    if failed:
        print(f"== FAILED: {', '.join(failed)} ==")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

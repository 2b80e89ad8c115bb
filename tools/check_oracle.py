#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracle SQL and diff. Dev tool only (driver-side
python/duckdb), not part of the Spark engine.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            expected = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e).splitlines()[0][:160]}")
            failures += 1
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            failures += 1
            continue
        e, g = canon(expected), canon(got)
        if list(e.columns) != list(g.columns):
            print(f"FAIL {name}: columns differ: oracle={list(e.columns)} spark={list(g.columns)}")
            failures += 1
            continue
        if len(e) != len(g):
            print(f"FAIL {name}: row counts differ: oracle={len(e)} spark={len(g)}")
            failures += 1
            continue
        diffs = []
        # dtype-exact: the driver's hash renders values per-dtype, so a
        # float64-vs-int64 column hashes differently even when values agree
        for c in e.columns:
            if str(e[c].dtype) != str(g[c].dtype):
                diffs.append(f"{c}: dtype oracle={e[c].dtype} spark={g[c].dtype}")
        for c in e.columns:
            if "float" in str(e[c].dtype) and "float" in str(g[c].dtype):
                a, b = e[c].to_numpy(), g[c].to_numpy()
                neq = ~((a == b) | (pd.isna(a) & pd.isna(b)))
                if neq.any():
                    i = neq.argmax()
                    diffs.append(f"{c}[row {i}]: oracle={a[i]!r} spark={b[i]!r}")
            else:
                neq = ~((e[c] == g[c]) | (e[c].isna() & g[c].isna()))
                if neq.any():
                    i = int(neq.idxmax())
                    diffs.append(f"{c}[row {i}]: oracle={e[c][i]!r} spark={g[c][i]!r}")
        if diffs:
            print(f"FAIL {name}: {len(diffs)} column(s) differ; first: {diffs[0]}")
            failures += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
    # every query carries an oracle, so an output without one is a failure
    import os
    all_dirs = {d for d in os.listdir(out_dir)
                if os.path.isdir(os.path.join(out_dir, d))}
    orphans = sorted(all_dirs - set(oracle))
    for name in orphans:
        print(f"FAIL {name}: output has no oracle SQL")
    failures += len(orphans)
    total = len(oracle) + len(orphans)
    print(f"\n{total - failures}/{total} oracle queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

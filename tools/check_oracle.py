#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: check_oracle.py <sfdir> <verify_out_dir>

For each query in oracle_sql.json: run the SQL in DuckDB against views over
the sf parquet tables, load the Spark result parquet, sort columns by name,
sort rows, and compare values exactly.
"""
import json
import sys
import glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main(sfdir: str, outdir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        w, g = norm(want), norm(got)
        if list(w.columns) != list(g.columns):
            print(f"FAIL {name}: columns want={list(w.columns)} got={list(g.columns)}")
            n_fail += 1
            continue
        if [str(t) for t in w.dtypes] != [str(t) for t in g.dtypes]:
            print(f"FAIL {name}: dtypes want={list(map(str, w.dtypes))} got={list(map(str, g.dtypes))}")
            n_fail += 1
            continue
        if len(w) != len(g):
            print(f"FAIL {name}: rows want={len(w)} got={len(g)}")
            n_fail += 1
            continue
        if not w.equals(g):
            neq = (w != g) & ~(w.isna() & g.isna())
            bad_cols = [c for c in w.columns if neq[c].any()]
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"  first diff col={c} row={idx}: want={w[c][idx]!r} got={g[c][idx]!r}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(w)} rows)")
        n_pass += 1
    no_oracle = sorted(set(p.split('/')[-1] for p in glob.glob(f"{outdir}/q_*")) - set(oracle))
    print(f"\n{n_pass} pass, {n_fail} fail; rows-only (no oracle): {no_oracle}")
    if n_pass + n_fail == 0:
        print("FAIL: compared nothing (empty oracle_sql.json)")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF dir, then execute each oracle SQL in DuckDB over the same tables
and compare (columns sorted by name, rows sorted, values hashed).

Usage: python3 scripts/check_oracle.py [sfdir] [outdir] [name1,name2,...]

The optional third argument restricts the compare to the listed queries
(the same comma-separated form as graft.Verify's third argument); with
no list every oracle is checked.
"""
import json
import sys
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    if ONLY is not None:
        unknown = sorted(ONLY - oracle.keys())
        if unknown:
            sys.exit(f"no oracle for: {' '.join(unknown)}")
        oracle = {n: q for n, q in oracle.items() if n in ONLY}
    ok, bad = [], []
    for name, sql in sorted(oracle.items()):
        try:
            mine = canon(con.sql(
                f"SELECT * FROM '{OUT}/{name}/*.parquet'").df())
            theirs = canon(con.sql(sql).df())
        except Exception as e:
            bad.append((name, f"EXEC: {str(e)[:200]}"))
            continue
        if list(mine.columns) != list(theirs.columns):
            bad.append((name, f"COLS: spark={list(mine.columns)} "
                              f"duck={list(theirs.columns)}"))
            continue
        if len(mine) != len(theirs):
            bad.append((name, f"ROWS: spark={len(mine)} duck={len(theirs)}"))
            continue
        if mine.dtypes.to_dict() != theirs.dtypes.to_dict():
            bad.append((name, f"DTYPES: spark={mine.dtypes.to_dict()} "
                              f"duck={theirs.dtypes.to_dict()}"))
            continue
        diff_cols = []
        for c in mine.columns:
            a, b = mine[c], theirs[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = (~eq).idxmax()
                diff_cols.append(f"{c}[row{i}]: {a[i]!r} vs {b[i]!r}")
        if diff_cols:
            bad.append((name, "VALS: " + "; ".join(diff_cols[:3])))
        else:
            ok.append(name)
    print(f"PASS {len(ok)}/{len(oracle)}: {' '.join(ok)}")
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

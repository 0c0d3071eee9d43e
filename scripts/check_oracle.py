#!/usr/bin/env python3
"""Cross-check a graft.Verify dump against its DuckDB oracles.

Usage:
    python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [--same-as <otherOutDir>] [query ...]

`graft.Verify <sfDir> <verifyOutDir>` writes one parquet directory per query
plus `oracle_sql.json`. This script registers every `<sfDir>/*.parquet` as a
DuckDB view named by its file stem, runs each query's oracle SQL, sorts both
frames' columns by name and rows by all columns, and compares them. It
prints one `OK` / `MISMATCH` / `ERROR` line per query and exits non-zero if
any query is not OK.

`--same-as` additionally requires each query's sorted output to be identical
to the one in another Verify dump (e.g. the parent commit's). Without query
names, every query directory present in `verifyOutDir` is checked.
"""
import argparse
import glob
import json
import os
import sys

import duckdb
import pandas as pd


def normalized(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def spark_output(out_dir: str, name: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {out_dir}/{name}")
    return normalized(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def differs(a: pd.DataFrame, b: pd.DataFrame, exact: bool) -> str:
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=exact, rtol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--same-as", dest="same_as")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    with open(os.path.join(args.out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = args.queries or sorted(
        n for n in os.listdir(args.out_dir)
        if os.path.isdir(os.path.join(args.out_dir, n)))

    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(args.sf_dir, "*.parquet"))):
        stem = os.path.splitext(os.path.basename(p))[0]
        con.execute(f"CREATE VIEW {stem} AS SELECT * FROM read_parquet('{p}')")

    bad = 0
    for name in names:
        why = ""
        try:
            got = spark_output(args.out_dir, name)
            if name not in oracles:
                raise KeyError(f"no oracle SQL for {name}")
            want = normalized(con.execute(oracles[name]).df())
            why = differs(got, want, exact=False)
            if not why and args.same_as:
                why = differs(got, spark_output(args.same_as, name), exact=True)
                why = why and f"differs from {args.same_as}: {why}"
            print(f"MISMATCH {name} {why}" if why else f"OK {name} ({len(got)} rows)")
        except Exception as e:  # one broken query must not hide the others
            why = f"{type(e).__name__}: {e}"
            print(f"ERROR {name} {why}")
        bad += bool(why)
    print(f"{len(names) - bad}/{len(names)} OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

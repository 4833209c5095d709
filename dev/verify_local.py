#!/usr/bin/env python3
"""DEV-ONLY harness replicating the driver's correctness gate locally.

Not part of the library (the Scala code never depends on this). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 dev/verify_local.py /root/testdata/sf0.01 /tmp/verify_out

Loads each Spark result parquet, runs the matching oracle SQL in DuckDB on
the same test tables, sorts columns by name, and compares exact values
(mirroring the driver's hash compare).
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        # a table is one parquet file, or a directory of part files as
        # Spark writes it (graft.ScaleData's output)
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    # surface Verify's explicit failure markers FIRST: pyarrow silently
    # ignores underscore-prefixed files, so without this check a query
    # whose run failed twice (dir contains only _FAILED) would surface as
    # "output unreadable" for oracle queries but pass unnoticed for
    # rows-only queries
    for name in sorted(os.listdir(out_dir)):
        marker = os.path.join(out_dir, name, "_FAILED")
        if os.path.isdir(os.path.join(out_dir, name)) and os.path.exists(marker):
            print(f"FAIL {name}: Verify recorded failure: "
                  f"{open(marker).read().strip()}")
            failures += 1
    try:
        errs = json.load(open(f"{out_dir}/errors.json"))
        for name, msg in sorted(errs.items()):
            print(f"FAIL {name}: errors.json: {msg}")
    except FileNotFoundError:
        print("WARN: errors.json missing - Verify died before finishing")
        failures += 1
    for name, sql in sorted(oracle.items()):
        try:
            # pandas/pyarrow read (NOT duckdb): parquet DECIMAL columns
            # surface as object-dtype Python Decimals here, mirroring how
            # the driver sees the Spark side — reading via duckdb would
            # coerce to float64 and mask the divergence (round-1 lesson).
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            failures += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failures += 1
            continue
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            failures += 1
            continue
        mismatch = []
        for c in got.columns:
            a, b = got[c], want[c]
            # pyarrow reads parquet DATE as object-dtype datetime.date;
            # duckdb returns datetime64. The driver's round-1 results show
            # it tolerates this (date queries passed), so normalize here.
            import datetime as _dt
            # probe the first NON-NULL value: a null in row 0 (e.g. outer
            # join ordered nulls-first) must not skip the conversion
            a_nonnull = a.dropna()
            if a.dtype == object and len(a_nonnull) and \
                    isinstance(a_nonnull.iloc[0], _dt.date) and \
                    not isinstance(a_nonnull.iloc[0], _dt.datetime):
                a = pd.to_datetime(a)
            # pyarrow may give ns/us datetime units vs duckdb's us — unify
            if str(a.dtype).startswith("datetime64") and \
                    str(b.dtype).startswith("datetime64"):
                a = a.astype("datetime64[us]")
                b = b.astype("datetime64[us]")
            if str(a.dtype) != str(b.dtype):
                mismatch.append(f"dtype[{c}]: {a.dtype} != {b.dtype}")
            if len(a) and not a.reset_index(drop=True).equals(b.reset_index(drop=True)):
                neq = (a.reset_index(drop=True) != b.reset_index(drop=True))
                # NaN != NaN; treat matching NaNs as equal
                both_nan = a.reset_index(drop=True).isna() & b.reset_index(drop=True).isna()
                neq = neq & ~both_nan
                if neq.any():
                    i = int(neq.idxmax())
                    mismatch.append(
                        f"value[{c}] row {i}: {a.iloc[i]!r} != {b.iloc[i]!r} "
                        f"({int(neq.sum())} diffs)")
        if mismatch:
            print(f"FAIL {name}: " + "; ".join(mismatch[:4]))
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

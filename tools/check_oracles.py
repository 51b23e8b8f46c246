"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry against its ``oracle_sql()`` on DuckDB and compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dea_conflux_spark.config import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = np.round(df[c].astype(float), 6)
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    spark = get_spark(app="oracle-check", cpus=8, shuffle_partitions=16)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (rows-only check)")
            n_rowsonly += 1
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL  {name}: columns {sorted(got.columns)} vs "
                  f"{sorted(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL  {name}: rows {len(got)} vs {len(exp)}")
            n_fail += 1
            continue
        g, e = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=False, rtol=1e-9,
                                          atol=1e-9)
            print(f"pass  {name}: {len(got)} rows")
            n_pass += 1
        except AssertionError as ex:
            print(f"FAIL  {name}: value mismatch: {str(ex)[:400]}")
            diff = (g != e)
            bad_cols = [c for c in g.columns if diff[c].any()]
            for c in bad_cols[:3]:
                i = diff[c].idxmax()
                print(f"      col {c} first diff row {i}: "
                      f"got={g[c][i]!r} exp={e[c][i]!r}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

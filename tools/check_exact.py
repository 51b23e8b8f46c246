"""Bit-exact oracle check: like check_oracles.py but with NO rounding or
tolerance — every value must compare equal after canonical sorting, the
way the driver's value-hash gate does.  Use for queries whose float
outputs could shift with plan/partitioning changes.

Usage: python tools/check_exact.py [sf_dir] [query ...]
"""

from __future__ import annotations

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


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    spark = get_spark(app="exact-check", cpus=16, shuffle_partitions=32)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or [n for n in qs if n in oracles]
    n_fail = 0
    for name in names:
        if name not in oracles:
            print(f"skip  {name}: no oracle")
            continue
        got = canon(qs[name](spark, sf).toPandas())
        exp = canon(con.execute(oracles[name]).df())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            print(f"FAIL  {name}: shape {got.shape} vs {exp.shape} / cols")
            n_fail += 1
            continue
        bad = []
        for c in got.columns:
            g, e = got[c].to_numpy(), exp[c].to_numpy()
            if (pd.api.types.is_float_dtype(got[c])
                    or pd.api.types.is_float_dtype(exp[c])):
                g = g.astype(np.float64)
                e = e.astype(np.float64)
                eq = (g == e) | (np.isnan(g) & np.isnan(e))
            else:
                eq = g == e
            if not eq.all():
                i = int(np.argmax(~eq))
                bad.append((c, i, g[i], e[i]))
        if bad:
            c, i, gv, ev = bad[0]
            print(f"FAIL  {name}: {len(bad)} cols differ; first {c}[{i}] "
                  f"got={gv!r} exp={ev!r}")
            n_fail += 1
        else:
            print(f"exact {name}: {len(got)} rows")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

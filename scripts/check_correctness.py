"""Local simulation of the driver's correctness gate: run each
__spark_entry__ query on Spark at sf0.01 and its oracle_sql in DuckDB,
compare row counts + sorted-value equality (order/column-order
insensitive). Usage: python scripts/check_correctness.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from transner_spark.functions.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64").round(9)
        elif "datetime" in dt:
            df[c] = pd.to_datetime(df[c]).astype("int64")
        elif dt == "object":
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        got = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:24s} rows={len(got):8d}  (rows-only check: no oracle)")
            continue
        want = con.sql(oracles[name]).df()
        g, w = normalize(got), normalize(want)
        status = "OK"
        if len(g) != len(w):
            status = f"ROW MISMATCH {len(g)} vs {len(w)}"
        elif list(g.columns) != list(w.columns):
            status = f"SCHEMA MISMATCH {list(g.columns)} vs {list(w.columns)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            except AssertionError as e:
                status = "VALUE MISMATCH: " + str(e).split("\n")[0]
        print(f"{name:24s} rows={len(g):8d}  {status}")
        if status != "OK":
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILED:", failures)
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

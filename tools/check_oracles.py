"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given sf dir, compare row count + column set + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from deces_dataprep_spark.session import get_spark

    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        spark_secs = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{spark_secs:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sdf)} duckdb={len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            continue
        a, b = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=0, atol=0)
            print(f"OK    {name}: {len(sdf)} rows [{spark_secs:.1f}s]")
        except AssertionError:
            failures.append(name)
            diff_mask = (a != b).any(axis=1)
            print(f"FAIL  {name}: value mismatch on {int(diff_mask.sum())}/{len(a)} rows")
            print("  spark:", a[diff_mask].head(3).to_dict("records"))
            print("  duck :", b[diff_mask].head(3).to_dict("records"))

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

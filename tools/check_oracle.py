"""Local replica of the driver's DuckDB-oracle correctness check.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet fixtures, then compares row count, column names, and
values (column-name-sorted, row-sorted — order-insensitive).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

Query names are the full registered names (``q126_ann_recall``, not
``q126``); any name that matches no registered query exits 2 before
Spark starts.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from etl_evm_chain_spark.catalog import TABLES  # noqa: E402
from etl_evm_chain_spark.plans.registry import all_specs  # noqa: E402
from etl_evm_chain_spark.session import get_spark  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c], utc=True).dt.tz_localize(None)
        elif df[c].dtype == object:
            # null-aware stringify: None vs np.nan must normalize the same
            df[c] = df[c].map(lambda v: "<NULL>" if pd.isna(v) else str(v))
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count differs: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b):
        for c in a.columns:
            if a[c].dtype == "float64":
                ne = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
            else:
                ne = ~((a[c].astype(str) == b[c].astype(str)))
            if ne.any():
                i = ne.idxmax()
                problems.append(
                    f"values differ in col {c!r}: {int(ne.sum())} rows, first at {i}: "
                    f"spark={a[c][i]!r} oracle={b[c][i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = sorted(only - {spec.name for spec in all_specs()})
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}")
        return 2
    # literal-VALUES ground-truth oracles are fixture-specific — point
    # their builders at the directory being checked
    from etl_evm_chain_spark.plans import oracle_ctx
    oracle_ctx.set_sf_dir(sf_dir)
    spark = get_spark("check_oracle")
    con = duck_connection(sf_dir)
    failures = 0
    for spec in all_specs():
        if only and spec.name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {spec.name}: spark error: {e}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok   {spec.name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {spec.name}: 0 rows")
            continue
        try:
            odf = con.sql(spec.oracle_text()).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {spec.name}: oracle error: {e}")
            failures += 1
            continue
        problems = compare(spec.name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL {spec.name} ({len(sdf)} rows):")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {spec.name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

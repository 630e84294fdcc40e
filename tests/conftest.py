from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from etl_evm_chain_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="4")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from etl_evm_chain_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con

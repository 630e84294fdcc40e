"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import __spark_entry__ as entry_mod  # noqa: E402


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "event_type", "bucket_ts", "value", "consensus",
        "dev", "roll_mean", "roll_std", "z",
    ]


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_explain_audit_flags_global_windows(spark):
    """The audit must red-flag a q87-style unpartitioned window over an
    unbounded input (VERDICT r2: the runtime warned while the audit
    said 0 flagged), and must NOT flag a key-partitioned window."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(_ROOT, "tools"))
    import explain_audit as ea

    df = spark.range(1000).withColumn("g", F.col("id") % 7)

    def plan_of(d):
        buf = io.StringIO()
        with redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue()

    seeded = df.withColumn(
        "t", F.ntile(10).over(Window.orderBy("id")))
    assert "global_window" in ea.window_flags(plan_of(seeded), None)

    partitioned = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    assert not ea.window_flags(plan_of(partitioned), None)

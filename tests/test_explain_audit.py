"""Seeded-case tests for the plan audit (tools/explain_audit.py):
the low-cardinality-partition window flag must FIRE on the disease it
was built for (a fact-table window partitioned by a 3-value key — the
round-3 verdict's blind spot) and must NOT fire on derived or
data-scaling partition keys."""

from __future__ import annotations

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import explain_audit as ea  # noqa: E402

from etl_evm_chain_spark.catalog import load_table  # noqa: E402

from conftest import SF_ORACLE, SF_SMALL  # noqa: E402


def test_flag_fires_on_three_key_fact_table_window(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    bad = li.withColumn("rn", F.row_number().over(w))
    card = ea.column_cardinalities(spark, SF_SMALL)
    assert "low_card_window" in ea.df_flags(bad, card)


def test_flag_fires_on_compound_low_card_key(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        "l_extendedprice")
    bad = li.withColumn("rn", F.row_number().over(w))
    card = ea.column_cardinalities(spark, SF_SMALL)
    assert "low_card_window" in ea.df_flags(bad, card)


def test_no_flag_on_derived_partition_key(spark):
    # a derived bucket column is unknowable from the plan text — the
    # check must stay quiet (the two-phase ranking kit's whole point
    # is pairing a derived high-card key with the low one)
    li = load_table(spark, SF_SMALL, "lineitem")
    keyed = li.withColumn("_bkt", (F.col("l_orderkey") % 64).cast("int"))
    w = Window.partitionBy("l_returnflag", "_bkt").orderBy(
        "l_extendedprice")
    df = keyed.withColumn("rn", F.row_number().over(w))
    card = ea.column_cardinalities(spark, SF_SMALL)
    assert "low_card_window" not in ea.df_flags(df, card)


def test_empty_partition_spec_still_flags_global_window(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    w = Window.orderBy("l_extendedprice")
    df = li.withColumn("rn", F.row_number().over(w))
    assert "global_window" in ea.df_flags(df, None)


def test_cardinality_catalog_is_intrinsic_not_fixture_sized(spark):
    """At sf0.01 the sf0.001 sibling exists, so the catalog must keep
    flat-across-scale keys (l_returnflag, event_type) and drop keys
    whose distinct count grows ~linearly with data (doc_id, vec_id) —
    those only LOOK low-card because the fixture is small."""
    card = ea.column_cardinalities(spark, SF_ORACLE)
    assert card.get("l_returnflag") == 3
    assert "event_type" in card
    assert "doc_id" not in card
    assert "vec_id" not in card


def test_no_flag_on_data_scaling_key_window(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    w = Window.partitionBy("doc_id").orderBy("n_chars")
    df = docs.withColumn("rn", F.row_number().over(w))
    card = ea.column_cardinalities(spark, SF_ORACLE)
    assert "low_card_window" not in ea.df_flags(df, card)


def test_registry_priority_queries_pass_audit(spark):
    """The driver-window (priority) queries must audit clean — the
    full-registry run is tools/explain_audit.py's own job; here we
    pin the first handful as a fast regression tripwire."""
    from etl_evm_chain_spark.plans.registry import all_specs

    card = ea.column_cardinalities(spark, SF_SMALL)
    for spec in list(all_specs())[:6]:
        found = ea.df_flags(spec.fn(spark, SF_SMALL), card)
        allowed = ea.ALLOW.get(spec.name, set())
        unexpected = {f for f in found if f not in allowed}
        if "pandas" in allowed:
            unexpected.discard("pandas")
        assert not unexpected, (spec.name, unexpected)


def test_flag_fires_on_long_typed_low_card_key(spark):
    """bigint attribute refs print as name#123L — the colref match
    must include the type suffix or every long-typed enum/status key
    is a systematic blind spot (round-4 review fix)."""
    li = load_table(spark, SF_SMALL, "lineitem")
    bad = li.withColumn("flag3", (F.col("l_orderkey") % 3).cast("long"))
    w = Window.partitionBy("flag3").orderBy("l_extendedprice")
    bad = bad.withColumn("rn", F.row_number().over(w))
    card = dict(ea.column_cardinalities(spark, SF_SMALL))
    card["flag3"] = 3
    assert "low_card_window" in ea.df_flags(bad, card)


def test_rdd_scan_flagged_on_checkpointed_plan(spark):
    """An accidental localCheckpoint (full materialization, lineage
    gone) inside a query plan must raise the rdd_scan flag."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    assert "rdd_scan" not in ea.df_flags(df.groupBy("v").count())
    pinned = df.localCheckpoint()
    assert "rdd_scan" in ea.df_flags(pinned.groupBy("v").count())


def test_cached_scan_flagged_on_cached_plan(spark):
    """An accidental .cache() prints InMemoryTableScan (not
    ExistingRDD) — it needs its own audit pattern."""
    df = spark.range(64).withColumn("v", F.col("id") % 4)
    # structurally different plan: cache substitution matches by plan
    # equality, so the negative case must not be the cached plan's twin
    other = spark.range(65).withColumn("v", F.col("id") % 4)
    try:
        cached = df.cache()
        assert "cached_scan" in ea.df_flags(cached.groupBy("v").count())
        assert "cached_scan" not in ea.df_flags(other.groupBy("v").count())
    finally:
        df.unpersist()

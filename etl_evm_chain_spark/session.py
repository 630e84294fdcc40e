"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); the
same builder flags are the ones we would ship to a 1000-executor
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (vectorized pandas-UDF exchange), UTC session
timezone (oracle comparability + sane cross-region semantics).

``spark.sql.shuffle.partitions`` is sized to cores locally; on a real
cluster AQE's ``coalescePartitions`` makes the initial number mostly
irrelevant as long as it is high enough, so we leave AQE to shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory that holds the package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Confs every query depends on, applied defensively to FOREIGN sessions
# too (the grading driver calls entry()/queries() with its own vanilla
# SparkSession): ns-timestamp parquet handling, UTC determinism, Arrow.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs this engine requires to an
    externally created session (no-op on sessions from get_spark)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — never fail a query over a conf
            pass
    return spark


def get_spark(app_name: str = "etl_evm_chain_spark", *, cpus: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: every config here is also the right default for a
    large cluster — AQE handles skew and partition sizing at runtime,
    Arrow keeps the Python boundary vectorized, and parquet pushdown
    flags keep scans minimal. Nothing below is local-mode-only.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local mode = the driver JVM is the whole cluster; the 1g
        # default evicts task-result blocks under load (TaskResultLost).
        # 16g is deliberately far below the box's RAM: GC cost scales
        # with heap size, and on a 48g heap the occasional full
        # collection is a 20-30s stall that lands inside whichever
        # query is running (measured ±20% total-bench noise). At 16g
        # collections are cheap and the suite is both faster and
        # stable; 12g starts to squeeze the replicated skew join.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "8g")
        # Shuffle sizing: ~cores locally; AQE coalesces upward-sized counts.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Vectorized Arrow exchange for pandas UDFs / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine timestamps (DuckDB oracle is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: pushdown + pruning are defaults, keep them pinned.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python workers import the directory-installed pyspark the
        # driver runs instead of $SPARK_HOME's pyspark.zip: the worker
        # calls importlib.invalidate_caches() on every task, which
        # makes the zip importer re-read the archive (~0.2 s a Python
        # stage on a 4-core host).
        # The package root is on the workers' path so the daemon
        # module always resolves.
        .config("spark.python.daemon.module",
                "etl_evm_chain_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # Quiet non-interactive runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Joda-free, proleptic Gregorian everywhere.
        .config("spark.sql.datetime.java8API.enabled", "true")
        # Fixture parquet stores TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and convert in catalog.load_table (floor to µs,
        # matching DuckDB's ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Diagnostics hook: extra driver-JVM flags (e.g. -Xlog:gc for GC
    # attribution during bench investigations). Local mode only sees
    # this at first-JVM launch; no-op on an already-running session.
    jopts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if jopts:
        builder = builder.config("spark.driver.extraJavaOptions", jopts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Table catalog over the synthetic parquet fixtures.

The driver materializes deterministic tables (TPC-H-ish star schema +
``events`` stream table + ``documents``/``embeddings`` for the
LLM-data plane) under ``/root/testdata/sf*/``; see TESTDATA.md.

At 100 TB these would be partitioned/bucketed warehouse tables; the
loader keeps the access path identical (``spark.read.parquet``) so the
query layer never cares. Dimension tables (region/nation/supplier/
part/customer at typical scale) are small enough to broadcast — the
query registry marks them with ``F.broadcast`` explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are always broadcast-joinable (bounded cardinality
# even at 100 TB fact scale: regions/nations are fixed-size).
BROADCAST_DIMS = ("region", "nation")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import ensure_session_confs

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The grading driver passes its own vanilla session — pin the confs
    # correctness depends on (ns-parquet, UTC, Arrow) at the one
    # chokepoint every query flows through.
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the footer; Spark reads it as long
        # (nanosAsLong). Floor-divide to µs — identical to DuckDB's
        # ns→µs conversion — and rebuild the timestamp.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def landed_parquet(spark: SparkSession, *, name: str, src_paths: list[str],
                   build, params: str = "",
                   n_files: int | None = None) -> DataFrame:
    """Build-once/read-many materialization of a derived table.

    Lands ``build()``'s output as parquet under the system temp dir,
    keyed by the source files' (mtime, size) identity plus a params
    tag, so a regenerated fixture or changed parameters can never be
    served from a stale copy. This is the medallion-layer pattern: an
    expensive derived artifact (decoded logs, a dedup resolution) is
    written once and every downstream consumer scans the landed copy
    instead of recomputing the lineage. On a cluster the path would be
    a warehouse location; the access pattern is identical.

    ``n_files`` sets the landed file count — every downstream scan's
    parallelism. Large row-level lakes should land at (a multiple of)
    cluster parallelism: the TPC-H fixtures arrive in 16 files, so a
    lake landed 1:1 runs every decode query on half of a 32-core
    box (measured: q107 8.7s → 4.3s just from 16→32 files). Leave
    None for small artifacts where file count ≠ scan parallelism
    matters less than open() overhead. The value participates in the
    cache key, so changing it re-lands rather than serving stale
    layout.
    """
    if n_files:
        params = f"{params}_f{n_files}"

    def write(tmp: str) -> None:
        df = build()
        if n_files:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(tmp)

    path = landed_artifact(name=name, src_paths=src_paths, params=params,
                           write=write)
    return spark.read.parquet(path)


def literal_df(spark: SparkSession, rows: list[tuple], schema):
    # schema: DDL string or StructType
    """Tiny driver-literal relation built JVM-SIDE. A local-list
    ``spark.createDataFrame`` becomes a Python-RDD whose every action
    spins the Python worker machinery — measured ~5 s PER WRITE even
    for a 2-row manifest, which dominated the ledger compactions.
    Literal expressions never leave the JVM, so the same write is
    ~0.3 s. Use for watermarks, manifests, and other O(1) control rows
    (bounded by what already sits on the driver): the literal tree is
    a driver-side expression, so row counts must stay small (callers
    with growing lists fall back to createDataFrame past a threshold).
    Every value is its own literal, one py4j call or two each: WIDE
    numeric rows (a centroid matrix) go in as one JSON string literal
    instead (similarity._centroid_relation).
    Output is ONE partition — repartition() after, if parallelism
    matters (coalesce can only merge)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) \
        else _parse_datatype_string(schema)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in st.fields])
    for r in rows:
        if len(r) != len(st.fields):
            raise ValueError(
                f"literal_df row arity {len(r)} != schema arity "
                f"{len(st.fields)}")
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(r, st.fields)])
        for r in rows
    ]
    return (spark.range(1)
            .select(F.explode(F.array(*structs)).alias("_r"))
            .select("_r.*"))


def source_ident(src_paths: list[str]) -> str:
    """(mtime, size) identity string for a set of source files — THE
    cache-keying convention of the lake. Shared by landed_artifact's
    one-shot artifacts and the mutable index ledgers (plans/ledger_q)
    so hardening the keying (e.g. mtime_ns) happens in one place."""
    ids = []
    for p in src_paths:
        try:
            st = os.stat(p)
            ids.append(f"{int(st.st_mtime)}_{st.st_size}")
        except OSError:
            ids.append("unknown")
    return "_".join(ids)


def landed_artifact(*, name: str, src_paths: list[str], params: str,
                    write) -> str:
    """Path-level core of :func:`landed_parquet` — build-once/read-many
    for ANY on-disk artifact format. Computes the identity-keyed lake
    path; if unpublished, calls ``write(tmp_dir)`` and publishes with an
    atomic rename so concurrent builders (bench + oracle checker) can
    never serve each other a half-written artifact; the loser discards.
    ``write`` must leave a ``_SUCCESS`` marker (every Spark
    ``df.write`` does). Returns the published path. Format-specific
    landings (JSONL/ORC exports in ``sources/files.py``) reuse this so
    the keying and publish semantics stay in one place.
    """
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "spark_graft_lake",
                        f"{name}_{params}_{source_ident(src_paths)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return path


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

"""Structured Streaming plane (SURVEY §2.H).

The reference is batch-with-incremental-aspirations: a chunked
catch-up cursor (H1, `internal/indexer/indexer.go:121-189`), a
*declared* resume file that was never implemented (H2,
`README.md:60,176-178` — no code reads `.progress.json`), tx-hash
dedup with no late-data story (H5), and a per-key FSM that only runs
offline (H4). Structured Streaming supplies all four natively:

- H1/H2: file-source streams + ``checkpointLocation`` — the offset
  log IS `.progress.json` done right; restart resumes exactly-once.
- H3: tumbling ``window()`` aggregation with watermarks.
- H5: ``withWatermark + dropDuplicates`` — bounded-state dedup.
- H4: ``applyInPandasWithState`` port of the z-score FSM emitting
  live signals with a processing-time timeout as the `max_hold` stop.

At scale these run identically on a cluster: the micro-batch planner
reuses the same Catalyst plans as the batch pipeline (decode_event is
shared code, not a streaming fork).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.index_ledger import EpochLedger, geometry_guard
from ..sources.abi import RAW_LOG_SCHEMA, AbiEvent, decode_event


def _foreach_batch(df: DataFrame, per_batch, checkpoint: str,
                   trigger_once: bool):
    """Start ``df``'s foreachBatch stream with its offset checkpoint;
    ``trigger_once`` drains what is available and stops."""
    w = (df.writeStream.foreachBatch(per_batch)
         .option("checkpointLocation", checkpoint))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def _stream_index(df: DataFrame, update, *, out_dir: str, checkpoint: str,
                  trigger_once: bool):
    """foreachBatch runner of a landed-index ingest: ``update(batch_df,
    batch_id)`` increments the index (its ``batch_id=b<epoch>/``
    directory overwritten on replay) and returns the batch's result,
    which lands under ``out_dir/batch_id=<epoch>/``, also overwritten
    on replay. foreachBatch is at-least-once; a crashed-and-replayed
    epoch still converges to one copy of both — the partition
    directory IS the ledger entry. An empty micro-batch is a no-op."""
    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update(batch_df, str(int(batch_id))).write.mode("overwrite") \
            .parquet(os.path.join(out_dir, f"batch_id={int(batch_id)}"))

    return _foreach_batch(df, per_batch, checkpoint, trigger_once)


def stream_raw_logs(spark: SparkSession, path: str) -> DataFrame:
    """Incremental raw-log source over a landing directory (the
    streaming analog of the chunked catch-up scan)."""
    return (
        spark.readStream.schema(RAW_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stream_decode(raw: DataFrame, event: AbiEvent, *,
                  contract_name: str = "") -> DataFrame:
    """Streaming decode — same decode_event plan as batch (shared
    code path; the micro-batch planner re-plans it per trigger)."""
    return decode_event(raw, event, contract_name=contract_name)


def write_decoded(decoded: DataFrame, out_dir: str, checkpoint: str,
                  *, trigger_once: bool = True):
    """Exactly-once sink: parquet + checkpoint offset log (H2/H6 — the
    at-most-once resume the reference documents becomes exactly-once)."""
    w = (decoded.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def dedup_stream(events: DataFrame, *, ts_col: str, key_cols: list[str],
                 watermark: str = "10 minutes") -> DataFrame:
    """Late/duplicate handling (H5): watermark bounds the dedup state,
    so state size is O(keys within the watermark window), not O(all
    history) — the property that makes this viable at 100 TB/day."""
    return events.withWatermark(ts_col, watermark) \
                 .dropDuplicates([*key_cols, ts_col])


def windowed_counts(events: DataFrame, *, ts_col: str, key: str,
                    window: str = "60 seconds",
                    watermark: str | None = "5 minutes") -> DataFrame:
    """Tumbling-window aggregation (H3 — the streaming resample).

    Pass ``watermark=None`` when an upstream operator (e.g.
    dedup_stream) already defined one — a stream's watermark cannot
    be redefined mid-pipeline."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.window(ts_col, window), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"),
             F.last("value", ignorenulls=True).alias("last_value"))
    )


def session_stats(events: DataFrame, *, ts_col: str, key: str,
                  gap: str = "30 minutes",
                  watermark: str = "10 minutes") -> DataFrame:
    """Event-time sessionization (the streaming twin of the batch
    lag-gap sessionize in plans/analytics_ext.py): ``session_window``
    merges events closer than ``gap`` into one growing window per key,
    and the watermark both admits late events and bounds state — a
    session closes (and emits) once the watermark passes its end.

    Works identically in batch (returns closed sessions immediately),
    so the same plan serves backfill and live."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                 F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(key, F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"), "n_events",
                "total_value")
    )


SIGNAL_SCHEMA = (
    "pool string, ts long, side string, z double, action string"
)
FSM_STATE_SCHEMA = "side string, entry_ts long, entry_z double, held int"


def live_signal_fsm(df: DataFrame, *, entry_z: float = 1.5,
                    exit_z: float = 0.5, max_hold: int = 60,
                    idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming port of the z-score FSM (E2→H4): per-pool state
    carries the open position across micro-batches; emits OPEN/CLOSE
    actions. Two evictions mirror the batch time stop (SURVEY §7 hard
    part 6): in-band ``max_hold`` rows, and — when ``idle_timeout_ms``
    is set — a processing-time timeout: a pool that stops ticking for
    that long has its open position force-closed (action EVICT) and
    its state dropped, so state size tracks ACTIVE pools, not all
    pools ever seen. Off by default: a pending timeout keeps
    ``processAllAvailable()``-style drains from quiescing, so turn it
    on for long-running queries, not drain-and-assert tests.

    Input: streaming df with columns (pool string, ts long, z double).
    """

    def fsm(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        (pool,) = key
        if state.exists:
            side, entry_ts, entry_z_val, held = state.get
        else:
            side, entry_ts, entry_z_val, held = None, 0, 0.0, 0
        if state.hasTimedOut:
            state.remove()
            if side is not None:
                yield pd.DataFrame(
                    [(pool, entry_ts, side, entry_z_val, "EVICT")],
                    columns=["pool", "ts", "side", "z", "action"])
            return
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts", kind="mergesort")
            for ts, z in zip(pdf["ts"], pdf["z"]):
                if z != z:
                    # NaN rows advance the hold clock but can never
                    # close — exactly the batch FSM's held = i−entry_i
                    # index distance (operators/backtest.py E2), so the
                    # two planes stay trade-for-trade equivalent.
                    if side is not None:
                        held += 1
                    continue
                ts = int(ts)
                if side is None:
                    if z <= -entry_z:
                        side, entry_ts, entry_z_val, held = "long", ts, float(z), 0
                        out.append((pool, ts, side, float(z), "OPEN"))
                    elif z >= entry_z:
                        side, entry_ts, entry_z_val, held = "short", ts, float(z), 0
                        out.append((pool, ts, side, float(z), "OPEN"))
                else:
                    held += 1
                    if abs(z) <= exit_z or held >= max_hold:
                        out.append((pool, ts, side, float(z), "CLOSE"))
                        side = None
        if side is None:
            state.remove()
        else:
            state.update((side, entry_ts, entry_z_val, held))
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=["pool", "ts", "side", "z", "action"])

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (
        df.groupBy("pool")
        .applyInPandasWithState(
            fsm, SIGNAL_SCHEMA, FSM_STATE_SCHEMA, "append", timeout_conf,
        )
    )


def _jdbc_table_exists(spark, url: str, table: str,
                       driver: str | None) -> bool:
    """Table-existence probe via JDBC metadata (a driver-side
    connection through the JVM — no Spark job)."""
    jvm = spark._jvm  # noqa: SLF001
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getTables(None, None, table.upper(), None)
        return bool(rs.next())
    finally:
        conn.close()


def _jdbc_execute(spark, url: str, sql: str, driver: str | None) -> None:
    jvm = spark._jvm  # noqa: SLF001
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute(sql)
        st.close()
    finally:
        conn.close()


def write_jdbc_exactly_once(decoded: DataFrame, url: str, *,
                            table: str, checkpoint: str,
                            driver: str | None = None,
                            trigger_once: bool = True):
    """Exactly-once streaming JDBC sink (H6 for transactional targets).

    Parquet sinks get exactly-once from the checkpoint offset log plus
    idempotent file manifests; JDBC appends are not idempotent, so
    each micro-batch is made REPLAY-IDEMPOTENT instead of fenced:
    every row carries its ``_batch_id``, and the sink deletes that
    batch's rows (one driver-side DELETE over a direct JDBC
    connection) before appending. A crash at ANY point — mid-append,
    between partitions, before or after commit — replays the batch,
    the delete clears whatever fraction landed, and the append rewrites
    it whole. No ledger, no window in which a replay can duplicate;
    errors in the existence probe or delete propagate (failing the
    batch for retry) rather than silently skipping the fence.
    """
    opts = {"driver": driver} if driver else {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _jdbc_table_exists(spark, url, table, driver):
            # ANSI-quoted: Spark's JDBC writer creates the column as a
            # quoted lowercase identifier
            _jdbc_execute(
                spark, url,
                f'DELETE FROM {table} WHERE "_batch_id" = {int(batch_id)}',
                driver)
        (batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("append").format("jdbc")
         .option("url", url).option("dbtable", table)
         .options(**opts).save())

    return _foreach_batch(decoded, sink, checkpoint, trigger_once)


def stream_interval_join(left: DataFrame, right: DataFrame, *,
                         key: str, left_ts: str, right_ts: str,
                         within: str = "10 minutes",
                         watermark: str = "10 minutes",
                         how: str = "inner") -> DataFrame:
    """Watermarked stream-stream interval join — the canonical
    attribution shape: a right-stream event matches a left-stream
    event with the same ``key`` when it lands in
    ``[left_ts, left_ts + within]`` (clicks within N minutes of the
    impression; fills within N seconds of the order).

    Both inputs get event-time watermarks and the join predicate
    carries the time bound, which is exactly what Spark's state store
    needs to EVICT: buffered rows age out once the watermark passes
    their join window, so state is O(traffic within the interval), not
    O(history) — the property that makes a stream-stream join run
    forever at 100 TB/day. Without the interval predicate Spark would
    (rightly) refuse an inner stream-stream join as unbounded.

    Returns the joined stream (left columns prefixed ``l_``, right
    ``r_`` where names collide). For the default ``how='inner'`` the
    same plan runs in batch for backfill with identical results (the
    equivalence test asserts it). Outer modes are supported but NOT
    batch-equivalent on a bounded input: Spark emits an unmatched
    row's NULL side only once the watermark passes its join window,
    and the watermark never advances past the last observed event
    time, so rows near the end of input can terminate still buffered
    — standard stream-stream outer-join semantics.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how)
    # disambiguate colliding names so the result is sink-able
    lcols = [F.col(f"l.{c}").alias(f"l_{c}" if c in right.columns else c)
             for c in left.columns]
    rcols = [F.col(f"r.{c}").alias(f"r_{c}" if c in left.columns else c)
             for c in right.columns]
    return joined.select(*lcols, *rcols)


def stream_near_dups(docs: DataFrame, *, index_path: str, pairs_dir: str,
                     checkpoint: str, id_col: str = "doc_id",
                     text_col: str = "text", trigger_once: bool = True):
    """Near-dup detection AT INGEST TIME: each micro-batch of documents
    updates the landed LSH band index (operators/dedup.
    update_near_dup_index) and appends the candidate pairs it created
    against everything ingested so far.

    ``foreachBatch`` is the right primitive here — the per-batch work
    is a batch join against a growing external index, not a
    watermarkable stream-stream join. Exactly-once by overwrite on
    replay (:func:`_stream_index`): the index increment under
    ``batch_id=b<epoch>/band=*/``, the pair rows under
    ``batch_id=<epoch>/`` in ``pairs_dir``.

    Exactly-once scope: the INDEX is exactly-once; pairs are
    idempotent per batch_id directory but NOT globally unique — a
    replayed epoch recomputes its pairs against an index that may
    already hold later epochs, so its directory can come back a
    superset and the same (id_a, id_b) can appear under more than one
    batch_id. Downstream consumers must dedup on (id_a, id_b).

    State at 100 TB: the index is a parquet lake physically partitioned
    by band; per-batch cost is O(batch) + the (band, key)-pruned join —
    no unbounded executor state, unlike a dropDuplicates over all
    history.
    """
    from ..operators.dedup import update_near_dup_index

    return _stream_index(
        docs, lambda b, bid: update_near_dup_index(
            b.sparkSession, b, index_path, id_col=id_col,
            text_col=text_col, batch_id=bid),
        out_dir=pairs_dir, checkpoint=checkpoint, trigger_once=trigger_once)


def stream_ann_ingest(vecs: DataFrame, *, index_path: str,
                      neighbors_dir: str, checkpoint: str,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      k: int = 5, n_cells: int = 16, n_probe: int = 4,
                      n_assign: int | None = None,
                      trigger_once: bool = True):
    """ANN ingest AT STREAM TIME — the embedding twin of
    stream_near_dups: each micro-batch of vectors updates the landed
    IVF index (operators/similarity.update_ann_index, frozen coarse
    quantizer) and lands the batch's top-k neighbors against
    everything ingested so far under ``batch_id=<epoch>/`` in
    ``neighbors_dir``.

    Exactly-once as stream_near_dups (the index increment under
    ``batch_id=b<epoch>/cell=N/``). Neighbor semantics are as-of-arrival: a batch's
    top-k sees every EARLIER vector but not later ones, the contract
    an ingest-time enrichment wants; a full-history re-query is
    ivf_topk over the final lake. Streaming equals the manual
    batch-loop bit-for-bit (tested).

    State at 100 TB: no executor state at all — the index is a
    cell-partitioned parquet lake, per-batch cost is O(batch) map-only
    assignment + a probe join pruned to the batch's touched cells.
    """
    from ..operators.similarity import update_ann_index

    extra = {} if n_assign is None else {"n_assign": n_assign}
    return _stream_index(
        vecs, lambda b, bid: update_ann_index(
            b.sparkSession, b, index_path, id_col=id_col, vec_col=vec_col,
            k=k, n_cells=n_cells, n_probe=n_probe, batch_id=bid, **extra),
        out_dir=neighbors_dir, checkpoint=checkpoint,
        trigger_once=trigger_once)


def stream_pq_ingest(vecs: DataFrame, *, index_path: str,
                     neighbors_dir: str, checkpoint: str,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     k: int = 5, n_sub: int | None = None,
                     n_cents: int | None = None,
                     train_iter: int | None = None,
                     trigger_once: bool = True):
    """PQ ingest AT STREAM TIME — the codes-ledger twin of
    stream_ann_ingest: each micro-batch updates the landed PQ index
    (operators/similarity.update_pq_index — codebooks trained on the
    FIRST epoch and frozen with their geometry stamp) and lands the
    batch's top-k neighbors against everything ingested so far under
    ``batch_id=<epoch>/`` in ``neighbors_dir``.

    Exactly-once as stream_near_dups (codes under
    ``batch_id=b<epoch>/``). Neighbor semantics are as-of-arrival, the
    ingest-time enrichment contract; a full-history re-query is one
    ``probe_pq_index`` over the final lake. Streaming equals the
    manual batch loop bit-for-bit (tested).

    State at 100 TB: no executor state — the index is a
    bucket-partitioned codes lake (~40 B/vector), per-batch cost is
    one encode pass plus the chunked ADC probe of landed codes.
    """
    from ..operators.similarity import (PQ_CENTS, PQ_SUB,
                                        PQ_TRAIN_ITER, update_pq_index)

    kw = {"n_sub": PQ_SUB if n_sub is None else n_sub,
          "n_cents": PQ_CENTS if n_cents is None else n_cents,
          "train_iter": (PQ_TRAIN_ITER if train_iter is None
                         else train_iter)}

    return _stream_index(
        vecs, lambda b, bid: update_pq_index(
            b.sparkSession, b, index_path, id_col=id_col, vec_col=vec_col,
            k=k, batch_id=bid, **kw),
        out_dir=neighbors_dir, checkpoint=checkpoint,
        trigger_once=trigger_once)


def stream_ivfpq_ingest(vecs: DataFrame, *, index_path: str,
                        neighbors_dir: str, checkpoint: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        k: int = 5, n_cells: int | None = None,
                        n_probe: int | None = None,
                        n_assign: int | None = None,
                        n_sub: int | None = None,
                        n_cents: int | None = None,
                        train_iter: int | None = None,
                        trigger_once: bool = True):
    """IVF-PQ ingest AT STREAM TIME — the composed twin of
    stream_ann_ingest (cell pruning) and stream_pq_ingest (landed
    codes): each micro-batch updates the landed IVF-PQ index
    (operators/similarity.update_ivfpq_index — coarse quantizer AND
    codebooks frozen on the FIRST epoch with the ipq_geom stamp) and
    lands the batch's probe-pruned top-k neighbors against everything
    ingested so far under ``batch_id=<epoch>/`` in ``neighbors_dir``.

    Exactly-once as stream_near_dups (codes under
    ``batch_id=b<epoch>/cell=<n>/``). Neighbor semantics are as-of-arrival, the ingest-time
    enrichment contract; a full-history re-query is one
    ``probe_ivfpq_index`` over the final lake. Streaming equals the
    manual batch loop bit-for-bit (tested).

    State at 100 TB: no executor state — the index is a
    CELL-partitioned codes lake (~40 B/vector), per-batch cost is one
    encode pass + map-only soft assignment + a chunked ADC probe that
    parquet-prunes to the batch's probed cells.
    """
    from ..operators.similarity import (IVF_ASSIGN, IVF_CELLS,
                                        IVF_PROBE, PQ_CENTS, PQ_SUB,
                                        PQ_TRAIN_ITER,
                                        update_ivfpq_index)

    kw = {"n_cells": IVF_CELLS if n_cells is None else n_cells,
          "n_probe": IVF_PROBE if n_probe is None else n_probe,
          "n_assign": IVF_ASSIGN if n_assign is None else n_assign,
          "n_sub": PQ_SUB if n_sub is None else n_sub,
          "n_cents": PQ_CENTS if n_cents is None else n_cents,
          "train_iter": (PQ_TRAIN_ITER if train_iter is None
                         else train_iter)}

    return _stream_index(
        vecs, lambda b, bid: update_ivfpq_index(
            b.sparkSession, b, index_path, id_col=id_col, vec_col=vec_col,
            k=k, batch_id=bid, **kw),
        out_dir=neighbors_dir, checkpoint=checkpoint,
        trigger_once=trigger_once)


def stream_ivfpq_deletes(ids: DataFrame, *, index_path: str,
                         checkpoint: str, id_col: str = "vec_id",
                         trigger_once: bool = True):
    """Forget-me requests AT STREAM TIME: each micro-batch of ids
    tombstones the landed IVF-PQ index
    (operators/similarity.delete_from_ivfpq_index) — the deletion
    twin of stream_ivfpq_ingest, exactly-once the same way (each epoch
    overwrites its ``tombs/batch_id=b<epoch>/`` on replay). Deleted
    vectors stop surfacing immediately on every read path; the next
    full compaction applies them physically. An empty micro-batch is
    a no-op; a batch arriving before the index exists FAILS the
    stream loudly (a deletion queue pointed at a missing index is a
    wiring bug, not a condition to absorb silently)."""
    from ..operators.similarity import delete_from_ivfpq_index

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delete_from_ivfpq_index(batch_df.sparkSession, batch_df,
                                index_path, id_col=id_col,
                                batch_id=str(batch_id))

    return _foreach_batch(ids, per_batch, checkpoint, trigger_once)


def stream_export_shards(docs: DataFrame, *, out_dir: str, checkpoint: str,
                         key: str = "doc_id", n_shards: int = 64,
                         salt: str = "shard", trigger_once: bool = True):
    """Training-shard export AT INGEST TIME: each micro-batch lands
    under ``batch_id=<epoch>/shard=<N>/`` with the deterministic
    assignment of operators/curation.shard_assignment — a document's
    shard is a pure hash of its key, so assignment never depends on
    which batch delivered it, and re-exporting after growth never
    moves old documents between shards.

    Exactly-once like stream_near_dups (overwrite on replay). Readers
    see one lake with (batch_id, shard) partition columns; the global
    receipt is ``shard_manifest(read_shard_lake(spark, out_dir))``
    (checksums are order- and batch-insensitive sums, so incremental
    and one-shot exports agree — tested).
    """
    return _foreach_batch(
        docs, lambda b, e: shard_epoch(b, e, out_dir=out_dir, key=key,
                                       n_shards=n_shards, salt=salt),
        checkpoint, trigger_once)


def shard_epoch(batch_df: DataFrame, batch_id: int, *, out_dir: str,
                key: str = "doc_id", n_shards: int = 64,
                salt: str = "shard") -> None:
    """One shard-export epoch: the batch's deterministic shard
    assignment landed under ``out_dir/batch_id=<epoch>/shard=<N>/`` —
    the shared body of stream_export_shards' foreachBatch closure AND
    the q140 lifecycle query. Assignment is a pure hash of the key, so
    replays are exactly-once and late growth never moves old documents
    between shards."""
    from ..operators.curation import shard_assignment
    from ..operators.index_ledger import touch_liveness

    if batch_df.isEmpty():
        return
    assigned = shard_assignment(batch_df, key=key,
                                n_shards=n_shards, salt=salt)
    (assigned.repartition(min(n_shards, 32), "shard")
     .sortWithinPartitions("shard", "ord_key")
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(out_dir, f"batch_id={int(batch_id)}")))
    touch_liveness(out_dir)


def read_shard_lake(spark: SparkSession, out_dir: str) -> DataFrame:
    """The shard lake's COMMITTED epochs (:class:`EpochLedger`
    listing: an epoch torn by a crash mid-write is not read until its
    replay commits it), with the (batch_id, shard) partition columns
    of a plain read of ``out_dir``."""
    return spark.read.option("basePath", out_dir).parquet(
        *EpochLedger(spark, out_dir).live_paths())


def stream_jsonl(spark: SparkSession, src_dir: str, schema, *,
                 corrupt_col: str = "_corrupt",
                 max_files: int | None = None) -> DataFrame:
    """Streaming JSONL corpus ingest: tail a drop directory of
    newline-JSON shards (the standard web-scrape delivery shape) as a
    file-source stream. Same parser discipline as the batch reader
    (``sources/files.py``): explicit schema — NEVER inference, which
    a stream cannot do consistently anyway — and a ``corrupt_col``
    capture column via ``from_json``, so malformed lines are routable
    rows. ``max_files`` caps files per micro-batch
    (``maxFilesPerTrigger``) to bound batch size during catch-up on a
    large backlog.
    """
    from pyspark.sql import types as T

    from ..sources.files import _parse_jsonl_lines

    full = schema
    if corrupt_col not in schema.names:
        full = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col,
                                                 T.StringType())])
    r = spark.readStream
    if max_files:
        r = r.option("maxFilesPerTrigger", int(max_files))
    # shared parse with the batch reader: blank lines skipped,
    # non-object JSON values (literal null / bare scalars) quarantined
    return _parse_jsonl_lines(r.text(src_dir), full, "PERMISSIVE",
                              corrupt_col)


def stream_jsonl_ingest(parsed: DataFrame, *, out_dir: str,
                        quarantine_dir: str, checkpoint: str,
                        corrupt_col: str = "_corrupt",
                        trigger_once: bool = True):
    """Land a :func:`stream_jsonl` stream as parquet, splitting clean
    rows from malformed lines: clean rows (corrupt capture NULL) land
    under ``out_dir/batch_id=<epoch>/``, the raw text of bad lines
    under ``quarantine_dir/batch_id=<epoch>/`` — nothing is dropped,
    and the quarantine is greppable evidence for upstream bug reports.

    Exactly-once like ``stream_export_shards`` (overwrite on replay).
    Two sinks from one micro-batch is exactly the case the native file
    sink can't express (one sink per query) — foreachBatch is the
    documented escape hatch.
    """
    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one pass, two filtered writes; the micro-batch source is
        # re-read per action but it is a bounded file slice
        clean = batch_df.filter(F.col(corrupt_col).isNull()) \
            .drop(corrupt_col)
        clean.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={int(batch_id)}"))
        bad = batch_df.filter(F.col(corrupt_col).isNotNull()) \
            .select(F.col(corrupt_col).alias("raw_line"))
        if not bad.isEmpty():
            bad.write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"batch_id={int(batch_id)}"))

    return _foreach_batch(parsed, per_batch, checkpoint, trigger_once)


def _stream_ledger(df: DataFrame, epoch, *, state_dir: str, checkpoint: str,
                   trigger_once: bool, compact=None,
                   compact_every: int | None = None):
    """foreachBatch runner of an epoch ledger: ``epoch(batch_df,
    batch_id)`` lands each micro-batch; with ``compact_every=N`` the
    ledger self-compacts (``compact(spark)``) whenever N live epochs
    accumulate. The stream is the ledger's single writer, so
    compacting inside foreachBatch can't race, and a replayed
    already-folded epoch is ignored as a ghost by the readers."""
    if compact_every is not None and compact_every < 2:
        raise ValueError(f"compact_every must be >= 2, got {compact_every}")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        epoch(batch_df, batch_id)
        spark = batch_df.sparkSession
        if compact_every is not None and len(EpochLedger(
                spark, state_dir).live_epochs()) >= compact_every:
            compact(spark)

    return _foreach_batch(df, per_batch, checkpoint, trigger_once)


def stream_token_sketch(docs: DataFrame, *, sketch_dir: str,
                        checkpoint: str, text_col: str = "text",
                        depth: int | None = None, width: int | None = None,
                        trigger_once: bool = True):
    """Corpus frequency statistics AT INGEST TIME: each micro-batch of
    documents folds into a count-min sketch (operators/sketches.
    cm_sketch over the batch's tokens) landed under
    ``sketch_dir/batch_id=<epoch>/``. Because CM counters are plain
    sums, the GLOBAL sketch is the cell-wise sum of every epoch's
    sketch — :func:`read_token_sketch` — and incremental == one-shot
    exactly (merge law, tested), with no rescan of history ever.

    Exactly-once by the :class:`EpochLedger` protocol. Per-batch state
    is O(depth·width), the landed lake is O(epochs · depth·width) tiny
    counter rows — at 100 TB this is the only way "how often does
    token x occur in the whole corpus so far" stays answerable without
    a vocabulary-sized shuffle per question.
    """
    from ..operators.sketches import CM_DEPTH, CM_WIDTH

    d = CM_DEPTH if depth is None else depth
    w_ = CM_WIDTH if width is None else width
    if d < 1 or w_ < 1:
        raise ValueError(f"sketch geometry must be positive, got "
                         f"depth={d} width={w_}")
    return _stream_ledger(
        docs, lambda b, e: cm_epoch(b, e, sketch_dir=sketch_dir,
                                    text_col=text_col, depth=d, width=w_),
        state_dir=sketch_dir, checkpoint=checkpoint,
        trigger_once=trigger_once)


def cm_epoch(batch_df: DataFrame, batch_id: int, *, sketch_dir: str,
             text_col: str = "text", depth: int | None = None,
             width: int | None = None) -> None:
    """One CM ledger epoch: the batch's token count-min sketch landed
    under ``sketch_dir/batch_id=<epoch>/`` — the shared body of
    stream_token_sketch's foreachBatch closure AND the q137 lifecycle
    query. Exactly-once: see :class:`EpochLedger`."""
    from ..functions.text import tokens
    from ..operators.sketches import CM_DEPTH, CM_WIDTH, cm_sketch

    EpochLedger(batch_df.sparkSession, sketch_dir).write(
        batch_df, batch_id, lambda b: cm_sketch(
            b.select(F.explode(tokens(text_col)).alias("tok")), "tok",
            depth=CM_DEPTH if depth is None else depth,
            width=CM_WIDTH if width is None else width))


def _cm_epoch_fold(df: DataFrame) -> DataFrame:
    """Cell-wise CM fold, geometry asserted GLOBALLY (cm_merge's
    pattern, :func:`geometry_guard`); the coalesce keeps an empty
    ledger a no-op."""
    return (geometry_guard(
        df, F.coalesce(F.min("geom") == F.max("geom"), F.lit(True)),
        F.concat(F.lit("count-min geometry mismatch across epochs: "),
                 F.concat_ws(" vs ", F.min("geom"), F.max("geom"))))
        .groupBy("depth", "cell")
        .agg((F.sum("cnt") * F.first("_geom_ok")).alias("cnt"),
             F.min("geom").alias("geom")))


def read_token_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Fold the LIVE landed epoch sketches into the global one:
    cell-wise addition over O(live epochs · depth·width) counter rows
    — bounded by sketch geometry, never by corpus or vocabulary size.
    Live = the newest compacted baseline plus every newer epoch
    (:class:`EpochLedger`). Epochs landed with mismatched geometry
    fail the fold's GLOBAL assertion. Feed the result to
    ``operators.sketches.cm_estimate``."""
    return _cm_epoch_fold(EpochLedger(spark, sketch_dir).read())


def compact_epoch_ledger(spark: SparkSession, state_dir: str,
                         fold, *, keep_last: int = 0,
                         gc: bool = True) -> int | None:
    """Fold all live epochs except the newest ``keep_last`` into a new
    compacted baseline; returns the new baseline's ``upto`` epoch (or
    None when there is nothing to compact). ``fold`` maps the raw
    union of live state rows to the folded state (the same combine
    the ledger's reader uses). With ``gc=True`` the superseded
    directories are deleted after the new baseline commits; see
    :meth:`EpochLedger.compact`."""
    return EpochLedger(spark, state_dir).compact(fold, keep_last=keep_last,
                                                 gc=gc)


def _mv_geom(ks: list, value: str) -> str:
    return "|".join(ks) + "|" + value


def _matview_fold(df: DataFrame, ks: list) -> DataFrame:
    """Matview monoid fold. Epochs of different (keys, value) geometry
    share one state schema, so the guard asserts one geom across every
    folded row, carrying the reader's keys. ``geom`` stays on the
    output for compaction baselines; read_matview drops it."""
    if "geom" not in df.columns:
        raise ValueError(
            "matview ledger predates the geometry stamp — rebuild it "
            "(epochs land the stamp since matview_epoch gained geom)")
    prefix = "|".join(ks) + "|"
    ok = F.coalesce(
        (F.count_distinct("geom") == 1)
        & (F.count(F.when(~F.col("geom").startswith(prefix),
                          F.lit(1))) == 0), F.lit(True))
    msg = F.concat(F.lit("matview geometry mismatch: ledger holds "),
                   F.concat_ws(",", F.collect_set("geom")),
                   F.lit(f", read with keys {ks}"))
    return (geometry_guard(df, ok, msg)
            .groupBy(*ks)
            .agg((F.sum("n") * F.first("_geom_ok")).cast("long")
                 .alias("n"),
                 F.sum("sum").cast("decimal(38,6)").alias("sum"),
                 F.when(F.sum(((F.col("n") > 0)
                               & F.col("sumsq").isNull())
                              .cast("int")) == 0, F.sum("sumsq"))
                  .cast("decimal(38,12)").alias("sumsq"),
                 F.min("min").alias("min"),
                 F.max("max").alias("max"),
                 F.min("geom").alias("geom")))


def compact_matview(spark: SparkSession, state_dir: str,
                    keys: str | list[str], *, keep_last: int = 0,
                    gc: bool = True) -> int | None:
    """Log-compact a ``stream_matview`` ledger (matview monoid fold;
    geometry re-checked globally across the folded epochs and kept on
    the baseline rows)."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    return compact_epoch_ledger(spark, state_dir,
                                lambda df: _matview_fold(df, ks),
                                keep_last=keep_last, gc=gc)


def compact_token_sketch(spark: SparkSession, sketch_dir: str, *,
                         keep_last: int = 0, gc: bool = True) -> int | None:
    """Log-compact a ``stream_token_sketch`` ledger (cell-wise CM sum;
    geometry re-checked GLOBALLY across the folded epochs — see
    :func:`_cm_epoch_fold`)."""
    return compact_epoch_ledger(spark, sketch_dir, _cm_epoch_fold,
                                keep_last=keep_last, gc=gc)


# KMV distinct-count ledger: per-(group, kind) sketches in LONG form
# (operators/sketches.kmv_sketch_many), each row stamped "k<k>/<salt>".

def kmv_epoch(batch_df: DataFrame, batch_id: int, *, state_dir: str,
              keys: "dict[str, str]", group_cols=(), k: int | None = None,
              salts: "dict[str, str] | None" = None) -> None:
    """One KMV ledger epoch: the batch's per-(group, kind) sketches
    landed under ``state_dir/batch_id=<epoch>/``. Module-level so the
    q136 lifecycle query drives byte-identical logic to the stream's
    foreachBatch body. Exactly-once: see :class:`EpochLedger`."""
    from ..operators.sketches import KMV_K, kmv_sketch_many

    kk = KMV_K if k is None else k
    salts = salts or {}
    names = list(keys)
    stack_args = ", ".join(f"'{n}', {n}" for n in names)
    geom = F.create_map(*[
        x for n in names
        for x in (F.lit(n),
                  F.lit(f"k{kk}/{salts.get(n, f'kmv-{n}')}"))])

    def fold(b: DataFrame) -> DataFrame:
        wide = kmv_sketch_many(b, keys, group_cols=list(group_cols),
                               k=kk, salts=salts)
        return (wide.select(
            *group_cols,
            F.expr(f"stack({len(names)}, {stack_args}) AS (kind, sketch)"))
            .withColumn("geom", F.element_at(geom, F.col("kind"))))

    EpochLedger(batch_df.sparkSession, state_dir).write(
        batch_df, batch_id, fold)


def _kmv_epoch_fold(df: DataFrame, group_cols, *,
                    k: int | None = None) -> DataFrame:
    """Merge per-epoch KMV sketches: per (group, kind), the k smallest
    of the union of the epochs' hash sets — exact by the KMV merge
    law. The checked bit gates the output arrays; empty sketches
    (all-NULL key groups) survive as empty arrays."""
    from ..operators.sketches import KMV_K

    kk = KMV_K if k is None else k
    groups = list(group_cols)
    # two global assertions: (a) one geom per kind across every folded
    # row; (b) every geom carries the READER's k — a k=8 ledger folded
    # with k=64 would otherwise slice harmlessly but then take
    # kmv_estimate_expr's "size < k ⇒ exact" branch and report a
    # sketch SIZE as an exact count (silent, catastrophic)
    ok = F.coalesce(
        (F.count_distinct(F.struct("kind", "geom"))
         == F.count_distinct(F.col("kind")))
        & (F.count(F.when(~F.col("geom").startswith(f"k{kk}/"),
                          F.lit(1))) == 0), F.lit(True))
    msg = F.lit("kmv geometry mismatch: a kind was landed with more "
                f"than one k/salt, or not with k={kk} (the reader's k "
                "must match the ledger's)")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.collect_list("_h"))), 1, kk)
    return (geometry_guard(df, ok, msg)
            .select(*groups, "kind", "geom", "_geom_ok",
                    F.explode_outer("sketch").alias("_h"))
            .groupBy(*groups, "kind")
            .agg(F.when(F.first("_geom_ok") == 1, merged).alias("sketch"),
                 F.min("geom").alias("geom")))


def read_kmv_sketch(spark: SparkSession, state_dir: str, group_cols, *,
                    k: int | None = None) -> DataFrame:
    """The live folded sketches — bit-identical to a one-shot
    ``kmv_sketch_many`` over the whole landed history (KMV merge is
    exact). O(live epochs · groups · kinds · k) longs ever move; feed
    the result's ``sketch`` column to ``kmv_estimate_expr``."""
    return _kmv_epoch_fold(EpochLedger(spark, state_dir).read(),
                           group_cols, k=k)


def compact_kmv_sketch(spark: SparkSession, state_dir: str, group_cols, *,
                       k: int | None = None, keep_last: int = 0,
                       gc: bool = True) -> int | None:
    """Log-compact a KMV ledger (per-(group, kind) k-smallest merge —
    legal because the fold is an exact idempotent monoid; geometry
    re-checked globally across the folded epochs)."""
    return compact_epoch_ledger(
        spark, state_dir, lambda df: _kmv_epoch_fold(df, group_cols, k=k),
        keep_last=keep_last, gc=gc)


def stream_kmv_sketch(events: DataFrame, *, state_dir: str,
                      checkpoint: str, keys: "dict[str, str]",
                      group_cols=(), k: int | None = None,
                      salts: "dict[str, str] | None" = None,
                      trigger_once: bool = True,
                      compact_every: int | None = None):
    """Distinct-count statistics AT INGEST TIME — the streaming twin
    of the q115 batch sketches: each micro-batch lands its own KMV
    sketches (``kmv_epoch``); :func:`read_kmv_sketch` folds the live
    epochs into the exact one-shot sketch of the whole history.

    State at 100 TB: per-epoch cost is the batch-bounded sketch build
    (dedup shuffle + bucketed rank over the BATCH, never history);
    the landed lake is O(live epochs · groups · kinds · k) longs and
    self-compacts with ``compact_every=N``."""
    groups = list(group_cols)
    return _stream_ledger(
        events, lambda b, e: kmv_epoch(b, e, state_dir=state_dir, keys=keys,
                                       group_cols=groups, k=k, salts=salts),
        state_dir=state_dir, checkpoint=checkpoint,
        trigger_once=trigger_once, compact_every=compact_every,
        compact=lambda s: compact_kmv_sketch(s, state_dir, groups, k=k))


def stream_matview(events: DataFrame, *, state_dir: str, checkpoint: str,
                   keys: str | list[str], value: str,
                   trigger_once: bool = True,
                   compact_every: int | None = None):
    """Maintained aggregate AT INGEST TIME: each micro-batch folds into
    its own algebraic state partition (operators/matview.
    aggregate_state → ``state_dir/batch_id=<epoch>/``); the live view
    is :func:`read_matview`'s fold over all epochs. Incremental ==
    one-shot exactly, by the matview monoid (decimal sums — no
    fold-order drift), so the view answers "group totals over the
    whole history" without ever rescanning history.

    Exactly-once by the :class:`EpochLedger` protocol. Per-epoch cost
    is one hash aggregate over the batch; the landed lake is O(live
    epochs · |groups|) state rows — with ``compact_every=N`` the
    ledger self-compacts whenever N live epochs accumulate.
    """
    ks = [keys] if isinstance(keys, str) else list(keys)
    return _stream_ledger(
        events, lambda b, e: matview_epoch(b, e, state_dir=state_dir,
                                           keys=ks, value=value),
        state_dir=state_dir, checkpoint=checkpoint,
        trigger_once=trigger_once, compact_every=compact_every,
        compact=lambda s: compact_matview(s, state_dir, ks))


def read_matview(spark: SparkSession, state_dir: str,
                 keys: str | list[str]) -> DataFrame:
    """Fold the LIVE landed epoch states into the current view — the
    same combine as operators/matview.merge_states, over
    O(live epochs·|groups|) state rows (``compact_matview`` bounds the
    live count). Feed the result to ``matview.finalize_state`` for
    derived measures (avg); the fold output stays re-mergeable."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    return _matview_fold(EpochLedger(spark, state_dir).read(),
                         ks).drop("geom")


def matview_epoch(batch_df: DataFrame, batch_id: int, *, state_dir: str,
                  keys: "str | list[str]", value: str) -> None:
    """One matview ledger epoch: the batch's algebraic state
    (operators/matview.aggregate_state) landed under
    ``state_dir/batch_id=<epoch>/`` — the shared body of
    stream_matview's foreachBatch closure AND the q138 lifecycle
    query. Exactly-once: see :class:`EpochLedger`."""
    from ..operators.matview import aggregate_state

    ks = [keys] if isinstance(keys, str) else list(keys)
    EpochLedger(batch_df.sparkSession, state_dir).write(
        batch_df, batch_id,
        lambda b: aggregate_state(b, ks, value).withColumn(
            "geom", F.lit(_mv_geom(ks, value))),
        one_file=False)


def kmeans_epoch(batch_df: DataFrame, batch_id: int, *, state_dir: str,
                 centroids: list, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> None:
    """One streaming k-means epoch: sufficient statistics of the batch
    against the PINNED centroid generation, landed under
    ``state_dir/batch_id=<epoch>/``. Exposed at module level so
    lifecycle registry queries can drive epochs directly with the
    exact foreachBatch body the stream runs.

    The stats are a pure function of (batch rows, pinned centroids) —
    operators/similarity.kmeans_epoch_stats — so the epoch is
    exactly-once (:class:`EpochLedger`), and the generation stamp
    riding every row lets the fold reject a restart that resumed with
    the wrong centroids."""
    from ..operators.similarity import kmeans_epoch_stats

    EpochLedger(batch_df.sparkSession, state_dir).write(
        batch_df, batch_id,
        lambda b: kmeans_epoch_stats(b, centroids, id_col=id_col,
                                     vec_col=vec_col))


def stream_kmeans(vecs: DataFrame, *, state_dir: str, checkpoint: str,
                  centroids: list, id_col: str = "vec_id",
                  vec_col: str = "embedding", trigger_once: bool = True,
                  compact_every: int | None = None):
    """Mini-batch spherical k-means AT INGEST TIME — the streaming
    twin of ``operators/similarity.lloyd_kmeans``, under the same
    epoch-directory ledger as ``stream_matview``.

    Each micro-batch lands the exact decimal sufficient statistics of
    its vectors against a PINNED centroid generation
    (``kmeans_epoch``); :func:`read_kmeans_centroids` folds the live
    epochs and performs one exact Lloyd update. Because the decimal
    component sums are a commutative monoid, the refined generation is
    BIT-IDENTICAL to a one-shot ``_lloyd_fit`` update over the union
    of all streamed epochs — incremental == one-shot, the law every
    ledger tier here obeys, proven for this one by
    tests/test_streaming.py's equivalence suite and driver-checked by
    q130 (which replays the full 2-generation protocol and hashes the
    final assignment against q128's ground-truth oracle).

    Advancing a generation is the caller's move: refine → start a new
    ``state_dir`` (generation roots are sibling directories) with the
    refined centroids. Per-epoch cost is one map pass (compiled-
    literal assignment, no join/shuffle) + one (cell, pos)-keyed
    aggregate with map-side combine; landed state is O(live epochs ·
    k·dim) tiny rows — with ``compact_every=N`` the ledger
    self-compacts."""
    if not centroids:
        raise ValueError("stream_kmeans needs a non-empty centroid "
                         "generation (kmeans_seed_centroids)")
    return _stream_ledger(
        vecs, lambda b, e: kmeans_epoch(b, e, state_dir=state_dir,
                                        centroids=centroids, id_col=id_col,
                                        vec_col=vec_col),
        state_dir=state_dir, checkpoint=checkpoint,
        trigger_once=trigger_once, compact_every=compact_every,
        compact=lambda s: compact_kmeans(s, state_dir))


def read_kmeans_stats(spark: SparkSession, state_dir: str,
                      expect: list | None = None) -> DataFrame:
    """Fold the LIVE landed k-means epochs into generation totals
    (exact decimal monoid per (cell, pos); generation stamp asserted
    globally — see operators/similarity.kmeans_fold_stats). Pass the
    centroid generation the ledger was built against as ``expect``
    whenever the caller knows it: min==max alone accepts a stale but
    internally-consistent ledger, which the refine path always
    rejected but a bare final-generation fold did not."""
    from ..operators.similarity import _kmeans_sig, kmeans_fold_stats

    return kmeans_fold_stats(
        EpochLedger(spark, state_dir).read(),
        expect_sig=None if expect is None else _kmeans_sig(expect))


def read_kmeans_centroids(spark: SparkSession, state_dir: str,
                          centroids: list) -> list:
    """The refined NEXT generation: fold the ledger, one exact Lloyd
    update from the folded decimal sums (same driver math as the
    batch fit — operators/similarity.kmeans_refine). ``centroids``
    must be the generation the ledger was built against (the fold's
    stamp check rejects a mismatch); cells that saw no vectors keep
    their previous centroid. Only k·dim decimals reach the driver."""
    from ..operators.similarity import kmeans_refine

    # the stamp check rides the fold itself (read_kmeans_stats
    # expect=): one shared enforcement path for refine AND bare folds
    rows = read_kmeans_stats(spark, state_dir,
                             expect=centroids).collect()
    return kmeans_refine(centroids, rows)


def compact_kmeans(spark: SparkSession, state_dir: str, *,
                   keep_last: int = 0, gc: bool = True) -> int | None:
    """Log-compact a ``stream_kmeans`` ledger (the (cell, pos) decimal
    fold — legal because the stats are a commutative monoid; the
    generation stamp survives the fold and stays asserted)."""
    from ..operators.similarity import kmeans_fold_stats

    return compact_epoch_ledger(spark, state_dir, kmeans_fold_stats,
                                keep_last=keep_last, gc=gc)


def stream_expectations(events: DataFrame, checks, *, report_dir: str,
                        checkpoint: str, trigger_once: bool = True):
    """Data-quality gate AT INGEST TIME: each micro-batch runs the
    compiled expectations suite (operators/expectations.
    run_expectations — one conditional-aggregate pass per batch plus
    one scan per FK rule) and lands the |rules|-row violations report
    under ``report_dir/batch_id=<epoch>/`` (exactly-once by the
    :class:`EpochLedger` protocol). Downstream a gate-keeper reads the
    per-epoch reports and quarantines or admits the corresponding data
    epochs — the violation history itself is the audit trail.

    ``checks`` must be batch-evaluable: row-level / uniqueness /
    FK-vs-static-dim rules. Uniqueness is per-epoch (cross-epoch
    uniqueness is a maintained-state problem — pair with
    ``stream_matview`` keyed on the tuple if needed).
    """
    return _stream_ledger(
        events, lambda b, e: expectations_epoch(b, e, report_dir=report_dir,
                                                checks=checks),
        state_dir=report_dir, checkpoint=checkpoint,
        trigger_once=trigger_once)


def _exp_geom(checks) -> str:
    """Deterministic fingerprint of an expectations CHECKS LIST — the
    ledger-geometry stamp, rules edition: two epochs landed under
    different suites (a rule added mid-stream, a threshold retuned
    under the same name) have IDENTICAL report schemas, so their
    folded sums would silently mix incomparable counts. The
    fingerprint covers each rule's name, kind, columns, AND predicate
    expression text — renaming nothing but a threshold still changes
    it. (The FK dim's CONTENTS are deliberately out of scope: a dim is
    a relation, not geometry; its drift is a data question the suite
    itself checks.)
    """
    import hashlib

    sig = "|".join(
        f"{c.name}:{c.kind}:{','.join(c.cols)}:{','.join(c.dim_cols)}:"
        f"{'' if c.cond is None else str(c.cond)}"
        for c in checks)
    return f"x{len(checks)}/" + hashlib.md5(sig.encode()).hexdigest()[:12]


def expectations_epoch(batch_df: DataFrame, batch_id: int, *,
                       report_dir: str, checks) -> None:
    """One expectations ledger epoch: the batch's |rules|-row report,
    epoch-stamped in the rows (explicit leaf-dir reads lose the
    partition column, so the fold needs the stamp inside) and
    geometry-stamped with the checks-list fingerprint
    (:func:`_exp_geom`), landed under ``report_dir/batch_id=<epoch>/``
    — the shared body of stream_expectations' foreachBatch closure
    AND the q139 lifecycle query. Exactly-once: see
    :class:`EpochLedger`."""
    from ..operators.expectations import run_expectations

    EpochLedger(batch_df.sparkSession, report_dir).write(
        batch_df, batch_id,
        lambda b: run_expectations(b, checks)
        .withColumn("epoch", F.lit(int(batch_id)).cast("int"))
        .withColumn("geom", F.lit(_exp_geom(checks))))


def _expectations_fold(df: DataFrame, *,
                       expected_geom: str | None = None) -> DataFrame:
    """Per-(epoch, check) fold — epochs stay APART (the audit-trail
    contract, like the drift ledger); each pair appears once per live
    source so the sum is an identity that also makes baseline∪epoch
    unions uniform. Geometry: one checks-list fingerprint across every
    folded row, equal to the READER's suite when ``expected_geom`` is
    given. ``geom`` stays on the output so a compacted baseline
    re-folds under the same guard."""
    if "epoch" not in df.columns:
        # reports landed before the in-row epoch stamp have no epoch
        # column; fail with the rebuild message, not an opaque
        # UNRESOLVED_COLUMN
        raise ValueError(
            "expectations ledger predates the in-row epoch stamp — "
            "rebuild it (epochs carry the stamp since "
            "expectations_epoch gained it)")
    if "geom" not in df.columns:
        raise ValueError(
            "expectations ledger predates the checks-list geometry "
            "stamp — rebuild it (epochs land the stamp since "
            "expectations_epoch gained geom)")
    ok = F.count_distinct("geom") == 1
    if expected_geom is not None:
        ok = ok & (F.count(F.when(F.col("geom") != expected_geom,
                                  F.lit(1))) == 0)
    want = ("" if expected_geom is None
            else f"; reader expects {expected_geom}")
    msg = F.concat(F.lit("expectations geometry mismatch: ledger holds "),
                   F.concat_ws(",", F.sort_array(F.collect_set("geom"))),
                   F.lit(want))
    # an empty ledger slice folds to nothing — vacuously ok
    return (geometry_guard(df, (F.count(F.lit(1)) == 0) | ok, msg)
            .groupBy("epoch", "check")
            .agg((F.sum("violations") * F.first("_geom_ok"))
                 .cast("long").alias("violations"),
                 (F.sum("total") * F.first("_geom_ok"))
                 .cast("long").alias("total"),
                 F.min("geom").alias("geom"))
            .select("epoch", "check", "violations", "total",
                    (F.col("violations") == 0).cast("int")
                    .alias("passed"), "geom"))


def read_expectations(spark: SparkSession, report_dir: str, *,
                      folded: bool = False, checks=None) -> DataFrame:
    """The live reports. Default: one row per (epoch, check) — the
    per-epoch audit trail a gate-keeper reads. ``folded=True`` sums
    the history into corpus-lifetime totals per check — valid ONLY
    for epoch-distributive rules (row predicates, domain/range,
    FK-vs-static-dim): a per-epoch uniqueness rule does NOT
    distribute (cross-epoch duplicates are invisible to every epoch),
    exactly as stream_expectations' docstring warns. Pass the
    reader's ``checks`` to ALSO pin the ledger's fingerprint to the
    suite being asked about (the kmv reader's-k rule) — without it
    only internal cross-epoch consistency is asserted."""
    expected = None if checks is None else _exp_geom(checks)
    live = _expectations_fold(EpochLedger(spark, report_dir).read(),
                              expected_geom=expected)
    if not folded:
        return live
    return (live.groupBy("check")
            .agg(F.sum("violations").cast("long").alias("violations"),
                 F.sum("total").cast("long").alias("total"))
            .select("check", "violations", "total",
                    (F.col("violations") == 0).cast("int")
                    .alias("passed")))


def compact_expectations(spark: SparkSession, report_dir: str, *,
                         keep_last: int = 0, gc: bool = True) -> int | None:
    """Log-compact a ``stream_expectations`` ledger (per-(epoch,
    check) fold — epochs survive compaction separately)."""
    return compact_epoch_ledger(spark, report_dir, _expectations_fold,
                                keep_last=keep_last, gc=gc)


def drift_epoch(batch_df: DataFrame, batch_id: int, *, state_dir: str,
                value: str, n_bins: int = 16, lo: float = 0.0,
                hi: float = 1.0) -> None:
    """One streaming drift epoch: the batch's fixed-bin histogram
    (operators/expectations.histogram_counts) stamped with its epoch
    id, landed under ``state_dir/batch_id=<epoch>/``. Exposed at
    module level so the q133 lifecycle query drives byte-identical
    logic to the stream's foreachBatch body. Exactly-once: see
    :class:`EpochLedger`.

    The epoch id rides INSIDE the rows — unlike the matview/sketch
    ledgers the drift monitor needs epochs kept APART (drift is
    per-epoch vs a baseline epoch), so compaction folds by (epoch,
    bin), never across epochs."""
    from ..operators.expectations import histogram_counts

    EpochLedger(batch_df.sparkSession, state_dir).write(
        batch_df, batch_id,
        lambda b: histogram_counts(b, value, n_bins=n_bins, lo=lo, hi=hi)
        .withColumn("epoch", F.lit(int(batch_id)).cast("int"))
        .withColumn("geom", F.lit(f"{n_bins}/{lo!r}/{hi!r}/{value}")))


def stream_drift(docs: DataFrame, *, state_dir: str, checkpoint: str,
                 value: str, n_bins: int = 16, lo: float = 0.0,
                 hi: float = 1.0, trigger_once: bool = True,
                 compact_every: int | None = None):
    """Distribution-drift monitoring AT INGEST TIME — the streaming
    twin of the q132 batch monitor: each micro-batch lands its own
    quality histogram (``drift_epoch``); :func:`read_drift` folds the
    live epochs and computes the exact integer total-variation
    statistic of every epoch against a baseline epoch
    (operators/expectations.tv_drift).

    Because per-(epoch, bin) counts are a commutative monoid, the
    folded relation is BIT-IDENTICAL to the one-shot
    ``histogram_counts(union, keys=("epoch",))`` — incremental ==
    one-shot, tested, and driver-checked by q133 (which replays the
    protocol through a compaction and hashes against q132's oracle).

    State at 100 TB: per-epoch cost is one hash aggregate with
    map-side combine (the batch never shuffles, only n_bins count
    rows land); the ledger holds O(live epochs · n_bins) tiny rows
    and self-compacts with ``compact_every=N``."""
    return _stream_ledger(
        docs, lambda b, e: drift_epoch(b, e, state_dir=state_dir,
                                       value=value, n_bins=n_bins, lo=lo,
                                       hi=hi),
        state_dir=state_dir, checkpoint=checkpoint,
        trigger_once=trigger_once, compact_every=compact_every,
        compact=lambda s: compact_drift(s, state_dir))


def _drift_fold(df: DataFrame) -> DataFrame:
    """(epoch, bin) count fold — the drift ledger's compaction
    combine. Grouping BY epoch is what keeps compaction legal for
    this monitor: epochs must stay apart (each is compared to the
    baseline), so the baseline directory holds every epoch's
    histogram rows, merely de-fragmented. Epochs binned under
    different edges (the bins/lo/hi/value stamp) fail the geometry
    guard; the stamp survives on the output for compaction baselines
    and read_drift_hist drops it."""
    if "geom" not in df.columns:
        raise ValueError(
            "drift ledger predates the geometry stamp — rebuild it "
            "(epochs land the stamp since drift_epoch gained geom)")
    return (geometry_guard(
        df, F.coalesce(F.count_distinct("geom") == 1, F.lit(True)),
        F.concat(F.lit("drift geometry mismatch across epochs: "),
                 F.concat_ws(",", F.collect_set("geom"))))
        .groupBy("epoch", "bin")
        .agg((F.sum("n") * F.first("_geom_ok")).cast("long").alias("n"),
             F.min("geom").alias("geom")))


def read_drift_hist(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live per-epoch histograms — identical to the one-shot
    ``histogram_counts(union, keys=("epoch",))`` by the count
    monoid (geometry consistency asserted; see _drift_fold)."""
    return _drift_fold(EpochLedger(spark, state_dir).read()).drop("geom")


def read_drift(spark: SparkSession, state_dir: str, *,
               baseline: int = 0) -> DataFrame:
    """Fold the drift ledger and compute each epoch's exact integer
    TV numerator vs the ``baseline`` epoch — the live view a
    gate-keeper polls ("did this crawl batch's distribution move?")."""
    from ..operators.expectations import tv_drift

    return tv_drift(read_drift_hist(spark, state_dir), key="epoch",
                    baseline=baseline)


def compact_drift(spark: SparkSession, state_dir: str, *,
                  keep_last: int = 0, gc: bool = True) -> int | None:
    """Log-compact a ``stream_drift`` ledger (per-(epoch, bin) count
    fold — epochs survive compaction separately, see _drift_fold)."""
    return compact_epoch_ledger(spark, state_dir, _drift_fold,
                                keep_last=keep_last, gc=gc)


def curation_funnel_epoch(batch_df: DataFrame, epoch: str, *,
                          eval_docs: DataFrame, fp_dir: str, nd_dir: str,
                          out_dir: str, report_dir: str,
                          disposition_dir: str | None = None,
                          id_col: str = "doc_id", text_col: str = "text",
                          min_quality: float = 0.45,
                          jaccard_min: float = 0.5,
                          est_jaccard_min: float = 0.5,
                          minhash_k: int = 64, lsh_bands: int = 16,
                          min_containment: float = 0.8,
                          n_fp_bands: int = 256) -> None:
    """ONE epoch of the ingest-time curation funnel — the shared body
    of stream_curation_funnel's foreachBatch closure AND the q127
    driver query (plans/curation_q.q_stream_dispositions), so the
    registry query exercises byte-identical logic to the stream.

    Stages and ledger semantics are documented on
    stream_curation_funnel. When ``disposition_dir`` is given, every
    DROPPED document also lands one audit row under
    ``disposition_dir/batch_id=<epoch>/`` (overwrite-on-replay like
    the other outputs):

      (doc_id, stage, evidence, est_jaccard)

    ``evidence`` grades the PROOF that doomed the doc — the round-5
    verdict's gap (per-epoch reports recorded stage counts only, so a
    dropped doc's grade was unqueryable afterward):

    - ``exact``: text-level proof — quality score, fingerprint
      equality, verified shingle Jaccard against a within-batch
      cluster-mate (doc != canonical), or eval-set containment.
    - ``estimate``: index-resident proof — the doc is its batch
      cluster's canonical yet still dropped, which only happens
      through history (the landed index holds signatures, not text):
      ``est_jaccard`` carries the doc's own best history estimate
      (exact i/k rational, engine-portable) when it matched history
      directly, and stays NULL when the doc dies transitively
      (its component touched a history-loser).
    """
    from ..catalog import literal_df
    from ..functions.text import quality_score
    from ..operators.cleaning import contamination
    from ..operators.dedup import (resolve_duplicates,
                                   update_exact_dedup_index,
                                   update_near_dup_index, verify_pairs)

    spark = batch_df.sparkSession
    n_in = batch_df.count()
    if n_in == 0:
        return

    q = F.when(F.col(text_col).isNull(), F.lit(0.0)) \
        .otherwise(F.coalesce(quality_score(text_col), F.lit(0.0)))
    s1 = batch_df.filter(q >= min_quality).localCheckpoint()
    n_q = s1.count()

    s2 = update_exact_dedup_index(
        spark, s1, fp_dir,
        id_col=id_col, text_col=text_col, n_bands=n_fp_bands,
        batch_id=epoch).localCheckpoint()
    n_e = s2.count()

    # one evaluation: three consumers below re-reference the
    # band-pruned history join (dedup.py's reuse discipline)
    pairs = update_near_dup_index(
        spark, s2, nd_dir, k=minhash_k, bands=lsh_bands,
        id_col=id_col, text_col=text_col, batch_id=epoch) \
        .localCheckpoint()
    batch_ids = s2.select(F.col(id_col).alias("_bid"))
    # a batch doc loses to ANY history twin (first-arrival-wins);
    # history sits on either side of the id_a < id_b pair — keep the
    # estimate alongside the id so the disposition can grade it
    est = pairs.filter(F.col("est_jaccard") >= est_jaccard_min)
    be = (
        est.join(batch_ids, est["id_a"] == batch_ids["_bid"],
                 "left_anti")
        .select(F.col("id_b").alias(id_col), "est_jaccard")
        .union(
            est.join(batch_ids, est["id_b"] == batch_ids["_bid"],
                     "left_anti")
            .select(F.col("id_a").alias(id_col), "est_jaccard"))
        .localCheckpoint())
    lose_hist = be.select(id_col).dropDuplicates()
    # within-batch candidates (any estimate): exact-verify with
    # the texts at hand, then resolve connected components with
    # the batch twin's min-id rule
    wb = (pairs.join(batch_ids, pairs["id_a"] == batch_ids["_bid"],
                     "leftsemi")
          .join(batch_ids, pairs["id_b"] == batch_ids["_bid"],
                "leftsemi")
          .select("id_a", "id_b"))
    wbv = verify_pairs(s2, wb, id_col=id_col, text_col=text_col,
                       threshold=jaccard_min).select("id_a", "id_b")
    resolved = resolve_duplicates(s2.select(id_col), wbv,
                                  id_col=id_col).localCheckpoint()
    # a component touching a history-loser dies wholly (one-shot
    # transitivity through the historical twin); otherwise only
    # the canonical member survives
    dead_comp = (resolved.join(lose_hist, id_col, "leftsemi")
                 .select("canonical").dropDuplicates())
    losers = (resolved.filter(F.col(id_col) != F.col("canonical"))
              .select(id_col)
              .union(resolved.join(dead_comp, "canonical",
                                   "leftsemi").select(id_col))
              .dropDuplicates())
    s3 = s2.join(losers, id_col, "left_anti").localCheckpoint()
    n_n = s3.count()

    hits = contamination(s3, eval_docs, id_col=id_col,
                         text_col=text_col,
                         min_containment=min_containment)
    bad = hits.select(F.col("train_id").alias(id_col)) \
        .dropDuplicates()
    kept = s3.join(bad, id_col, "left_anti").localCheckpoint()
    n_k = kept.count()

    kept.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_id={int(epoch)}"))

    if disposition_dir is not None:
        ids = F.col(id_col)
        ev = F.lit("exact")
        no_est = F.lit(None).cast("double")

        def flat(df: DataFrame, stage: str) -> DataFrame:
            return df.select(ids, F.lit(stage).alias("stage"),
                             ev.alias("evidence"),
                             no_est.alias("est_jaccard"))

        d_quality = flat(batch_df.filter(q < min_quality), "quality")
        d_exact = flat(s1.join(s2, id_col, "left_anti"), "exact_dup")
        direct = be.groupBy(id_col).agg(
            F.max("est_jaccard").alias("_est"))
        d_near = (
            resolved.join(losers, id_col, "leftsemi")
            .join(direct, id_col, "left")
            .select(
                ids, F.lit("near_dup").alias("stage"),
                F.when(ids != F.col("canonical"), F.lit("exact"))
                .otherwise(F.lit("estimate")).alias("evidence"),
                F.when(ids == F.col("canonical"), F.col("_est"))
                .otherwise(no_est).alias("est_jaccard")))
        d_cont = flat(s3.join(kept, id_col, "left_anti"),
                      "contaminated")
        dispo = d_quality.unionByName(d_exact) \
            .unionByName(d_near).unionByName(d_cont)
        # coalesce(1): few audit rows per epoch, but the union inherits
        # the full upstream partition count — same tiny-file discipline
        # as the report write below (and q122's fp-band lesson)
        dispo.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(disposition_dir, f"batch_id={int(epoch)}"))

    report = [("quality", n_in - n_q), ("exact_dup", n_q - n_e),
              ("near_dup", n_e - n_n), ("contaminated", n_n - n_k),
              ("kept", n_k)]
    literal_df(spark, report, "stage string, n_docs long") \
        .coalesce(1).write.mode("overwrite").parquet(
            os.path.join(report_dir, f"batch_id={int(epoch)}"))


def stream_curation_funnel(docs: DataFrame, *, eval_docs: DataFrame,
                           state_dir: str, out_dir: str,
                           report_dir: str, checkpoint: str,
                           disposition_dir: str | None = None,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           min_quality: float = 0.45,
                           jaccard_min: float = 0.5,
                           est_jaccard_min: float = 0.5,
                           minhash_k: int = 64, lsh_bands: int = 16,
                           min_containment: float = 0.8,
                           n_fp_bands: int = 256,
                           trigger_once: bool = True):
    """INGEST-TIME curation funnel — the streaming twin of
    operators/curation.curation_funnel (q123), with history supplied
    by the landed indexes instead of a one-shot corpus scan. Per
    micro-batch, in narrowing order:

    1. ``quality``: heuristic quality_score < ``min_quality`` (NULL
       text scores 0);
    2. ``exact_dup``: fingerprint seen in ANY earlier epoch
       (update_exact_dedup_index — band-pruned anti-join against the
       landed history) or a smaller-id twin in the same batch;
    3. ``near_dup``, two rules with two evidence grades:
       - vs HISTORY: index-resident ESTIMATE ≥ ``est_jaccard_min``
         (the landed index holds signatures, not text, so exact
         re-verification is impossible at ingest) — first-arrival
         wins. The funnel indexes at ``minhash_k=64`` /
         ``lsh_bands=16``, not the analytics default k=8: a drop
         decision on a k=8 estimate false-positives ~19% at true
         Jaccard 0.3, at k=64 that is ~0.1%.
       - WITHIN the batch: both texts are present, so candidates are
         EXACT-verified (shingle Jaccard ≥ ``jaccard_min``) and
         resolved by connected components exactly as the batch twin
         does (resolve_duplicates min-id rule); a component touching
         a history-loser dies wholly, mirroring one-shot
         transitivity through the historical twin.
    4. ``contaminated``: shingle containment of an ``eval_docs``
       document ≥ ``min_containment`` (broadcast eval index).

    Survivors land under ``out_dir/batch_id=<epoch>/``; a 5-row stage-
    count report lands under ``report_dir/batch_id=<epoch>/``; with a
    ``disposition_dir``, every dropped doc additionally lands one
    graded audit row (see curation_funnel_epoch — the shared epoch
    body, also driven directly by the q127 registry query). Both
    ledger indexes are epoch-keyed overwrite-on-replay (their round-4
    exactly-once contracts), and both output directories overwrite on
    replay, so a crashed-and-replayed epoch converges to one copy.
    The index geometry is embedded in the state subdirectory names, so
    retuning k/bands can never silently join against an old-geometry
    ledger. Unlike the batch funnel there is no budget stage: a char
    budget is a property of a finished corpus snapshot (q120/q123),
    not of an unbounded ingest.

    State at 100 TB: no executor state — history is two partitioned
    parquet ledgers, per-batch cost is O(batch) plus band/cell-pruned
    equi-joins, eval set broadcasts.
    """
    fp_dir = os.path.join(state_dir, f"fpidx{n_fp_bands}")
    nd_dir = os.path.join(state_dir, f"ndidx{minhash_k}x{lsh_bands}")
    # the existence probe goes through the Hadoop FileSystem API like
    # every other ledger listing (index_ledger, progress) — a local-FS
    # os.path check never fires on an HDFS/object-store state_dir, and
    # a silently-ignored legacy ledger re-admits every landed duplicate
    from ..operators.index_ledger import _fs as _hfs, _jp as _hjp
    _guard_spark = docs.sparkSession
    _guard_fs, _ = _hfs(_guard_spark, state_dir)
    for legacy in ("fpidx", "ndidx"):
        if _guard_fs.exists(_hjp(_guard_spark, state_dir, legacy)):
            # geometry-unstamped ledgers predate the stamped layout;
            # silently ignoring them would re-admit every previously
            # landed duplicate (same loud-failure precedent as
            # progress.incremental_decode's legacy-layout rejection)
            raise ValueError(
                f"state_dir contains a legacy un-stamped ledger "
                f"'{legacy}/' — migrate or remove it; the funnel now "
                f"writes geometry-stamped state ({legacy} with k/band "
                f"suffixes) and will not read the old layout")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        curation_funnel_epoch(
            batch_df, str(int(batch_id)), eval_docs=eval_docs,
            fp_dir=fp_dir, nd_dir=nd_dir, out_dir=out_dir,
            report_dir=report_dir, disposition_dir=disposition_dir,
            id_col=id_col, text_col=text_col, min_quality=min_quality,
            jaccard_min=jaccard_min, est_jaccard_min=est_jaccard_min,
            minhash_k=minhash_k, lsh_bands=lsh_bands,
            min_containment=min_containment, n_fp_bands=n_fp_bands)

    return _foreach_batch(docs, per_batch, checkpoint, trigger_once)


def stream_exact_dedup(docs: DataFrame, *, index_dir: str, out_dir: str,
                       checkpoint: str, id_col: str = "doc_id",
                       text_col: str = "text",
                       trigger_once: bool = True):
    """Cross-HISTORY exact dedup at ingest: each micro-batch keeps only
    content never admitted before (operators/dedup.
    update_exact_dedup_index — band-pruned anti-join against the
    landed fingerprint history) and lands the survivors under
    ``out_dir/batch_id=<epoch>/``. The fingerprint index itself is
    epoch-partitioned with overwrite-on-replay, so both the index and
    the survivor lake are exactly-once; unlike ``dedup_stream``'s
    watermarked state, the memory of seen content is unbounded IN THE
    LAKE but never in executor state — re-fetching a page months
    later still deduplicates.
    """
    from ..operators.dedup import update_exact_dedup_index

    return _stream_index(
        docs, lambda b, bid: update_exact_dedup_index(
            b.sparkSession, b, index_dir, id_col=id_col, text_col=text_col,
            batch_id=bid),
        out_dir=out_dir, checkpoint=checkpoint, trigger_once=trigger_once)

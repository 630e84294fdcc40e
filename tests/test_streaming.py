"""Streaming-plane tests: incremental decode with checkpoint resume,
watermark dedup, windowed aggregation, stateful FSM across batches."""

from __future__ import annotations

import pytest

import json

import pandas as pd

from pyspark.sql import functions as F

from etl_evm_chain_spark.operators.index_ledger import EpochLedger
from etl_evm_chain_spark.sources.abi import RAW_LOG_SCHEMA
from etl_evm_chain_spark.streaming import pipeline as sp
from tests.test_evm import SWAPISH, _mklog, _word


def _write_raw(spark, path, logs):
    spark.createDataFrame(logs, RAW_LOG_SCHEMA).write.mode("append").parquet(path)


def test_stream_decode_with_checkpoint_resume(spark, tmp_path):
    src = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_raw(spark, src, [
        _mklog([SWAPISH.topic0, "0x" + _word(1)], [_word(10), _word(1)],
               block=1, idx=0),
        _mklog([SWAPISH.topic0, "0x" + _word(2)], [_word(20), _word(2)],
               block=2, idx=1),
    ])
    q = sp.write_decoded(
        sp.stream_decode(sp.stream_raw_logs(spark, src), SWAPISH,
                         contract_name="Pool"),
        out, ckpt)
    q.awaitTermination(60)
    assert spark.read.parquet(out).count() == 2

    # land more files; restart from the checkpoint → only new rows added
    _write_raw(spark, src, [
        _mklog([SWAPISH.topic0, "0x" + _word(3)], [_word(30), _word(3)],
               block=3, idx=2),
    ])
    q2 = sp.write_decoded(
        sp.stream_decode(sp.stream_raw_logs(spark, src), SWAPISH,
                         contract_name="Pool"),
        out, ckpt)
    q2.awaitTermination(60)
    got = spark.read.parquet(out)
    assert got.count() == 3                      # exactly-once: no re-decode
    assert sorted(r["tick"] for r in got.collect()) == [1, 2, 3]


def test_windowed_counts_and_dedup(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [
        (1, "2024-01-01 00:00:10", "a", 1.0),
        (1, "2024-01-01 00:00:10", "a", 1.0),   # duplicate (id+ts)
        (2, "2024-01-01 00:00:50", "a", 2.0),
        (3, "2024-01-01 00:01:10", "a", 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = sp.dedup_stream(stream, ts_col="ts", key_cols=["event_id"])
    agg = sp.windowed_counts(deduped, ts_col="ts", key="event_type",
                             watermark=None)  # dedup already set one
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("wincounts").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["window"].start.second + 60 * r["window"].start.minute): r["n"]
           for r in spark.sql("select * from wincounts").collect()}
    assert got == {0: 2, 60: 1}  # dup dropped; windows split at :60


def test_live_signal_fsm_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "z1")
    schema = "pool string, ts long, z double"
    # batch 1: entry signal, no exit yet
    spark.createDataFrame([("p", 1, -2.0), ("p", 2, -1.2)], schema) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = sp.live_signal_fsm(stream, entry_z=1.8, exit_z=0.5, max_hold=10)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("signals").start())
    q.processAllAvailable()

    # batch 2 (separate file → separate micro-batch): exit crossing
    spark.createDataFrame([("p", 3, -0.2)], schema) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = sorted(spark.sql("select * from signals").collect(),
                  key=lambda r: r["ts"])
    actions = [(r["action"], r["ts"], r["side"]) for r in rows]
    assert actions == [("OPEN", 1, "long"), ("CLOSE", 3, "long")]


def test_session_window_stream(spark, tmp_path):
    src = str(tmp_path / "sess")
    rows = [
        # user a: two events 10 s apart (one session), then a 120 s gap
        # (second session); user b: one event
        (1, "2024-01-01 00:00:00", "a", 1.0),
        (2, "2024-01-01 00:00:10", "a", 2.0),
        (3, "2024-01-01 00:02:30", "a", 4.0),
        (4, "2024-01-01 00:00:05", "b", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = sp.session_stats(stream, ts_col="ts", key="user", gap="60 seconds",
                           watermark="1 second")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("sessions").start())
    q.processAllAvailable()
    q.stop()

    got = {(r["user"], r["session_start"].minute, r["session_start"].second):
           (r["n_events"], r["total_value"])
           for r in spark.sql("select * from sessions").collect()}
    assert got == {
        ("a", 0, 0): (2, 3.0),   # merged: 00:00:00 + 00:00:10, gap < 60 s
        ("a", 2, 30): (1, 4.0),  # new session after the 140 s gap
        ("b", 0, 5): (1, 8.0),
    }


def test_session_stats_same_plan_in_batch(spark):
    rows = [
        (1, "2024-01-01 00:00:00", "a", 1.0),
        (2, "2024-01-01 00:00:10", "a", 2.0),
        (3, "2024-01-01 00:02:30", "a", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        (r["n_events"], r["total_value"])
        for r in sp.session_stats(df, ts_col="ts", key="user",
                                  gap="60 seconds").collect())
    assert got == [(1, 4.0), (2, 3.0)]


def test_live_signal_fsm_idle_eviction(spark, tmp_path):
    import time

    src = str(tmp_path / "z2")
    schema = "pool string, ts long, z double"
    # open a position, then go silent -> idle timeout must force-close
    spark.createDataFrame([("p", 1, -2.0)], schema) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = sp.live_signal_fsm(stream, entry_z=1.8, exit_z=0.5,
                             idle_timeout_ms=1500)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("evictions").start())
    try:
        deadline = time.time() + 120
        actions = []
        while time.time() < deadline:
            actions = [r["action"]
                       for r in spark.sql("select * from evictions").collect()]
            if "EVICT" in actions:
                break
            time.sleep(1)
        assert actions.count("OPEN") == 1
        assert actions.count("EVICT") == 1
    finally:
        q.stop()


def _seeded_z_series(n_pools: int = 3, n_rows: int = 200):
    """Deterministic pseudo-random z walk per pool, with a few NaN
    gaps mid-series (warm-up artifacts in the real pipeline)."""
    import math

    rows = []
    for p in range(n_pools):
        z = 0.0
        for t in range(n_rows):
            # stateless pseudo-random step in [-0.9, 0.9]
            h = math.sin(p * 7919 + t * 104729) * 1e4
            z = max(-3.5, min(3.5, z + (h - math.floor(h) - 0.5) * 1.8))
            val = float("nan") if (t % 47) == 13 else round(z, 6)
            rows.append((f"pool{p}", t, 100.0 + t, val))
    return rows


def _stream_trades(spark, tmp_path, rows, *, entry_z, exit_z, max_hold,
                   n_files=5, shuffle_in_file=True):
    """Run live_signal_fsm over the rows split into n_files micro-
    batches (file order = ts order; rows shuffled inside each file to
    prove in-batch disorder is re-sorted), pair OPEN/CLOSE actions
    into closed trades."""
    src = str(tmp_path / "zsrc")
    schema = "pool string, ts long, price double, z double"
    per = (max(r[1] for r in rows) + 1 + n_files - 1) // n_files
    for i in range(n_files):
        chunk = [r for r in rows if i * per <= r[1] < (i + 1) * per]
        if shuffle_in_file:
            chunk = sorted(chunk, key=lambda r: (r[1] * 2654435761) % 97)
        spark.createDataFrame(chunk, schema).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .select("pool", "ts", "z"))
    out = sp.live_signal_fsm(stream, entry_z=entry_z, exit_z=exit_z,
                             max_hold=max_hold)
    name = f"eqsig{abs(hash(str(tmp_path))) % 10**6}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    q.processAllAvailable()
    q.stop()
    acts = sorted(spark.sql(f"select * from {name}").collect(),
                  key=lambda r: (r["pool"], r["ts"]))
    trades, open_by_pool = [], {}
    for r in acts:
        if r["action"] == "OPEN":
            open_by_pool[r["pool"]] = r
        elif r["action"] == "CLOSE":
            o = open_by_pool.pop(r["pool"])
            trades.append((r["pool"], o["side"], o["ts"], r["ts"],
                           round(o["z"], 6), round(r["z"], 6)))
    return sorted(trades)


def test_fsm_streaming_batch_equivalence(spark, tmp_path):
    """The streaming FSM (H4) and the batch FSM (E2) must emit the
    SAME trade list over the same series — including NaN gaps (which
    advance the hold clock in both planes) and out-of-order arrival
    within a micro-batch (re-sorted by the FSM)."""
    from etl_evm_chain_spark.operators import backtest as bt

    rows = _seeded_z_series()
    kw = dict(entry_z=1.5, exit_z=0.5, max_hold=10)
    stream_trades = _stream_trades(spark, tmp_path, rows, **kw)
    assert len(stream_trades) >= 10          # the walk must actually trade

    batch = spark.createDataFrame(
        rows, "pool string, ts long, price double, z double")
    batch_trades = sorted(
        (r["pool"], r["side"], r["entry_ts"], r["exit_ts"],
         round(r["entry_z"], 6), round(r["exit_z"], 6))
        for r in bt.meanrevert_fsm_zscore(
            batch, pool="pool", ts="ts", price="price", z="z",
            **kw).collect())
    assert stream_trades == batch_trades


def test_fsm_equivalence_with_watermarked_late_duplicates(spark, tmp_path):
    """Late duplicate deliveries (same pool+ts re-sent in a later
    micro-batch, inside the watermark) are dropped by the upstream
    dedup stage, so the FSM still matches the batch run on the clean
    series."""
    from etl_evm_chain_spark.operators import backtest as bt

    rows = _seeded_z_series(n_pools=2, n_rows=120)
    kw = dict(entry_z=1.5, exit_z=0.5, max_hold=10)

    src = str(tmp_path / "latesrc")
    schema = "pool string, ts long, z double"
    base = [(p, t, z) for p, t, _, z in rows]
    half = 60
    spark.createDataFrame([r for r in base if r[1] < half], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    # second delivery: the rest PLUS late re-sends of earlier rows
    dupes = [r for r in base if half - 20 <= r[1] < half]
    spark.createDataFrame([r for r in base if r[1] >= half] + dupes,
                          schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withColumn("ets", F.timestamp_seconds("ts")))
    deduped = sp.dedup_stream(stream, ts_col="ets", key_cols=["pool"],
                              watermark="1 hour").drop("ets")
    out = sp.live_signal_fsm(deduped, **kw)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("latesig").start())
    q.processAllAvailable()
    q.stop()
    acts = sorted(spark.sql("select * from latesig").collect(),
                  key=lambda r: (r["pool"], r["ts"]))
    trades, open_by_pool = [], {}
    for r in acts:
        if r["action"] == "OPEN":
            open_by_pool[r["pool"]] = r
        elif r["action"] == "CLOSE":
            o = open_by_pool.pop(r["pool"])
            trades.append((r["pool"], o["side"], o["ts"], r["ts"]))
    batch = spark.createDataFrame(
        rows, "pool string, ts long, price double, z double")
    batch_trades = sorted(
        (r["pool"], r["side"], r["entry_ts"], r["exit_ts"])
        for r in bt.meanrevert_fsm_zscore(
            batch, pool="pool", ts="ts", price="price", z="z",
            **kw).collect())
    assert sorted(trades) == batch_trades


def test_jdbc_exactly_once_across_restart(spark, tmp_path):
    """foreachBatch JDBC sink: restart from the checkpoint re-offers
    nothing new, and a replayed batch id is fenced by the ledger —
    the Derby table holds each decoded row exactly once."""
    src = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    db = str(tmp_path / "sinkdb")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    _write_raw(spark, src, [
        _mklog([SWAPISH.topic0, "0x" + _word(1)], [_word(10), _word(1)],
               block=1, idx=0),
        _mklog([SWAPISH.topic0, "0x" + _word(2)], [_word(20), _word(2)],
               block=2, idx=1),
    ])

    def run():
        dec = sp.stream_decode(sp.stream_raw_logs(spark, src), SWAPISH,
                               contract_name="Pool")
        dec = dec.select("block_number", "tx_hash", "log_index", "tick")
        q = sp.write_jdbc_exactly_once(dec, url, table="ev", checkpoint=ckpt,
                                       driver=driver)
        q.awaitTermination(120)

    run()
    # restart with one more file: only the new row lands
    _write_raw(spark, src, [
        _mklog([SWAPISH.topic0, "0x" + _word(3)], [_word(30), _word(3)],
               block=3, idx=2),
    ])
    run()
    run()   # third run: nothing new — must be a no-op

    def ticks():
        back = (spark.read.format("jdbc").option("url", url)
                .option("driver", driver).option("dbtable", "ev").load())
        return sorted(r["tick"] for r in back.collect())

    assert ticks() == [1, 2, 3]

    # force a REPLAY of the last micro-batch: drop its commit marker so
    # the restarted query re-offers it; the per-batch delete fence must
    # keep the table duplicate-free
    import glob
    import os

    last_commit = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))[-1]
    os.remove(last_commit)
    crc = os.path.join(os.path.dirname(last_commit),
                       f".{os.path.basename(last_commit)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert ticks() == [1, 2, 3]


def test_stream_near_dups_accumulates_index_across_batches(spark, tmp_path):
    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt_nd")
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima")

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_near_dups(stream, index_path=idx, pairs_dir=pairs_dir,
                                checkpoint=ckpt)
        q.awaitTermination(120)

    # batch 1: two near-dups land together
    spark.createDataFrame(
        [(1, base), (2, "  ".join(base.split()))],
        "doc_id long, text string").write.mode("append").parquet(src)
    run()
    got1 = {(r["id_a"], r["id_b"])
            for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 2) in got1

    # batch 2: a near-dup of doc 1 plus an unrelated doc — the pair
    # (1, 3) can only come from the LANDED index, not this batch alone
    spark.createDataFrame(
        [(3, base.replace("lima", "zulu")),
         (4, "completely different content about engines")],
        "doc_id long, text string").write.mode("append").parquet(src)
    run()
    got2 = {(r["id_a"], r["id_b"])
            for r in spark.read.parquet(pairs_dir).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got2
    assert not any(4 in p for p in got2)


def test_stream_export_shards_incremental_equals_one_shot(spark, tmp_path):
    """Incremental streamed shard export must produce the same shard
    membership and content checksums as a one-shot export of the full
    corpus (hash assignment is batch-independent), and an epoch replay
    must not duplicate rows."""
    from etl_evm_chain_spark.operators.curation import (shard_assignment,
                                                        shard_manifest)

    src = str(tmp_path / "docs")
    out = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt_shards")

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_export_shards(stream, out_dir=out, checkpoint=ckpt,
                                    n_shards=8)
        q.awaitTermination(120)

    rows1 = [(i, f"doc {i} body " * 3) for i in range(40)]
    rows2 = [(100 + i, f"later doc {i} text") for i in range(25)]
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    run()

    lake = spark.read.parquet(out)
    assert lake.count() == 65
    streamed = {r["shard"]: (r["n_docs"], r["checksum"])
                for r in shard_manifest(lake).collect()}
    all_docs = spark.createDataFrame(rows1 + rows2,
                                     "doc_id long, text string")
    one_shot = {r["shard"]: (r["n_docs"], r["checksum"])
                for r in shard_manifest(shard_assignment(
                    all_docs, key="doc_id", n_shards=8)).collect()}
    assert streamed == one_shot


def test_shard_lake_receipt_counts_committed_epochs_only(spark, tmp_path):
    """The documented receipt reads the lake through the epoch
    ledger: an epoch torn by a crash mid-write (no ``_SUCCESS``) is
    not in it, so the manifest equals the one-shot manifest of the
    committed epochs' documents alone."""
    import os

    from conftest import SF_SMALL
    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators.curation import (shard_assignment,
                                                        shard_manifest)

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    for e in range(3):
        sp.shard_epoch(docs.filter(F.col("doc_id") % 3 == e), e,
                       out_dir=out, n_shards=8)
    os.remove(os.path.join(out, "batch_id=2", "_SUCCESS"))

    committed = docs.filter(F.col("doc_id") % 3 < 2)
    lake = sp.read_shard_lake(spark, out)
    assert {"batch_id", "shard"} <= set(lake.columns)
    got = {r["shard"]: (r["n_docs"], r["checksum"])
           for r in shard_manifest(lake).collect()}
    want = {r["shard"]: (r["n_docs"], r["checksum"])
            for r in shard_manifest(shard_assignment(
                committed, key="doc_id", n_shards=8)).collect()}
    assert got == want
    assert sum(n for n, _ in got.values()) == committed.count() \
        < docs.count()


def test_stream_export_shards_soak_replay_and_crash(spark, tmp_path):
    """sf0.1-scale soak (VERDICT r3 ask #7): multi-epoch export of the
    real documents fixture with a simulated CRASH MID-EPOCH — a
    partially-landed batch_id directory whose epoch never committed to
    the checkpoint (exactly the state foreachBatch leaves behind when
    the process dies between the write and the commit). The replay
    must overwrite the partial directory, and the final manifest must
    equal the one-shot export's checksums. A no-new-data restart must
    change nothing (idempotence)."""
    import os

    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators.curation import (shard_assignment,
                                                        shard_manifest)

    docs = (load_table(spark, "/root/testdata/sf0.1", "documents")
            .select("doc_id", "text"))
    n_total = docs.count()
    src = str(tmp_path / "docs")
    out = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt_soak")
    chunks = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_export_shards(stream, out_dir=out, checkpoint=ckpt,
                                    n_shards=8)
        q.awaitTermination(180)

    # epoch 0 commits normally
    chunks[0].coalesce(1).write.mode("append").parquet(src)
    run()

    # CRASH SIM: epoch 1's directory lands PARTIALLY (100 of its rows,
    # plus rows that belong to epoch 2's chunk — a torn write), but the
    # checkpoint never saw epoch 1
    torn = chunks[1].limit(100).unionAll(chunks[2].limit(37))
    shard_assignment(torn, key="doc_id", n_shards=8) \
        .write.mode("overwrite").partitionBy("shard") \
        .parquet(os.path.join(out, "batch_id=1"))

    # restart: epochs 1 and 2 process their files; epoch 1 must
    # OVERWRITE the torn directory
    chunks[1].coalesce(1).write.mode("append").parquet(src)
    chunks[2].coalesce(1).write.mode("append").parquet(src)
    run()

    lake = spark.read.parquet(out)
    assert lake.count() == n_total
    streamed = {r["shard"]: (r["n_docs"], r["checksum"])
                for r in shard_manifest(lake).collect()}
    one_shot = {r["shard"]: (r["n_docs"], r["checksum"])
                for r in shard_manifest(shard_assignment(
                    docs, key="doc_id", n_shards=8)).collect()}
    assert streamed == one_shot

    # idempotence: a restart with no new data must not change the lake
    run()
    again = {r["shard"]: (r["n_docs"], r["checksum"])
             for r in shard_manifest(spark.read.parquet(out)).collect()}
    assert again == one_shot


def test_stream_jsonl_ingest_incremental_with_quarantine(spark, tmp_path):
    """Streaming JSONL ingest: incremental shard drops land exactly
    the clean rows a batch read would, malformed lines are quarantined
    verbatim, and a no-new-data restart is a no-op."""
    import os

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = tmp_path / "drop"
    src.mkdir()
    out = str(tmp_path / "clean")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt_jsonl")

    def run():
        parsed = sp.stream_jsonl(spark, str(src), schema, max_files=1)
        q = sp.stream_jsonl_ingest(parsed, out_dir=out,
                                   quarantine_dir=quar, checkpoint=ckpt)
        q.awaitTermination(120)

    (src / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "uni \\u00e9\\n ok"}\n'
        'garbage line one\n'
        '{"doc_id": 2, "text": null}\n')
    run()
    (src / "b.jsonl").write_text('{"doc_id": 3, "text": "late shard"}\n')
    run()

    clean = spark.read.parquet(out)
    got = {(r.doc_id, r.text) for r in clean.collect()}
    assert got == {(1, "uni é\n ok"), (2, None), (3, "late shard")}
    bad = spark.read.parquet(quar)
    assert [r.raw_line for r in bad.collect()] == ["garbage line one"]

    # restart with no new files: nothing changes
    before = sorted(str(p) for p in
                    __import__("pathlib").Path(out).rglob("*.parquet"))
    run()
    after = sorted(str(p) for p in
                   __import__("pathlib").Path(out).rglob("*.parquet"))
    assert before == after
    assert spark.read.parquet(out).count() == 3


def test_stream_interval_join_matches_batch(spark, tmp_path):
    # clicks attribute to impressions with the same key within 10
    # minutes; the same code path must produce identical rows in
    # streaming (availableNow) and batch (backfill) form.
    imp_dir = str(tmp_path / "imp")
    clk_dir = str(tmp_path / "clk")
    imp = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1),
         ("a", "2024-01-01 01:00:00", 2),
         ("b", "2024-01-01 00:05:00", 3)],
        "key string, its string, imp_id long",
    ).withColumn("its", F.to_timestamp("its"))
    clk = spark.createDataFrame(
        [("a", "2024-01-01 00:04:00", 10),   # within 10m of imp 1
         ("a", "2024-01-01 00:20:00", 11),   # matches neither window
         ("a", "2024-01-01 01:09:59", 12),   # within 10m of imp 2
         ("b", "2024-01-01 00:04:00", 13),   # BEFORE b's impression
         ("c", "2024-01-01 00:00:00", 14)],  # unknown key
        "key string, cts string, clk_id long",
    ).withColumn("cts", F.to_timestamp("cts"))
    imp.write.parquet(imp_dir)
    clk.write.parquet(clk_dir)

    out = sp.stream_interval_join(
        spark.readStream.schema(imp.schema).parquet(imp_dir),
        spark.readStream.schema(clk.schema).parquet(clk_dir),
        key="key", left_ts="its", right_ts="cts", within="10 minutes")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sij").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["l_key"], r["imp_id"], r["clk_id"])
           for r in spark.sql("SELECT * FROM sij").collect()}
    assert got == {("a", 1, 10), ("a", 2, 12)}

    # batch backfill: identical plan, identical rows
    batch = sp.stream_interval_join(
        spark.read.parquet(imp_dir), spark.read.parquet(clk_dir),
        key="key", left_ts="its", right_ts="cts", within="10 minutes")
    bgot = {(r["l_key"], r["imp_id"], r["clk_id"]) for r in batch.collect()}
    assert bgot == got


def test_stream_token_sketch_incremental_equals_one_shot(spark, tmp_path):
    """The landed per-epoch CM sketches must fold (read_token_sketch)
    into exactly the one-shot sketch of the full corpus — the CM merge
    law through the streaming path — and estimates from the folded
    sketch must carry the CM >= guarantee against true counts."""
    from etl_evm_chain_spark.functions.text import tokens
    from etl_evm_chain_spark.operators.sketches import (cm_estimate,
                                                        cm_sketch)

    src = str(tmp_path / "docs")
    skd = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt_sketch")

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_token_sketch(stream, sketch_dir=skd,
                                   checkpoint=ckpt)
        q.awaitTermination(120)

    rows1 = [(i, f"alpha beta w{i % 7} gamma") for i in range(30)]
    rows2 = [(100 + i, f"beta delta w{i % 5}") for i in range(20)]
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    run()

    folded = {(r["depth"], r["cell"]): r["cnt"]
              for r in sp.read_token_sketch(spark, skd).collect()}
    all_docs = spark.createDataFrame(rows1 + rows2,
                                     "doc_id long, text string")
    occ = all_docs.select(F.explode(tokens("text")).alias("tok"))
    oneshot = {(r["depth"], r["cell"]): r["cnt"]
               for r in cm_sketch(occ, "tok").collect()}
    assert folded == oneshot

    # estimates from the folded sketch: never below true counts
    truth = {r["tok"]: r["n"] for r in
             occ.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    folded_df = sp.read_token_sketch(spark, skd)
    est = {r["tok"]: r["est_cnt"] for r in
           cm_estimate(folded_df, occ.distinct(), "tok").collect()}
    assert all(est[t] >= n for t, n in truth.items())

    # replay idempotence: re-running with no new data changes nothing
    run()
    again = {(r["depth"], r["cell"]): r["cnt"]
             for r in sp.read_token_sketch(spark, skd).collect()}
    assert again == folded


def test_stream_matview_incremental_equals_one_shot(spark, tmp_path):
    """Per-epoch landed aggregate states must fold (read_matview) into
    exactly the one-shot state of the full history — the matview
    monoid through the streaming path — and finalize on the folded
    view must equal finalize on the one-shot state."""
    from etl_evm_chain_spark.operators.matview import (aggregate_state,
                                                       finalize_state)

    src = str(tmp_path / "mv_src")
    std = str(tmp_path / "mv_state")
    ckpt = str(tmp_path / "mv_ckpt")

    def run():
        stream = spark.readStream.schema("k string, v double") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_matview(stream, state_dir=std, checkpoint=ckpt,
                              keys="k", value="v")
        q.awaitTermination(120)

    rows1 = [(f"g{i % 3}", float(i)) for i in range(40)]
    rows2 = [("g1", 2.5), ("g3", None), ("g0", -7.25)]
    spark.createDataFrame(rows1, "k string, v double") \
        .write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "k string, v double") \
        .write.mode("append").parquet(src)
    run()

    folded = sp.read_matview(spark, std, "k")
    all_rows = spark.createDataFrame(rows1 + rows2, "k string, v double")
    oneshot = aggregate_state(all_rows, "k", "v")
    as_set = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert as_set(folded) == as_set(oneshot)
    assert as_set(finalize_state(folded)) == as_set(finalize_state(oneshot))


def test_stream_expectations_per_epoch_reports(spark, tmp_path):
    """Each micro-batch lands its own violations report; counts must
    equal the batch-mode suite run on the same slice."""
    from etl_evm_chain_spark.operators.expectations import (
        expect, expect_not_null, run_expectations)

    src = str(tmp_path / "ex_src")
    rpd = str(tmp_path / "ex_reports")
    ckpt = str(tmp_path / "ex_ckpt")
    checks = [expect_not_null("c_not_null", "c"),
              expect("v_positive", F.col("v") > 0)]

    def run():
        stream = spark.readStream.schema("c string, v double") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_expectations(stream, checks, report_dir=rpd,
                                   checkpoint=ckpt)
        q.awaitTermination(120)

    rows1 = [("x", 1.0), (None, -2.0), ("y", 3.0)]
    rows2 = [("z", -1.0), ("w", 2.0)]
    # one file per write => one micro-batch per epoch
    spark.createDataFrame(rows1, "c string, v double") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "c string, v double") \
        .coalesce(1).write.mode("append").parquet(src)
    run()

    hist = spark.read.parquet(rpd)
    assert hist.count() == 4  # 2 epochs x 2 rules
    got = {(r["batch_id"], r["check"]): (r["violations"], r["total"])
           for r in hist.collect()}
    for bid, rows in ((0, rows1), (1, rows2)):
        want = run_expectations(
            spark.createDataFrame(rows, "c string, v double"), checks)
        for r in want.collect():
            assert got[(bid, r["check"])] == (r["violations"], r["total"])


def test_compact_matview_preserves_view_and_survives_ghosts(spark, tmp_path):
    """Log compaction must leave the folded view IDENTICAL: after
    compacting, after new epochs arrive on top of a baseline, after a
    second compaction folds baseline+new, and even when a superseded
    epoch directory reappears (crash-between-write-and-GC, or a replay
    of an already-compacted epoch) — readers ignore epochs <= upto."""
    import shutil

    from etl_evm_chain_spark.operators.matview import aggregate_state

    std = str(tmp_path / "cmv_state")

    def land(bid, rows):
        # the writer's contract: epochs carry the geometry stamp
        sp.matview_epoch(
            spark.createDataFrame(rows, "k string, v double"), bid,
            state_dir=std, keys="k", value="v")

    all_rows = []
    for bid in range(3):
        rows = [(f"g{i % 3}", float(bid * 10 + i)) for i in range(12)]
        land(bid, rows)
        all_rows += rows

    want = sorted(tuple(r) for r in aggregate_state(
        spark.createDataFrame(all_rows, "k string, v double"),
        "k", "v").collect())

    def view():
        return sorted(tuple(r)
                      for r in sp.read_matview(spark, std, "k").collect())

    assert view() == want
    upto = sp.compact_matview(spark, std, "k")
    assert upto == 2
    assert view() == want                       # baseline only
    assert sp.compact_matview(spark, std, "k") is None  # nothing live

    # ghost: a superseded epoch reappears — must NOT double-count
    land(1, [("g0", 999.0)])
    assert view() == want

    # new epochs on top of the baseline, then a second compaction
    rows3 = [("g1", 77.0), ("g3", 5.0)]
    land(3, rows3)
    all_rows += rows3
    want2 = sorted(tuple(r) for r in aggregate_state(
        spark.createDataFrame(all_rows, "k string, v double"),
        "k", "v").collect())
    assert view() == want2
    assert sp.compact_matview(spark, std, "k") == 3
    assert view() == want2
    # old baseline GC'd, new one committed
    import os
    assert os.listdir(f"{std}/_compacted") == ["upto=3"]

    # uncommitted baseline (no _SUCCESS) is ignored by readers
    os.makedirs(f"{std}/_compacted/upto=9")
    assert view() == want2
    shutil.rmtree(f"{std}/_compacted/upto=9")


def test_compact_token_sketch_equals_one_shot(spark, tmp_path):
    """Compacting the CM ledger must not change any estimate: folded
    baseline + fresh epochs == the one-shot sketch of all tokens."""
    from etl_evm_chain_spark.functions.text import tokens
    from etl_evm_chain_spark.operators.sketches import cm_sketch

    skd = str(tmp_path / "cts_sketch")
    corpora = [[(i, f"alpha w{i % 5}") for i in range(20)],
               [(i, f"beta w{i % 3} gamma") for i in range(15)],
               [(i, "alpha beta") for i in range(9)]]
    for bid, rows in enumerate(corpora):
        occ = spark.createDataFrame(rows, "doc_id long, text string") \
            .select(F.explode(tokens("text")).alias("tok"))
        cm_sketch(occ, "tok").coalesce(1).write.mode("overwrite") \
            .parquet(f"{skd}/batch_id={bid}")

    assert sp.compact_token_sketch(spark, skd, keep_last=1) == 1

    all_rows = [r for c in corpora for r in c]
    occ_all = spark.createDataFrame(all_rows, "doc_id long, text string") \
        .select(F.explode(tokens("text")).alias("tok"))
    oneshot = {(r["depth"], r["cell"]): r["cnt"]
               for r in cm_sketch(occ_all, "tok").collect()}
    folded = {(r["depth"], r["cell"]): r["cnt"]
              for r in sp.read_token_sketch(spark, skd).collect()}
    assert folded == oneshot


def test_stream_exact_dedup_remembers_all_history(spark, tmp_path):
    """A duplicate arriving epochs later (far outside any watermark)
    must still be dropped; within-batch dups keep the min id; the
    survivor union equals one-shot exact dedup keep-rows."""
    from etl_evm_chain_spark.operators.dedup import exact_dedup

    src = str(tmp_path / "xd_src")
    idx = str(tmp_path / "xd_index")
    out = str(tmp_path / "xd_out")
    ckpt = str(tmp_path / "xd_ckpt")

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_exact_dedup(stream, index_dir=idx, out_dir=out,
                                  checkpoint=ckpt)
        q.awaitTermination(120)

    rows1 = [(1, "alpha"), (2, "beta"), (3, "alpha")]   # 3 dups 1
    rows2 = [(10, "alpha"), (11, "gamma"), (12, "beta")]  # re-crawls + new
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    run()

    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {1, 2, 11}  # 3/10/12 deduped, 11 is new content

    # equals one-shot exact dedup keep-ids over the full history
    # (batches arrived in id order, so keep-min == first-seen)
    all_docs = spark.createDataFrame(rows1 + rows2,
                                     "doc_id long, text string")
    keep = {r["keep_id"] for r in exact_dedup(all_docs).collect()}
    assert survivors == keep


def test_exact_dedup_index_replay_is_idempotent(spark, tmp_path):
    """A replayed epoch (crash after the index write) must return the
    SAME survivors — not anti-join against its own landed
    fingerprints and erase the batch from index + lake."""
    from etl_evm_chain_spark.operators.dedup import (
        update_exact_dedup_index)

    idx = str(tmp_path / "ridx")
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string")
    first = {r["doc_id"] for r in update_exact_dedup_index(
        spark, docs, idx, batch_id="7").collect()}
    replay = {r["doc_id"] for r in update_exact_dedup_index(
        spark, docs, idx, batch_id="7").collect()}
    assert first == replay == {1, 2}
    # and a LATER batch still dedups against the (single) landed copy
    later = {r["doc_id"] for r in update_exact_dedup_index(
        spark, spark.createDataFrame([(9, "alpha"), (10, "delta")],
                                     "doc_id long, text string"),
        idx, batch_id="8").collect()}
    assert later == {10}


def test_exact_dedup_index_band_mismatch_raises(spark, tmp_path):
    from etl_evm_chain_spark.operators.dedup import (
        update_exact_dedup_index)

    idx = str(tmp_path / "bidx")
    docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    update_exact_dedup_index(spark, docs, idx, n_bands=256, batch_id="0")
    import pytest as _pytest
    with _pytest.raises(Exception, match="128|256"):
        update_exact_dedup_index(
            spark, spark.createDataFrame([(2, "beta")],
                                         "doc_id long, text string"),
            idx, n_bands=128, batch_id="1").collect()


def test_exact_dedup_index_null_text_groups(spark, tmp_path):
    """NULL content forms ONE dedup group across batches (exact_dedup
    groupBy semantics), not an un-joinable null key that survives
    every epoch."""
    from etl_evm_chain_spark.operators.dedup import (
        update_exact_dedup_index)

    idx = str(tmp_path / "nidx")
    b1 = spark.createDataFrame([(1, None), (2, "x")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(9, None), (10, "y")],
                               "doc_id long, text string")
    s1 = {r["doc_id"] for r in update_exact_dedup_index(
        spark, b1, idx, batch_id="0").collect()}
    s2 = {r["doc_id"] for r in update_exact_dedup_index(
        spark, b2, idx, batch_id="1").collect()}
    assert s1 == {1, 2} and s2 == {10}  # 9's null content deduped


def test_compact_matview_never_folds_partial_epochs(spark, tmp_path):
    """An epoch mid-write (no _SUCCESS) must clamp the compaction
    horizon: folding a partial epoch would make its full replay an
    ignored ghost — a permanent undercount."""
    import os

    from etl_evm_chain_spark.operators.matview import aggregate_state

    std = str(tmp_path / "pmv_state")

    def land(bid, rows, committed=True):
        # the writer's contract: epochs carry the geometry stamp
        sp.matview_epoch(
            spark.createDataFrame(rows, "k string, v double"), bid,
            state_dir=std, keys="k", value="v")
        if not committed:
            os.remove(f"{std}/batch_id={bid}/_SUCCESS")

    land(0, [("a", 1.0)])
    land(1, [("a", 2.0), ("b", 5.0)])
    land(2, [("b", 100.0)], committed=False)   # crashed mid-write
    land(3, [("c", 7.0)])

    # horizon clamps below the partial epoch 2 (epoch 3 NOT folded)
    assert sp.compact_matview(spark, std, "k") == 1
    assert os.path.isdir(f"{std}/batch_id={2}")   # partial preserved
    assert os.path.isdir(f"{std}/batch_id={3}")   # above horizon

    # the stream replays epoch 2 in full; the view must include it
    land(2, [("b", 100.0), ("b", 1.0)])
    want = sorted(tuple(r) for r in aggregate_state(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 100.0),
             ("b", 1.0), ("c", 7.0)], "k string, v double"),
        "k", "v").collect())
    got = sorted(tuple(r)
                 for r in sp.read_matview(spark, std, "k").collect())
    assert got == want
    # now everything is committed — the next compaction takes it all
    assert sp.compact_matview(spark, std, "k") == 3
    got2 = sorted(tuple(r)
                  for r in sp.read_matview(spark, std, "k").collect())
    assert got2 == want


def test_stream_matview_self_compacts(spark, tmp_path):
    """With compact_every=2 the ledger folds itself as epochs land:
    the directory count stays bounded and the view stays exact."""
    import os

    from etl_evm_chain_spark.operators.matview import aggregate_state

    src = str(tmp_path / "smc_src")
    std = str(tmp_path / "smc_state")
    ckpt = str(tmp_path / "smc_ckpt")

    def run():
        stream = spark.readStream.schema("k string, v double") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_matview(stream, state_dir=std, checkpoint=ckpt,
                              keys="k", value="v", compact_every=2)
        q.awaitTermination(120)

    all_rows = []
    for i in range(4):
        rows = [(f"g{j % 2}", float(i * 10 + j)) for j in range(6)]
        all_rows += rows
        spark.createDataFrame(rows, "k string, v double") \
            .coalesce(1).write.mode("append").parquet(src)
        run()

    live = [d for d in os.listdir(std) if d.startswith("batch_id=")]
    assert len(live) < 2                       # folded away as they land
    assert os.path.isdir(f"{std}/_compacted")
    want = sorted(tuple(r) for r in aggregate_state(
        spark.createDataFrame(all_rows, "k string, v double"),
        "k", "v").collect())
    got = sorted(tuple(r)
                 for r in sp.read_matview(spark, std, "k").collect())
    assert got == want


def test_token_sketch_geometry_mismatch_disjoint_cells_trips(spark, tmp_path):
    """Round-4 advice: two landed epochs with DIFFERENT geometry whose
    populated cells never collide in a (depth, cell) group must still
    fail the fold — the check is a global aggregate over all rows, not
    a per-group one that sparse sketches could dodge."""
    import pytest

    skd = str(tmp_path / "sketch_geo")
    e0 = [(0, 1, 5, "d2w16s=cm")]
    e1 = [(0, 9, 3, "d2w32s=cm")]   # different width, disjoint cell
    spark.createDataFrame(e0, "depth int, cell int, cnt long, geom string") \
        .coalesce(1).write.parquet(skd + "/batch_id=0")
    spark.createDataFrame(e1, "depth int, cell int, cnt long, geom string") \
        .coalesce(1).write.parquet(skd + "/batch_id=1")
    with pytest.raises(Exception, match="geometry mismatch"):
        sp.read_token_sketch(spark, skd).collect()
    # and compaction refuses to fold them for the same reason
    with pytest.raises(Exception, match="geometry mismatch"):
        sp.compact_token_sketch(spark, skd)


def test_ledger_with_only_torn_epochs_refuses_to_read(spark, tmp_path):
    """Round-4 advice: a crash during the very FIRST epoch write
    leaves a torn dir and no committed state anywhere; the old
    fallback read state_dir directly and folded the partial files."""
    import os

    import pytest

    skd = str(tmp_path / "torn_ledger")
    d = os.path.join(skd, "batch_id=0")
    os.makedirs(d)
    # half-written parquet, no _SUCCESS
    with open(os.path.join(d, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1torn")
    with pytest.raises(ValueError, match="uncommitted"):
        EpochLedger(spark, skd).live_paths()
    # an empty/missing ledger still surfaces the normal read error,
    # not the torn-state one
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        sp.read_token_sketch(spark, str(tmp_path / "missing_ledger"))


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["bare", "file_uri"])
def test_cm_ledger_torn_epoch_same_on_any_fs_path(spark, tmp_path, scheme):
    """The epoch ledger lists through the Hadoop FileSystem API, so a
    ``file://`` root behaves like a bare path: the reader skips a torn
    epoch, and compaction stops below it and leaves it in place. (A
    local-FS listing sees no directories under a URI: the reader then
    read the whole root, torn epoch included, and compaction did
    nothing.)"""
    import os

    from conftest import SF_SMALL

    from etl_evm_chain_spark.catalog import load_table

    local = str(tmp_path / "cm_any_fs")
    root = scheme + local
    docs = load_table(spark, SF_SMALL, "documents").withColumn(
        "_e", F.pmod(F.col("doc_id"), F.lit(3)).cast("int"))
    for e in range(3):
        sp.cm_epoch(docs.filter(F.col("_e") == e), e, sketch_dir=root)
    os.remove(os.path.join(local, "batch_id=2", "_SUCCESS"))
    twin = str(tmp_path / "cm_twin")
    for e in range(2):
        sp.cm_epoch(docs.filter(F.col("_e") == e), e, sketch_dir=twin)

    def cells(d):
        return sorted(tuple(r) for r in
                      sp.read_token_sketch(spark, d).collect())

    assert cells(root) == cells(twin)
    assert sp.compact_token_sketch(spark, root) == 1
    assert sorted(n for n in os.listdir(local) if not n.startswith(".")) \
        == ["_compacted", "batch_id=2"]
    assert cells(root) == cells(twin)


# ---------------------------------------------------------------------------
# Round-5 (r4 verdict ask #8): the ingest quarantine CONTRACT as a
# property — batch-reading what the streaming twin wrote (clean
# epochs + quarantine epochs) reproduces the original drop exactly,
# for arbitrary unicode payloads and arbitrary malformed lines.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_payload_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60)
# a malformed line: never valid JSON (leading '!'), never blank, no
# embedded newlines (a raw line IS the unit of quarantine)
_bad_line = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\n\r"),
    max_size=40).map(lambda s: "!" + s)


@given(st.lists(st.one_of(
    st.tuples(st.integers(min_value=0, max_value=2**40),
              st.one_of(st.none(), _payload_text)),
    _bad_line), min_size=1, max_size=12))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_stream_jsonl_ingest_roundtrip_property(spark, lines):
    """clean(parquet) ∪ quarantine(raw lines) == the original drop:
    nothing dropped, nothing duplicated, unicode intact — q111's
    batch round-trip pushed through the streaming path."""
    import json
    import tempfile

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    root = tempfile.mkdtemp()
    src = f"{root}/drop"
    __import__("os").makedirs(src)
    good, bad = [], []
    payload = []
    for item in lines:
        if isinstance(item, str):
            bad.append(item)
            payload.append(item)
        else:
            good.append(item)
            payload.append(json.dumps(
                {"doc_id": item[0], "text": item[1]}, ensure_ascii=False))
    with open(f"{src}/drop.jsonl", "w", encoding="utf-8") as f:
        f.write("\n".join(payload) + "\n")

    parsed = sp.stream_jsonl(spark, src, schema)
    q = sp.stream_jsonl_ingest(
        parsed, out_dir=f"{root}/clean", quarantine_dir=f"{root}/quar",
        checkpoint=f"{root}/ckpt")
    q.awaitTermination(120)

    got_clean = sorted((r.doc_id, r.text) for r in
                       spark.read.parquet(f"{root}/clean").collect()) \
        if good else []
    assert got_clean == sorted(good)
    if bad:
        got_bad = sorted(r.raw_line for r in
                         spark.read.parquet(f"{root}/quar").collect())
        assert got_bad == sorted(bad)
    else:
        import os
        assert not os.path.isdir(f"{root}/quar")


def test_stream_ann_ingest_equals_manual_batches(spark, tmp_path):
    """The streaming ANN ingest must land bit-identical index rows and
    neighbor results to a manual update_ann_index loop over the same
    batches — and a checkpoint-resumed second run must add epoch 1
    without disturbing epoch 0's landed neighbors."""
    import math

    from etl_evm_chain_spark.operators.similarity import update_ann_index

    def vec(i):
        return [math.cos(i * 0.7) + 0.1 * j for j in range(4)]

    rows1 = [(i, vec(i)) for i in range(12)]
    rows2 = [(100 + i, vec(i + 3)) for i in range(8)]
    schema = "vec_id long, embedding array<float>"

    src = str(tmp_path / "ann_src")
    idx_s = str(tmp_path / "ann_idx_stream")
    out_s = str(tmp_path / "ann_out_stream")
    ckpt = str(tmp_path / "ann_ckpt")

    def run():
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_ann_ingest(stream, index_path=idx_s,
                                 neighbors_dir=out_s, checkpoint=ckpt,
                                 n_cells=4, n_probe=2, k=3)
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    epoch0 = sorted(map(tuple, spark.read.parquet(out_s)
                        .select("qid", "cid", "rank").collect()))
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    # manual batch loop with the same epoch ids
    idx_m = str(tmp_path / "ann_idx_manual")
    m0 = update_ann_index(spark, spark.createDataFrame(rows1, schema),
                          idx_m, n_cells=4, n_probe=2, k=3, batch_id="0")
    m0 = sorted(map(tuple, m0.select("qid", "cid", "rank").collect()))
    m1 = update_ann_index(spark, spark.createDataFrame(rows2, schema),
                          idx_m, n_cells=4, n_probe=2, k=3, batch_id="1")
    m1 = sorted(map(tuple, m1.select("qid", "cid", "rank").collect()))

    streamed = spark.read.parquet(out_s)
    s0 = sorted(map(tuple, streamed.filter("batch_id = 0")
                    .select("qid", "cid", "rank").collect()))
    s1 = sorted(map(tuple, streamed.filter("batch_id = 1")
                    .select("qid", "cid", "rank").collect()))
    assert s0 == m0 == epoch0   # epoch 0 untouched by epoch 1
    assert s1 == m1 and s1
    # the two index lakes hold identical live rows
    from etl_evm_chain_spark.operators.index_ledger import read_live_index
    key = ["batch_id", "cell", "cid"]
    a = sorted(map(tuple, read_live_index(spark, idx_s + "/cells")
                   .select(*key).collect()))
    b = sorted(map(tuple, read_live_index(spark, idx_m + "/cells")
                   .select(*key).collect()))
    assert a == b and a


def test_stream_curation_funnel_stages_across_epochs(spark, tmp_path):
    """Ingest-time funnel: a later epoch's exact twin, near-dup, and
    benchmark-contaminated docs are dropped against HISTORY (landed
    indexes), low quality drops locally, and the per-epoch report
    reconciles with the survivor lake."""
    base = ("the quick brown fox jumps over the lazy dog and the "
            "sleepy cat of the old town walks to the green river in "
            "the quiet night while the birds of the valley sing and "
            "the wind of the hills blows softly over the fields")
    evt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def mk(seed, n=26):
        # stopword-rich text whose every 3-gram contains a seed-unique
        # noun: passes the quality gate, shares NO shingle across seeds
        return " ".join(f"the w{seed}n{i} of" for i in range(n))

    src = str(tmp_path / "cf_src")
    state = str(tmp_path / "cf_state")
    out = str(tmp_path / "cf_out")
    rep = str(tmp_path / "cf_rep")
    ckpt = str(tmp_path / "cf_ckpt")
    evaldf = spark.createDataFrame([(900, evt)], "doc_id long, text string")

    def run():
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_curation_funnel(
            stream, eval_docs=evaldf, state_dir=state, out_dir=out,
            report_dir=rep, checkpoint=ckpt, n_fp_bands=8,
            # 2-row bands so mid-Jaccard fixtures are certain LSH
            # candidates; thresholds lowered to match the bridge
            # construction below (17 can't exceed 0.5 to both sides)
            lsh_bands=32, jaccard_min=0.35, est_jaccard_min=0.35)
        q.awaitTermination(180)

    ep1 = [(1, base + " one"), (2, mk(2))]
    spark.createDataFrame(ep1, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} \
        == {1, 2}

    ep2 = [
        (10, "  " + (base + " one").upper().replace(" ", "  ")),  # exact
        (11, base + " one two three four"),                   # near-dup of 1
        (12, mk(12, 12) + " " + evt),                         # contaminated
        (13, "!!! ;;; ,,, ..."),                              # low quality
        (14, mk(14)),                                         # fresh
        # within-batch near-dup of 14 (no history twin): the exact-
        # verified CC keeps the min id, drops this one
        (15, mk(14) + " the extra of the tail of"),
        # transitivity through history: 16 near-dups ONLY 17 (their
        # mk(61) block + half of mk(2)); 17 ALSO embeds all of mk(2),
        # the epoch-1 history doc 2 — so 17 dies to history and 16's
        # whole component dies with it (dead_comp rule), even though
        # 16 itself is below the history estimate threshold
        (16, mk(61, 8) + " " + mk(2, 13)),
        (17, mk(61, 8) + " " + mk(2)),
    ]
    spark.createDataFrame(ep2, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    run()

    lake = spark.read.parquet(out)
    assert {r["doc_id"] for r in lake.collect()} == {1, 2, 14}
    reports = spark.read.parquet(rep)
    r2 = {r["stage"]: r["n_docs"] for r in
          reports.filter("batch_id = 1").collect()}
    assert r2 == {"quality": 1, "exact_dup": 1, "near_dup": 4,
                  "contaminated": 1, "kept": 1}
    # report reconciles with the lake per epoch
    n_kept_ep2 = lake.filter("batch_id = 1").count()
    assert r2["kept"] == n_kept_ep2


# ---------------------------------------------------------------------------
# Round 6: the per-doc disposition lake (curation_funnel_epoch) — the
# graded audit rows the round-5 verdict asked for — and the
# streaming↔batch funnel equivalence property.
# ---------------------------------------------------------------------------


def test_funnel_disposition_lake_grades_and_reconciliation(spark, tmp_path):
    """Two epochs through curation_funnel_epoch (the exact body the
    stream runs): every dropped doc lands one graded disposition row,
    per-epoch disposition counts reconcile with the stage-count
    report, dispositions + survivors partition the batch, and the
    evidence grades follow the documented rule (exact = text-level
    proof; estimate = index-resident history proof, est_jaccard only
    for direct history matches)."""
    base = ("the quick brown fox jumps over the lazy dog and the "
            "sleepy cat of the old town walks to the green river in "
            "the quiet night while the birds of the valley sing and "
            "the wind of the hills blows softly over the fields")
    evt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def mk(seed, n=26):
        return " ".join(f"the w{seed}n{i} of" for i in range(n))

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    rep = str(tmp_path / "rep")
    disp = str(tmp_path / "disp")
    evaldf = spark.createDataFrame([(900, evt)], "doc_id long, text string")

    def run_epoch(rows, epoch):
        sp.curation_funnel_epoch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch, eval_docs=evaldf,
            fp_dir=state + "/fpidx8", nd_dir=state + "/ndidx64x32",
            out_dir=out, report_dir=rep, disposition_dir=disp,
            n_fp_bands=8, lsh_bands=32,
            jaccard_min=0.35, est_jaccard_min=0.35)

    run_epoch([(1, base + " one"), (2, mk(2))], "0")
    run_epoch([
        (10, "  " + (base + " one").upper().replace(" ", "  ")),  # exact
        (11, base + " one two three four"),                # near-dup of 1
        (12, mk(12, 12) + " " + evt),                      # contaminated
        (13, "!!! ;;; ,,, ..."),                           # low quality
        (14, mk(14)),                                      # fresh
        (15, mk(14) + " the extra of the tail of"),        # in-batch loser
        (16, mk(61, 8) + " " + mk(2, 13)),                 # dead component
        (17, mk(61, 8) + " " + mk(2)),                     # dies to history
    ], "1")

    d0 = spark.read.parquet(disp + "/batch_id=0")
    assert d0.count() == 0  # epoch 0 dropped nothing
    d1 = {r["doc_id"]: r for r in
          spark.read.parquet(disp + "/batch_id=1").collect()}
    assert sorted(d1) == [10, 11, 12, 13, 15, 16, 17]

    assert (d1[13]["stage"], d1[13]["evidence"]) == ("quality", "exact")
    assert (d1[10]["stage"], d1[10]["evidence"]) == ("exact_dup", "exact")
    assert (d1[12]["stage"], d1[12]["evidence"]) == ("contaminated",
                                                     "exact")
    # 11: singleton canonical that matched history doc 1 directly —
    # estimate evidence carrying its own best history estimate
    assert (d1[11]["stage"], d1[11]["evidence"]) == ("near_dup",
                                                     "estimate")
    assert d1[11]["est_jaccard"] is not None
    assert 0.35 <= d1[11]["est_jaccard"] <= 1.0
    # 15: lost the within-batch exact-verified CC to 14 — text proof
    assert (d1[15]["stage"], d1[15]["evidence"]) == ("near_dup", "exact")
    assert d1[15]["est_jaccard"] is None
    # 17: also non-canonical within {16,17} (min-id rule) — it would
    # have died to 16 regardless of history, so the grade stays exact
    assert (d1[17]["stage"], d1[17]["evidence"]) == ("near_dup", "exact")
    # 16: canonical of a component that died only through 17's history
    # match — estimate evidence, transitive (no direct est of its own)
    assert (d1[16]["stage"], d1[16]["evidence"]) == ("near_dup",
                                                     "estimate")
    assert d1[16]["est_jaccard"] is None

    # report <-> disposition reconciliation, and drops+kept partition
    # the batch
    r1 = {r["stage"]: r["n_docs"] for r in
          spark.read.parquet(rep + "/batch_id=1").collect()}
    from collections import Counter
    stage_counts = Counter(r["stage"] for r in d1.values())
    for stage in ("quality", "exact_dup", "near_dup", "contaminated"):
        assert r1[stage] == stage_counts.get(stage, 0), stage
    kept_ids = {r["doc_id"] for r in
                spark.read.parquet(out + "/batch_id=1").collect()}
    assert r1["kept"] == len(kept_ids)
    assert kept_ids | set(d1) == {10, 11, 12, 13, 14, 15, 16, 17}
    assert kept_ids.isdisjoint(d1)


@pytest.mark.slow
def test_funnel_streaming_matches_batch_on_collision_free_fixture(
        spark, tmp_path):
    """The round-5 verdict's equivalence property: the same corpus
    through the one-shot batch funnel and through 3 contiguous-id
    ingest epochs yields the SAME per-stage drop sets and the same
    pre-budget survivor set, because on a collision-free fixture
    (pair Jaccard ≈ 0.85 or ≈ 0, thresholds at 0.5) the history
    ESTIMATE and the exact verification always agree, and contiguous
    id ranges make first-epoch-wins coincide with the global min-id
    rules."""
    from etl_evm_chain_spark.operators.curation import curation_funnel

    evt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def mk(fam, extra=0):
        toks = " ".join(f"the {fam}w{j} of" for j in range(20))
        return toks + "".join(f" the x{fam}e{j} of" for j in range(extra))

    rows = [
        (1, mk("a")),                    # epoch 0: canonical of the chain
        (2, mk("b")),
        (3, "%%% ### @@@"),              # quality drop
        (4, mk("c") + " " + evt),        # contaminated
        (11, mk("a", 3)),                # epoch 1: near-dup of 1
        (12, "  " + mk("b").upper()),    # exact dup of 2
        (13, mk("d")),
        (21, mk("a", 4)),                # epoch 2: near-dup of 1 and 11
        (23, mk("e")),                   # within-epoch pair: keep 23
        (24, mk("e", 3)),
        (25, mk("f")),
    ]
    docs = spark.createDataFrame(
        [(i, "src1", t, len(t)) for i, t in rows],
        "doc_id long, source string, text string, n_chars long")
    evaldf = spark.createDataFrame([(900, "eval", evt, len(evt))],
                                   docs.schema)

    batch = curation_funnel(docs, eval_docs=evaldf, part_col="source",
                            rate_col=F.lit(5), min_quality=0.45,
                            jaccard_threshold=0.5, n_buckets=8)
    bstage = {r["doc_id"]: r["stage"] for r in batch.collect()}

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    rep = str(tmp_path / "rep")
    disp = str(tmp_path / "disp")
    epochs = [[r for r in rows if lo <= r[0] < lo + 10]
              for lo in (0, 10, 20)]
    for e, ep_rows in enumerate(epochs):
        sp.curation_funnel_epoch(
            spark.createDataFrame(ep_rows, "doc_id long, text string"),
            str(e), eval_docs=evaldf.select("doc_id", "text"),
            fp_dir=state + "/fpidx8", nd_dir=state + "/ndidx64x16",
            out_dir=out, report_dir=rep, disposition_dir=disp,
            n_fp_bands=8)

    sdisp = {r["doc_id"]: r["stage"]
             for r in spark.read.parquet(disp).collect()}
    skept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # pre-budget survivors match (the stream has no budget stage)
    assert skept == {d for d, s in bstage.items()
                     if s in ("kept", "over_budget")}
    # and every drop lands in the SAME stage in both engines
    assert sdisp == {d: s for d, s in bstage.items()
                     if s not in ("kept", "over_budget")}


def test_stream_kmeans_two_generations_equal_batch_lloyd(spark, tmp_path):
    """The full streamed mini-batch k-means protocol — generation 0
    streamed as micro-batches, ledger compaction, refine, generation 1
    streamed — must land the BIT-IDENTICAL clustering of the one-shot
    batch Lloyd fit over the same vectors (incremental == one-shot
    through the decimal-sum monoid), including the refined centroid
    floats themselves."""
    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = sim.kmeans_seed_centroids(emb, k=4)
    src = str(tmp_path / "km_src")
    g0 = str(tmp_path / "km_gen0")
    g1 = str(tmp_path / "km_gen1")

    def run(state_dir, cents, tag):
        stream = spark.readStream.schema("vec_id long, embedding "
                                         "array<float>, label int") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_kmeans(stream, state_dir=state_dir,
                             checkpoint=str(tmp_path / f"ck_{tag}"),
                             centroids=cents)
        q.awaitTermination(120)

    # three files -> three micro-batches (maxFilesPerTrigger=1)
    for e in range(3):
        emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == e) \
            .coalesce(1).write.mode("append").parquet(src)
    run(g0, seeds, "g0")
    assert sp.compact_kmeans(spark, g0) is not None
    refined = sp.read_kmeans_centroids(spark, g0, seeds)

    _, cents_batch = sim._lloyd_fit(emb, k=4, n_iter=2)
    assert refined == cents_batch  # exact float equality, not approx

    run(g1, refined, "g1")
    folded = sp.read_kmeans_stats(spark, g1).filter(F.col("pos") == 0)
    streamed = {r["cell"]: (r["n"], int(r["sum_qcos"]))
                for r in folded.collect()}
    out = sim.lloyd_kmeans(emb, k=4, n_iter=2)
    q6 = F.floor(F.col("cos") * 1e6).cast("long")
    batch = {r["cell"]: (r["n"], int(r["sq"])) for r in
             out.select("cell", q6.alias("_q")).groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("_q").cast("decimal(38,0)")).alias("sq"))
                .collect()}
    assert streamed == batch


def test_stream_kmeans_epoch_replay_is_idempotent(spark, tmp_path):
    """A replayed epoch (crash after land, before checkpoint commit)
    must overwrite its directory with identical stats — the folded
    view is unchanged, never double-counted."""
    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = sim.kmeans_seed_centroids(emb, k=4)
    g0 = str(tmp_path / "km_replay")
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    sp.kmeans_epoch(b0, 0, state_dir=g0, centroids=seeds)
    sp.kmeans_epoch(b1, 1, state_dir=g0, centroids=seeds)
    before = sorted(tuple(r) for r in
                    sp.read_kmeans_stats(spark, g0).collect())
    sp.kmeans_epoch(b1, 1, state_dir=g0, centroids=seeds)  # replay
    after = sorted(tuple(r) for r in
                   sp.read_kmeans_stats(spark, g0).collect())
    assert before == after


def test_stream_kmeans_generation_mismatch_trips(spark, tmp_path):
    """Epochs landed against different centroid generations must fail
    the fold's GLOBAL stamp assertion — a restart that resumed with
    the wrong centroids can never silently blend generations — and
    read_kmeans_centroids must refuse to refine a ledger built
    against centroids other than the ones passed."""
    import pytest

    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = sim.kmeans_seed_centroids(emb, k=4)
    other = [[-v for v in c] for c in seeds]
    g0 = str(tmp_path / "km_mismatch")
    sp.kmeans_epoch(emb.filter(F.col("vec_id") % 2 == 0), 0,
                    state_dir=g0, centroids=seeds)
    sp.kmeans_epoch(emb.filter(F.col("vec_id") % 2 == 1), 1,
                    state_dir=g0, centroids=other)
    with pytest.raises(Exception, match="generation mismatch"):
        sp.read_kmeans_stats(spark, g0).collect()

    # a STALE but internally-consistent ledger (the ADVICE r7 gap):
    # min==max passes, so only the expect= pin can reject it — both
    # through the refine path and through a bare final-generation fold
    g1 = str(tmp_path / "km_wrong_refine")
    sp.kmeans_epoch(emb, 0, state_dir=g1, centroids=seeds)
    with pytest.raises(Exception, match="generation mismatch"):
        sp.read_kmeans_centroids(spark, g1, other)
    with pytest.raises(Exception, match="generation mismatch"):
        sp.read_kmeans_stats(spark, g1, expect=other).collect()
    # and the matching generation still folds clean
    assert sp.read_kmeans_stats(spark, g1, expect=seeds).count() > 0


def test_stream_kmeans_self_compacts_and_preserves_refine(spark, tmp_path):
    """compact_every folds old epochs into a baseline mid-stream; the
    refined centroids from the compacted ledger must equal those from
    an uncompacted twin ledger over the same batches."""
    import os

    from etl_evm_chain_spark.catalog import load_table
    from etl_evm_chain_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = sim.kmeans_seed_centroids(emb, k=4)
    ga = str(tmp_path / "km_compact")
    gb = str(tmp_path / "km_plain")
    src = str(tmp_path / "km_src2")
    for e in range(4):
        emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == e) \
            .coalesce(1).write.mode("append").parquet(src)

    def run(state_dir, tag, compact_every):
        stream = spark.readStream.schema("vec_id long, embedding "
                                         "array<float>, label int") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_kmeans(stream, state_dir=state_dir,
                             checkpoint=str(tmp_path / f"ck2_{tag}"),
                             centroids=seeds, compact_every=compact_every)
        q.awaitTermination(120)

    run(ga, "a", 2)
    run(gb, "b", None)
    assert os.path.isdir(os.path.join(ga, "_compacted"))
    assert sp.read_kmeans_centroids(spark, ga, seeds) \
        == sp.read_kmeans_centroids(spark, gb, seeds)


def _fuzz_funnel_corpus(seed: int):
    """Seeded corpus where est-vs-exact near-dup divergence is
    POSSIBLE by construction: each family pairs a base doc with one
    later variant sharing a word-prefix, and the prefix length sweeps
    the exact shingle Jaccard across the 0.5 threshold —
    J = (p-2)/(2n-2-p) for an n-word base and p-word shared prefix,
    so p∈{17,19} straddles 0.5 (0.4545 / 0.548) where the 64-slot
    estimate and the 16-band candidacy genuinely flip coins, while
    p=24 (~0.846) and p=6 (~0.09) are decided far outside the
    envelope. Plus an exact dup, a quality drop and a contaminated
    doc per corpus. Returns (rows, eval_text) with epoch = id // 1000
    (contiguous ids keep first-epoch-wins == global min-id)."""
    import random

    rng = random.Random(seed)
    n = 26
    evt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows: list[tuple[int, str]] = []
    counters = [0, 0, 0]

    def add(epoch: int, text: str) -> int:
        did = epoch * 1000 + counters[epoch]
        counters[epoch] += 1
        rows.append((did, text))
        return did

    prefixes = [24, 19, 17, 6, 24, 19, 17, 6]
    rng.shuffle(prefixes)
    for fam, p in enumerate(prefixes):
        base = [f"s{seed}f{fam}w{j}" for j in range(n)]
        rng.shuffle(base)
        e0 = rng.choice([0, 1])
        add(e0, " ".join(base))
        variant = base[:p] + [f"s{seed}f{fam}x{j}" for j in range(n - p)]
        add(e0 + 1, " ".join(variant))
    dup_src = " ".join(f"s{seed}dup{j} tok" for j in range(12))
    add(0, dup_src)
    add(2, "  " + dup_src.upper())          # exact dup (normalized)
    add(rng.choice([0, 1, 2]), "%%% ### @@@")   # quality drop
    add(rng.choice([0, 1, 2]),
        " ".join(f"s{seed}c{j}" for j in range(15)) + " " + evt)
    return rows, evt


@pytest.mark.slow
def test_funnel_streaming_matches_batch_fuzz_within_envelope(
        spark, tmp_path):
    """Randomized extension of the collision-free equivalence (VERDICT
    r6 ask #4): on seeded corpora whose near-dup pairs deliberately
    straddle the threshold, the streamed funnel may legitimately
    diverge from the batch funnel ONLY through the vs-history
    ESTIMATE, and every divergence must be (a) attributable — the
    streamed drop carries evidence='estimate' with est_jaccard >=
    the threshold, or the batch-only drop was a near_dup call —
    (b) banded — the divergent doc's exact Jaccard against earlier
    surviving docs sits inside the estimate's sampling envelope
    (0.2, 0.85), never a clear-cut pair — and (c) conservative —
    quality / exact-dup stages (no estimates involved) match the
    batch funnel verbatim, and out ∪ dispositions partition the
    input exactly."""
    from etl_evm_chain_spark.operators.curation import curation_funnel
    from etl_evm_chain_spark.operators.dedup import ngram_jaccard_pairs

    total_div = 0
    for seed in (11, 47):
        rows, evt = _fuzz_funnel_corpus(seed)
        docs = spark.createDataFrame(
            [(i, "src1", t, len(t)) for i, t in rows],
            "doc_id long, source string, text string, n_chars long")
        evaldf = spark.createDataFrame([(900000, "eval", evt, len(evt))],
                                       docs.schema)
        batch = curation_funnel(docs, eval_docs=evaldf, part_col="source",
                                rate_col=F.lit(10 ** 6), min_quality=0.45,
                                jaccard_threshold=0.5, n_buckets=8)
        bstage = {r["doc_id"]: r["stage"] for r in batch.collect()}

        state = str(tmp_path / f"st{seed}")
        out = str(tmp_path / f"out{seed}")
        for e in range(3):
            ep = [r for r in rows if r[0] // 1000 == e]
            sp.curation_funnel_epoch(
                spark.createDataFrame(ep, "doc_id long, text string"),
                str(e), eval_docs=evaldf.select("doc_id", "text"),
                fp_dir=state + "/fpidx8", nd_dir=state + "/ndidx64x16",
                out_dir=out, report_dir=state + "/rep",
                disposition_dir=state + "/disp", n_fp_bands=8)

        dispo = {r["doc_id"]: (r["stage"], r["evidence"], r["est_jaccard"])
                 for r in spark.read.parquet(state + "/disp").collect()}
        skept = {r["doc_id"] for r in spark.read.parquet(out).collect()}

        # (c) conservation: out and dispositions partition the input
        assert skept | set(dispo) == {i for i, _ in rows}
        assert not (skept & set(dispo))
        # (c) estimate-free stages match the batch funnel verbatim
        for stage in ("quality", "exact_dup"):
            assert {d for d, s in bstage.items() if s == stage} == \
                {d for d, (s, _, _) in dispo.items() if s == stage}, \
                f"seed {seed}: {stage} drops diverged"

        bkept = {d for d, s in bstage.items()
                 if s in ("kept", "over_budget")}
        div = skept ^ bkept
        total_div += len(div)
        # straddling pairs per corpus are bounded by construction
        assert len(div) <= 6, f"seed {seed}: divergence {div} too large"

        # (b) every divergence is banded: exact J against earlier
        # post-exact-stage docs sits inside the sampling envelope
        universe = {d for d, s in bstage.items()
                    if s not in ("quality", "exact_dup")}
        uni = docs.filter(F.col("doc_id").isin(list(universe)))
        jmap: dict[int, float] = {}
        for r in ngram_jaccard_pairs(uni, threshold=0.0).collect():
            a, b, j = r["id_a"], r["id_b"], r["jaccard"]
            if j is not None:
                jmap[b] = max(jmap.get(b, 0.0), j)  # vs any earlier id
        for d in div:
            jm = jmap.get(d, 0.0)
            assert 0.2 < jm < 0.85, \
                f"seed {seed}: doc {d} diverged on a clear-cut pair " \
                f"(exact J={jm})"
            # (a) attribution
            if d in dispo:      # stream dropped what batch kept
                stg, ev, est = dispo[d]
                assert stg == "near_dup" and ev == "estimate", \
                    f"seed {seed}: doc {d} divergent drop {dispo[d]}"
                assert est is not None and est >= 0.5
            else:               # batch dropped what stream kept
                assert bstage[d] == "near_dup", \
                    f"seed {seed}: doc {d} batch stage {bstage[d]}"
    # the fuzz must actually EXERCISE the envelope: the chosen seeds
    # diverge (measured: seed 11 -> 3 docs, seed 47 -> 1 doc); a
    # future change that makes this vacuous fails here
    assert total_div >= 2



def test_stream_drift_incremental_equals_one_shot(spark, tmp_path):
    """Per-epoch landed histograms must fold (read_drift_hist) into
    exactly the one-shot keyed histogram over the full history, and
    the folded TV statistic must equal tv_drift over the one-shot
    relation — the count monoid through the streaming path."""
    from etl_evm_chain_spark.operators.expectations import (
        histogram_counts, tv_drift)

    src = str(tmp_path / "dr_src")
    std = str(tmp_path / "dr_state")
    ckpt = str(tmp_path / "dr_ckpt")

    def run():
        stream = spark.readStream.schema("q double") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        s = sp.stream_drift(stream, state_dir=std, checkpoint=ckpt,
                            value="q", n_bins=8)
        s.awaitTermination(120)

    rows1 = [(0.05 * (i % 19),) for i in range(50)] + [(None,)]
    rows2 = [(0.93,), (0.07,), (float("nan"),), (0.5,), (0.51,)]
    # one FILE per append: the file source cuts micro-batches per
    # file, and the drift ledger keys epochs by batch id
    spark.createDataFrame(rows1, "q double") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, "q double") \
        .coalesce(1).write.mode("append").parquet(src)
    run()

    oneshot = histogram_counts(
        spark.createDataFrame(rows1, "q double")
        .withColumn("epoch", F.lit(0))
        .unionByName(spark.createDataFrame(rows2, "q double")
                     .withColumn("epoch", F.lit(1))),
        "q", n_bins=8, keys=("epoch",))
    as_set = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select("epoch", "bin", "n").collect())
    assert as_set(sp.read_drift_hist(spark, std)) == as_set(oneshot)
    drift_cols = ["epoch", "n_rows", "base_rows", "tv_num"]
    want = sorted(tuple(r) for r in tv_drift(oneshot, key="epoch",
                                             baseline=0)
                  .select(*drift_cols).collect())
    got = sorted(tuple(r) for r in sp.read_drift(spark, std, baseline=0)
                 .select(*drift_cols).collect())
    assert got == want and len(got) == 2


def test_drift_epoch_replay_and_compaction_keep_epochs_apart(
        spark, tmp_path):
    """A replayed drift epoch overwrites byte-identical rows, and a
    compaction folds the ledger WITHOUT merging epochs — the folded
    view still reports one row per (epoch, bin) and the TV statistic
    is unchanged."""
    std = str(tmp_path / "dr2_state")
    e0 = spark.createDataFrame([(0.1,), (0.2,), (0.9,)], "q double")
    e1 = spark.createDataFrame([(0.1,), (0.85,), (0.9,)], "q double")
    e2 = spark.createDataFrame([(0.4,)], "q double")
    for df, e in ((e0, 0), (e1, 1)):
        sp.drift_epoch(df, e, state_dir=std, value="q", n_bins=4)
    before = sorted(tuple(r) for r in
                    sp.read_drift(spark, std, baseline=0).collect())
    # replay epoch 1: exactly-once by overwrite
    sp.drift_epoch(e1, 1, state_dir=std, value="q", n_bins=4)
    assert sorted(tuple(r) for r in
                  sp.read_drift(spark, std, baseline=0).collect()) \
        == before
    # compact, then land a third epoch on top of the baseline
    assert sp.compact_drift(spark, std) == 1
    assert sorted(tuple(r) for r in
                  sp.read_drift(spark, std, baseline=0).collect()) \
        == before
    sp.drift_epoch(e2, 2, state_dir=std, value="q", n_bins=4)
    hist = {(r["epoch"], r["bin"]): r["n"]
            for r in sp.read_drift_hist(spark, std).collect()}
    assert hist[(2, 1)] == 1 and (0, 0) in hist and (1, 3) in hist
    out = {r["epoch"]: r["tv_num"]
           for r in sp.read_drift(spark, std, baseline=0).collect()}
    assert out[0] == 0 and set(out) == {0, 1, 2}


def test_stream_drift_self_compacts(spark, tmp_path):
    """compact_every folds old epochs into a baseline mid-stream; the
    folded view (and the TV statistic) must equal an uncompacted twin
    ledger over the same batches, and the baseline must actually
    exist (the stream really compacted, not just kept epoch dirs)."""
    src = str(tmp_path / "dc_src")
    std = str(tmp_path / "dc_state")
    twin = str(tmp_path / "dc_twin")
    ckpt = str(tmp_path / "dc_ckpt")

    batches = [
        [(0.1,), (0.3,), (0.9,)],
        [(0.2,), (0.8,)],
        [(0.5,), (0.55,), (0.6,)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "q double") \
            .coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("q double") \
            .option("maxFilesPerTrigger", 1).parquet(src)
        s = sp.stream_drift(stream, state_dir=std, checkpoint=ckpt,
                            value="q", n_bins=4, compact_every=2)
        s.awaitTermination(120)
        sp.drift_epoch(spark.createDataFrame(rows, "q double"), i,
                       state_dir=twin, value="q", n_bins=4)

    assert EpochLedger(spark, std).baseline() is not None   # committed
    as_set = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.collect())
    assert as_set(sp.read_drift_hist(spark, std)) \
        == as_set(sp.read_drift_hist(spark, twin))
    assert as_set(sp.read_drift(spark, std, baseline=0)) \
        == as_set(sp.read_drift(spark, twin, baseline=0))


# ---------------------------------------------------------------------------
# KMV distinct-count ledger (stream_kmv_sketch / read_kmv_sketch) —
# the sketch tier's streaming twin, driver-checked end-to-end by q136.
# ---------------------------------------------------------------------------

def _kmv_long(df):
    return sorted((r["event_type"], r["kind"], tuple(r["sketch"]),
                   r["geom"]) for r in df.collect())


def test_stream_kmv_incremental_equals_one_shot(spark, tmp_path):
    """Per-epoch landed KMV sketches must fold into EXACTLY the
    one-shot sketch of the whole history — the KMV merge law through
    the streaming path, arrays compared bit-for-bit."""
    from etl_evm_chain_spark.operators.sketches import kmv_sketch_many

    src = str(tmp_path / "kv_src")
    std = str(tmp_path / "kv_state")
    ckpt = str(tmp_path / "kv_ckpt")
    schema = "event_type string, user_id long, event_id long"

    def run():
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        s = sp.stream_kmv_sketch(
            stream, state_dir=std, checkpoint=ckpt,
            keys={"users": "user_id", "events": "event_id"},
            group_cols=["event_type"], k=8,
            salts={"users": "kmvu", "events": "kmve"})
        s.awaitTermination(120)

    rows1 = [("click", i % 7, i) for i in range(40)] + \
            [("view", None, 1000)]
    rows2 = [("click", i % 11, 200 + i) for i in range(30)] + \
            [("buy", 3, 2000)]
    spark.createDataFrame(rows1, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(rows2, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run()

    folded = {(r["event_type"], r["kind"]): tuple(r["sketch"])
              for r in sp.read_kmv_sketch(spark, std, ["event_type"],
                                          k=8).collect()}
    oneshot_wide = kmv_sketch_many(
        spark.createDataFrame(rows1 + rows2, schema),
        {"users": "user_id", "events": "event_id"},
        group_cols=["event_type"], k=8,
        salts={"users": "kmvu", "events": "kmve"})
    want = {}
    for r in oneshot_wide.collect():
        want[(r["event_type"], "users")] = tuple(r["users"])
        want[(r["event_type"], "events")] = tuple(r["events"])
    assert folded == want


def test_kmv_epoch_replay_and_compaction_are_exact(spark, tmp_path):
    """A replayed KMV epoch overwrites byte-identical rows; a
    compaction folds the ledger without changing the folded view; a
    post-compaction epoch merges on top of the baseline exactly."""
    from etl_evm_chain_spark.operators.sketches import kmv_sketch_many

    std = str(tmp_path / "kv2_state")
    schema = "event_type string, user_id long, event_id long"
    keys = {"users": "user_id", "events": "event_id"}
    e0 = spark.createDataFrame(
        [("a", i, i) for i in range(20)], schema)
    e1 = spark.createDataFrame(
        [("a", i + 15, 100 + i) for i in range(20)], schema)
    e2 = spark.createDataFrame(
        [("b", 1, 999)], schema)
    for df, e in ((e0, 0), (e1, 1)):
        sp.kmv_epoch(df, e, state_dir=std, keys=keys,
                     group_cols=["event_type"], k=8)
    before = _kmv_long(sp.read_kmv_sketch(spark, std, ["event_type"],
                                          k=8))
    sp.kmv_epoch(e1, 1, state_dir=std, keys=keys,
                 group_cols=["event_type"], k=8)  # replay
    assert _kmv_long(sp.read_kmv_sketch(spark, std, ["event_type"],
                                        k=8)) == before
    assert sp.compact_kmv_sketch(spark, std, ["event_type"], k=8) == 1
    assert _kmv_long(sp.read_kmv_sketch(spark, std, ["event_type"],
                                        k=8)) == before
    sp.kmv_epoch(e2, 2, state_dir=std, keys=keys,
                 group_cols=["event_type"], k=8)
    folded = {(r["event_type"], r["kind"]): tuple(r["sketch"])
              for r in sp.read_kmv_sketch(spark, std, ["event_type"],
                                          k=8).collect()}
    oneshot = kmv_sketch_many(e0.unionByName(e1).unionByName(e2),
                              keys, group_cols=["event_type"], k=8)
    want = {}
    for r in oneshot.collect():
        want[(r["event_type"], "users")] = tuple(r["users"])
        want[(r["event_type"], "events")] = tuple(r["events"])
    assert folded == want


def test_kmv_fold_geometry_mismatch_trips(spark, tmp_path):
    """Two epochs landing the same kind under different salts (or k)
    estimate NOTHING when merged — the fold must fail loudly, not
    fold order statistics from unrelated hash spaces."""
    import pytest

    std = str(tmp_path / "kv3_state")
    schema = "event_type string, user_id long, event_id long"
    df = spark.createDataFrame([("a", 1, 1)], schema)
    sp.kmv_epoch(df, 0, state_dir=std,
                 keys={"users": "user_id"}, group_cols=["event_type"],
                 k=8, salts={"users": "saltA"})
    sp.kmv_epoch(df, 1, state_dir=std,
                 keys={"users": "user_id"}, group_cols=["event_type"],
                 k=8, salts={"users": "saltB"})
    with pytest.raises(Exception, match="kmv geometry mismatch"):
        sp.read_kmv_sketch(spark, std, ["event_type"], k=8).collect()


def test_kmv_all_null_kind_folds_to_empty_sketch(spark, tmp_path):
    """A kind whose key column is all NULL (in a group that exists
    via another kind) lands as the canonical EMPTY sketch in every
    epoch and must fold to the empty sketch (estimate 0) — the
    explode_outer path; it must not disappear or turn NULL. A group
    with NO non-null kind at all is absent from one-shot
    kmv_sketch_many, so the fold drops it identically (checked
    too)."""
    from etl_evm_chain_spark.operators.sketches import kmv_estimate_expr

    std = str(tmp_path / "kv4_state")
    schema = "event_type string, user_id long, event_id long"
    keys = {"users": "user_id", "events": "event_id"}
    for e in (0, 1):
        sp.kmv_epoch(
            spark.createDataFrame(
                [("nullusers", None, 10 + e),
                 ("allnull", None, None)], schema),
            e, state_dir=std, keys=keys, group_cols=["event_type"], k=8)
    out = {(r["event_type"], r["kind"]): (r["sketch"], r["est"])
           for r in sp.read_kmv_sketch(spark, std, ["event_type"], k=8)
           .select("event_type", "kind", "sketch",
                   kmv_estimate_expr(F.col("sketch"), k=8).alias("est"))
           .collect()}
    # the all-NULL users kind survives as the empty sketch
    assert out[("nullusers", "users")] == ([], 0)
    sk, est = out[("nullusers", "events")]
    assert len(sk) == 2 and est == 2
    # a group with no non-null kind anywhere matches one-shot
    # semantics: absent
    assert not any(g == "allnull" for g, _ in out)


def test_stream_kmv_self_compacts(spark, tmp_path):
    """compact_every folds old epochs into a baseline mid-stream; the
    folded sketches must equal an uncompacted twin ledger over the
    same batches, and the baseline must actually exist."""
    src = str(tmp_path / "kc_src")
    std = str(tmp_path / "kc_state")
    twin = str(tmp_path / "kc_twin")
    ckpt = str(tmp_path / "kc_ckpt")
    schema = "event_type string, user_id long, event_id long"
    keys = {"users": "user_id", "events": "event_id"}

    batches = [
        [("a", i, i) for i in range(12)],
        [("a", i + 9, 50 + i) for i in range(12)],
        [("b", 2, 900), ("a", 1, 51)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        s = sp.stream_kmv_sketch(stream, state_dir=std, checkpoint=ckpt,
                                 keys=keys, group_cols=["event_type"],
                                 k=8, compact_every=2)
        s.awaitTermination(120)
        sp.kmv_epoch(spark.createDataFrame(rows, schema), i,
                     state_dir=twin, keys=keys,
                     group_cols=["event_type"], k=8)

    assert EpochLedger(spark, std).baseline() is not None   # committed
    assert _kmv_long(sp.read_kmv_sketch(spark, std, ["event_type"],
                                        k=8)) \
        == _kmv_long(sp.read_kmv_sketch(spark, twin, ["event_type"],
                                        k=8))


def test_expectations_fold_equals_one_shot_for_distributive_rules(
        spark, tmp_path):
    """Folded corpus-lifetime totals must equal the one-shot suite
    over the union for epoch-distributive rules — the q139 law,
    through a compaction."""
    from etl_evm_chain_spark.operators.expectations import (
        expect, expect_not_null, run_expectations)

    rpd = str(tmp_path / "ef_reports")
    checks = [expect_not_null("c_not_null", "c"),
              expect("v_positive", F.col("v") > 0)]
    e0 = spark.createDataFrame([("x", 1.0), (None, -2.0)],
                               "c string, v double")
    e1 = spark.createDataFrame([("z", -1.0), ("w", 2.0), (None, 3.0)],
                               "c string, v double")
    for df, e in ((e0, 0), (e1, 1)):
        sp.expectations_epoch(df, e, report_dir=rpd, checks=checks)
    assert sp.compact_expectations(spark, rpd) == 1
    folded = {r["check"]: (r["violations"], r["total"], r["passed"])
              for r in sp.read_expectations(spark, rpd,
                                            folded=True).collect()}
    want = {r["check"]: (r["violations"], r["total"], r["passed"])
            for r in run_expectations(e0.unionByName(e1),
                                      checks).collect()}
    assert folded == want
    # the per-epoch audit trail survives the compaction
    per_epoch = sp.read_expectations(spark, rpd).collect()
    assert {(r["epoch"], r["check"]) for r in per_epoch} \
        == {(e, c) for e in (0, 1) for c in ("c_not_null", "v_positive")}


def test_expectations_fold_cannot_see_cross_epoch_duplicates(
        spark, tmp_path):
    """The documented reason q139 EXCLUDES uniqueness: each epoch is
    internally unique, so every per-epoch report shows 0 violations
    and the fold sums to 0 — while the one-shot suite over the union
    sees the cross-epoch duplicate. This divergence is pinned so the
    exclusion can never silently rot into a false 'fold proves
    uniqueness' claim."""
    from etl_evm_chain_spark.operators.expectations import (
        expect_unique, run_expectations)

    rpd = str(tmp_path / "eu_reports")
    checks = [expect_unique("id_unique", "id")]
    e0 = spark.createDataFrame([(1,), (2,)], "id long")
    e1 = spark.createDataFrame([(2,), (3,)], "id long")  # 2 repeats
    for df, e in ((e0, 0), (e1, 1)):
        sp.expectations_epoch(df, e, report_dir=rpd, checks=checks)
    folded = sp.read_expectations(spark, rpd, folded=True).collect()[0]
    oneshot = run_expectations(e0.unionByName(e1), checks).collect()[0]
    assert folded["violations"] == 0          # blind to the cross-dup
    assert oneshot["violations"] == 1         # the truth


def test_kmv_fold_rejects_wrong_reader_k(spark, tmp_path):
    """Folding a k=8 ledger with a k=64 reader must fail loudly —
    kmv_estimate_expr's 'size < k ⇒ exact' branch would otherwise
    report the 8-value sketch's SIZE as an exact distinct count."""
    import pytest

    std = str(tmp_path / "kv5_state")
    schema = "event_type string, user_id long, event_id long"
    df = spark.createDataFrame([("a", i, i) for i in range(30)], schema)
    sp.kmv_epoch(df, 0, state_dir=std, keys={"users": "user_id"},
                 group_cols=["event_type"], k=8)
    with pytest.raises(Exception, match="kmv geometry mismatch"):
        sp.read_kmv_sketch(spark, std, ["event_type"], k=64).collect()
    # the matching reader still folds
    out = sp.read_kmv_sketch(spark, std, ["event_type"], k=8).collect()
    assert len(out) == 1 and len(out[0]["sketch"]) == 8


@pytest.mark.slow
def test_kmv_fold_equals_one_shot_fuzz_random_partitions(
        spark, tmp_path):
    """Randomized partition fuzz for the KMV ledger's monoid law: for
    seeded random corpora — duplicate keys deliberately strewn ACROSS
    epochs, NULL keys mixed in — and random epoch counts, the landed
    fold (with a random mid-protocol compaction) must equal the
    one-shot sketch of the union bit-for-bit. Arrival order and
    partition shape can never matter."""
    import random

    from etl_evm_chain_spark.operators.sketches import kmv_sketch_many

    schema = "event_type string, user_id long, event_id long"
    keys = {"users": "user_id", "events": "event_id"}
    for seed in (3, 91):
        rng = random.Random(seed)
        rows = [(rng.choice(["a", "b", "c"]),
                 rng.choice([None] + list(range(12))),
                 rng.randrange(40))           # heavy cross-epoch dups
                for _ in range(120)]
        n_ep = rng.randint(2, 4)
        assign = [rng.randrange(n_ep) for _ in rows]
        std = str(tmp_path / f"fz{seed}")
        for e in range(n_ep):
            part = [r for r, a in zip(rows, assign) if a == e]
            if part:
                sp.kmv_epoch(spark.createDataFrame(part, schema), e,
                             state_dir=std, keys=keys,
                             group_cols=["event_type"], k=8)
        if rng.random() < 0.8:
            sp.compact_kmv_sketch(spark, std, ["event_type"], k=8)
        folded = {(r["event_type"], r["kind"]): tuple(r["sketch"])
                  for r in sp.read_kmv_sketch(spark, std, ["event_type"],
                                              k=8).collect()}
        want = {}
        for r in kmv_sketch_many(spark.createDataFrame(rows, schema),
                                 keys, group_cols=["event_type"],
                                 k=8).collect():
            want[(r["event_type"], "users")] = tuple(r["users"])
            want[(r["event_type"], "events")] = tuple(r["events"])
        assert folded == want, f"seed {seed}: fold != one-shot"


def test_matview_fold_rejects_mixed_geometry(spark, tmp_path):
    """Two epochs landed with different value columns have IDENTICAL
    state schemas — the fold must fail loudly, not sum unrelated
    statistics (the kmv reader-k hazard, one ledger over). A
    wrong-keys read trips the same stamp."""
    import pytest

    std = str(tmp_path / "mvg_state")
    df = spark.createDataFrame([("a", 1.0, 9.0)],
                               "g string, price double, qty double")
    sp.matview_epoch(df, 0, state_dir=std, keys=["g"], value="price")
    sp.matview_epoch(df, 1, state_dir=std, keys=["g"], value="qty")
    with pytest.raises(Exception, match="matview geometry mismatch"):
        sp.read_matview(spark, std, ["g"]).collect()
    # consistent ledger + matching reader folds fine
    std2 = str(tmp_path / "mvg2_state")
    for e in (0, 1):
        sp.matview_epoch(df, e, state_dir=std2, keys=["g"],
                         value="price")
    out = sp.read_matview(spark, std2, ["g"]).collect()
    assert len(out) == 1 and out[0]["n"] == 2
    # wrong-keys read of a healthy ledger trips too
    with pytest.raises(Exception, match="matview geometry mismatch"):
        sp.read_matview(spark, std2, ["price"]).collect()


def test_drift_fold_rejects_mixed_bin_geometry(spark, tmp_path):
    """Epochs binned under different edges share the (epoch, bin, n)
    schema but their cross-epoch TV comparison is nonsense — the fold
    must fail loudly (the matview/kmv geometry discipline)."""
    import pytest

    std = str(tmp_path / "drg_state")
    df = spark.createDataFrame([(0.1,), (0.9,)], "q double")
    sp.drift_epoch(df, 0, state_dir=std, value="q", n_bins=4)
    sp.drift_epoch(df, 1, state_dir=std, value="q", n_bins=8)
    with pytest.raises(Exception, match="drift geometry mismatch"):
        sp.read_drift_hist(spark, std).collect()


def test_stream_pq_ingest_equals_manual_batches(spark, tmp_path):
    """The streaming PQ ingest must land bit-identical neighbor
    results to a manual update_pq_index loop over the same batches —
    epoch-1 books come FROZEN from epoch 0 (the first-epoch-trains
    rule), and a checkpoint-resumed second run adds epoch 1 without
    disturbing epoch 0's landed neighbors."""
    import math

    from etl_evm_chain_spark.operators.similarity import update_pq_index

    def vec(i):
        return [math.cos(i * 0.7) + 0.1 * j for j in range(4)]

    rows1 = [(i, vec(i)) for i in range(12)]
    rows2 = [(100 + i, vec(i + 3)) for i in range(8)]
    schema = "vec_id long, embedding array<float>"
    kw = dict(n_sub=2, n_cents=4, k=3)

    src = str(tmp_path / "pq_src")
    idx_s = str(tmp_path / "pq_idx_stream")
    out_s = str(tmp_path / "pq_out_stream")
    ckpt = str(tmp_path / "pq_ckpt")

    def run():
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_pq_ingest(stream, index_path=idx_s,
                                neighbors_dir=out_s, checkpoint=ckpt,
                                **kw)
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    epoch0 = sorted(map(tuple, spark.read.parquet(out_s)
                        .select("qid", "cid", "rank").collect()))
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    idx_m = str(tmp_path / "pq_idx_manual")
    m0 = update_pq_index(spark, spark.createDataFrame(rows1, schema),
                         idx_m, batch_id="0", **kw)
    m0 = sorted(map(tuple, m0.select("qid", "cid", "rank").collect()))
    m1 = update_pq_index(spark, spark.createDataFrame(rows2, schema),
                         idx_m, batch_id="1", **kw)
    m1 = sorted(map(tuple, m1.select("qid", "cid", "rank").collect()))

    streamed = spark.read.parquet(out_s)
    s0 = sorted(map(tuple, streamed.filter("batch_id = 0")
                    .select("qid", "cid", "rank").collect()))
    s1 = sorted(map(tuple, streamed.filter("batch_id = 1")
                    .select("qid", "cid", "rank").collect()))
    assert s0 == m0 == epoch0   # epoch 0 untouched by epoch 1
    assert s1 == m1 and s1
    # the two index lakes hold identical live code rows
    from etl_evm_chain_spark.operators.index_ledger import read_live_index
    ls = read_live_index(spark, f"{idx_s}/codes") \
        .select("vec_id", "norm", "codes").collect()
    lm = read_live_index(spark, f"{idx_m}/codes") \
        .select("vec_id", "norm", "codes").collect()
    assert sorted(map(tuple, ls)) == sorted(map(tuple, lm))


def test_stream_ivfpq_ingest_equals_manual_batches(spark, tmp_path):
    """The streaming IVF-PQ ingest must land bit-identical neighbor
    results to a manual update_ivfpq_index loop over the same batches
    — epoch-1 quantizers (coarse cells AND codebooks) come FROZEN
    from epoch 0, and a checkpoint-resumed second run adds epoch 1
    without disturbing epoch 0's landed neighbors."""
    import math

    from etl_evm_chain_spark.operators.similarity import (
        update_ivfpq_index)

    def vec(i):
        return [math.cos(i * 0.7) + 0.1 * j for j in range(4)]

    rows1 = [(i, vec(i)) for i in range(12)]
    rows2 = [(100 + i, vec(i + 3)) for i in range(8)]
    schema = "vec_id long, embedding array<float>"
    kw = dict(n_cells=4, n_probe=2, n_assign=1, n_sub=2, n_cents=4,
              k=3)

    src = str(tmp_path / "ipq_src")
    idx_s = str(tmp_path / "ipq_idx_stream")
    out_s = str(tmp_path / "ipq_out_stream")
    ckpt = str(tmp_path / "ipq_ckpt")

    def run():
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = sp.stream_ivfpq_ingest(stream, index_path=idx_s,
                                   neighbors_dir=out_s,
                                   checkpoint=ckpt, **kw)
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    epoch0 = sorted(map(tuple, spark.read.parquet(out_s)
                        .select("qid", "cid", "rank").collect()))
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    idx_m = str(tmp_path / "ipq_idx_manual")
    m0 = update_ivfpq_index(spark,
                            spark.createDataFrame(rows1, schema),
                            idx_m, batch_id="0", **kw)
    m0 = sorted(map(tuple, m0.select("qid", "cid", "rank").collect()))
    m1 = update_ivfpq_index(spark,
                            spark.createDataFrame(rows2, schema),
                            idx_m, batch_id="1", **kw)
    m1 = sorted(map(tuple, m1.select("qid", "cid", "rank").collect()))

    streamed = spark.read.parquet(out_s)
    s0 = sorted(map(tuple, streamed.filter("batch_id = 0")
                    .select("qid", "cid", "rank").collect()))
    s1 = sorted(map(tuple, streamed.filter("batch_id = 1")
                    .select("qid", "cid", "rank").collect()))
    assert s0 == m0 == epoch0   # epoch 0 untouched by epoch 1
    assert s1 == m1 and s1
    # the two index lakes hold identical live (code, cell) rows
    from etl_evm_chain_spark.operators.index_ledger import read_live_index
    ls = read_live_index(spark, f"{idx_s}/codes") \
        .select("vec_id", "norm", "codes", "cell").collect()
    lm = read_live_index(spark, f"{idx_m}/codes") \
        .select("vec_id", "norm", "codes", "cell").collect()
    assert sorted(map(tuple, ls)) == sorted(map(tuple, lm))


def test_expectations_fold_rejects_mixed_checks_geometry(spark, tmp_path):
    """Two epochs landed under different rule suites — here the
    SNEAKIEST variant, the same rule NAME with a retuned threshold —
    have identical report schemas, so only the checks-list
    fingerprint can stop the fold from summing incomparable counts
    (the matview/kmv/cm geometry discipline, rules edition). A
    matching-suite reader pin passes; a different-suite pin trips the
    same stamp."""
    import pytest

    from etl_evm_chain_spark.operators.expectations import expect

    rpd = str(tmp_path / "eg_reports")
    suite_a = [expect("v_cap", F.col("v") < 5)]
    suite_b = [expect("v_cap", F.col("v") < 7)]   # same name, retuned
    df = spark.createDataFrame([(1.0,), (6.0,)], "v double")
    sp.expectations_epoch(df, 0, report_dir=rpd, checks=suite_a)
    sp.expectations_epoch(df, 1, report_dir=rpd, checks=suite_b)
    with pytest.raises(Exception, match="expectations geometry mismatch"):
        sp.read_expectations(spark, rpd).collect()
    # and compaction refuses to fold them for the same reason
    with pytest.raises(Exception, match="expectations geometry mismatch"):
        sp.compact_expectations(spark, rpd)

    # healthy single-suite ledger: folds fine, and the reader's-suite
    # pin accepts the matching suite but trips on any other
    rpd2 = str(tmp_path / "eg2_reports")
    for e in (0, 1):
        sp.expectations_epoch(df, e, report_dir=rpd2, checks=suite_a)
    out = sp.read_expectations(spark, rpd2, folded=True,
                               checks=suite_a).collect()
    assert out and out[0]["total"] == 4
    with pytest.raises(Exception, match="expectations geometry mismatch"):
        sp.read_expectations(spark, rpd2, checks=suite_b).collect()


def test_expectations_ledger_predating_geom_stamp_refuses(spark, tmp_path):
    """Reports landed before the checks-list stamp have no geom
    column; the fold must fail with the loud rebuild message, not an
    opaque UNRESOLVED_COLUMN (the matview/drift legacy-guard rule)."""
    import pytest

    rpd = str(tmp_path / "el_reports")
    spark.createDataFrame(
        [("v_cap", 1, 2, 0, 0)],
        "check string, violations long, total long, passed int, "
        "epoch int").coalesce(1).write.parquet(rpd + "/batch_id=0")
    with pytest.raises(ValueError, match="checks-list geometry stamp"):
        sp.read_expectations(spark, rpd)


def test_stream_ivfpq_deletes_equals_manual(spark, tmp_path):
    """The deletion stream must land the same tombstone state as
    manual delete_from_ivfpq_index calls, drive the same immediate
    neighbor suppression, and replay idempotently via the epoch-
    keyed tombstone directories."""
    import math

    from etl_evm_chain_spark.operators.similarity import (
        describe_ivfpq_index, probe_ivfpq_index, update_ivfpq_index)

    def vec(i):
        return [math.cos(i * 0.7) + 0.1 * j for j in range(4)]

    rows = [(i, vec(i)) for i in range(16)]
    schema = "vec_id long, embedding array<float>"
    kw = dict(n_cells=4, n_probe=4, n_assign=1, n_sub=2, n_cents=4)
    idx = str(tmp_path / "ipqds_idx")
    update_ivfpq_index(spark, spark.createDataFrame(rows, schema),
                       idx, k=3, batch_id="0", **kw).collect()
    queries = spark.createDataFrame([(200, vec(3))], schema)
    pre = probe_ivfpq_index(spark, queries, idx, k=3).collect()
    victims = sorted({r["cid"] for r in pre})[:2]

    src = str(tmp_path / "ipqds_src")
    ckpt = str(tmp_path / "ipqds_ckpt")
    spark.createDataFrame([(v,) for v in victims], "vec_id long") \
        .coalesce(1).write.mode("append").parquet(src)
    q = sp.stream_ivfpq_deletes(
        spark.readStream.schema("vec_id long").parquet(src),
        index_path=idx, checkpoint=ckpt)
    q.awaitTermination(120)
    post = probe_ivfpq_index(spark, queries, idx, k=3).collect()
    assert post and all(r["cid"] not in victims for r in post)
    st = describe_ivfpq_index(spark, idx)
    assert st["n_tombstones"] == len(victims)
    assert st["n_vectors"] == 16 and st["live_batches"] == 1
    assert sum(r["n_codes"] for r in st["cells"].collect()) \
        == st["n_code_rows"]
    # checkpoint-resumed restart with no new data: no state change
    q = sp.stream_ivfpq_deletes(
        spark.readStream.schema("vec_id long").parquet(src),
        index_path=idx, checkpoint=ckpt)
    q.awaitTermination(120)
    assert describe_ivfpq_index(spark, idx)["n_tombstones"] \
        == len(victims)

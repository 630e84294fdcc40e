"""Batch landed-index compaction (operators/index_ledger): directory
consolidation with bit-identical results, replay-after-compact safety
(the round-4 self-erasure / duplicate-neighbor classes), torn
baselines, and ghost-directory GC — the adversarial battery the
round-4 verdict asked to budget for every fresh ledger protocol."""

from __future__ import annotations

import pytest

import os
import shutil

from pyspark.sql import functions as F

from etl_evm_chain_spark.catalog import load_table
from etl_evm_chain_spark.operators import dedup as dd
from etl_evm_chain_spark.operators import similarity as sim
from etl_evm_chain_spark.operators.index_ledger import (
    assert_live_batch_count,
    read_live_index,
)

from conftest import SF_SMALL

BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee")


def _doc_rows(lo, hi, mutate=""):
    return [(i, f"{BASE} {mutate} {'zulu' if i % 3 == 0 else 'tango'} "
             f"row{i % 4}") for i in range(lo, hi)]


def _mkdocs(spark, lo, hi, mutate=""):
    return spark.createDataFrame(_doc_rows(lo, hi, mutate),
                                 "doc_id long, text string")


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in df.collect()}


def test_near_dup_compact_preserves_next_increment(spark, tmp_path):
    """Same docs through a compacted and an uncompacted index must
    produce identical pair sets for the next increment, while the
    compacted side's live directory count collapses to one baseline."""
    plain = str(tmp_path / "plain")
    comp = str(tmp_path / "comp")
    b1, b2, b3 = (_mkdocs(spark, 0, 6), _mkdocs(spark, 6, 12),
                  _mkdocs(spark, 12, 18))
    for idx in (plain, comp):
        dd.update_near_dup_index(spark, b1, idx, batch_id="d1").collect()
        dd.update_near_dup_index(spark, b2, idx, batch_id="d2").collect()
    g = dd.compact_near_dup_index(spark, comp)
    assert g == 0
    assert assert_live_batch_count(spark, comp) == 0
    assert assert_live_batch_count(spark, plain) == 2
    # folded batch dirs are gone; the baseline keeps band partitioning
    assert not any(d.startswith("batch_id=") for d in os.listdir(comp))
    gen_dir = os.path.join(comp, "_compacted", "gen=0")
    assert any(d.startswith("band=") for d in os.listdir(gen_dir))
    # live rows identical (batch_id column preserved through the fold)
    lp = read_live_index(spark, plain)
    lc = read_live_index(spark, comp)
    key = ["batch_id", "band", "key", "doc_id"]
    assert sorted(map(tuple, lp.select(*key).collect())) == \
        sorted(map(tuple, lc.select(*key).collect()))
    # next increment: identical pairs either way
    p_plain = _pairs(dd.update_near_dup_index(spark, b3, plain,
                                              batch_id="d3"))
    p_comp = _pairs(dd.update_near_dup_index(spark, b3, comp,
                                             batch_id="d3"))
    assert p_plain == p_comp and p_comp


def test_near_dup_replay_after_compact_not_duplicated(spark, tmp_path):
    """Replaying a batch whose directory was folded away must neither
    double its rows nor change the pair set: the recreated directory
    is manifest-excluded and the baseline copy is authoritative."""
    idx = str(tmp_path / "idx")
    docs = _mkdocs(spark, 0, 8)
    before = _pairs(dd.update_near_dup_index(spark, docs, idx,
                                             batch_id="d1"))
    dd.compact_near_dup_index(spark, idx)
    n_live = read_live_index(spark, idx).count()
    after = _pairs(dd.update_near_dup_index(spark, docs, idx,
                                            batch_id="d1"))
    assert after == before
    assert read_live_index(spark, idx).count() == n_live
    # the ghost directory exists on disk but is invisible to readers
    assert any(d == "batch_id=bd1" for d in os.listdir(idx))
    # ... and the next compaction sweeps it
    g2 = dd.compact_near_dup_index(spark, idx)
    assert g2 is None or not any(
        d.startswith("batch_id=") for d in os.listdir(idx))


def test_exact_dedup_replay_after_compact_no_self_erasure(spark, tmp_path):
    """The round-4 self-erasure class, now across a compaction: a
    replayed batch must still exclude its OWN (folded) fingerprints
    and return the same survivors, and cross-history dedup must keep
    working against the baseline."""
    idx = str(tmp_path / "fp_idx")
    b1 = spark.createDataFrame(
        [(1, "one fish"), (2, "two fish"), (3, "one fish")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, "one fish"), (11, "red fish")],
        "doc_id long, text string")
    s1 = {r["doc_id"] for r in dd.update_exact_dedup_index(
        spark, b1, idx, batch_id="e1").collect()}
    assert s1 == {1, 2}
    s2 = {r["doc_id"] for r in dd.update_exact_dedup_index(
        spark, b2, idx, batch_id="e2").collect()}
    assert s2 == {11}                      # 10 is a known duplicate
    assert dd.compact_exact_dedup_index(spark, idx) == 0
    # replay e2 after its rows were folded into the baseline: its own
    # fingerprints must be excluded (no self-erasure), history kept
    s2r = {r["doc_id"] for r in dd.update_exact_dedup_index(
        spark, b2, idx, batch_id="e2").collect()}
    assert s2r == {11}
    # new history still dedups against the folded baseline
    b3 = spark.createDataFrame(
        [(20, "red fish"), (21, "blue fish")], "doc_id long, text string")
    s3 = {r["doc_id"] for r in dd.update_exact_dedup_index(
        spark, b3, idx, batch_id="e3").collect()}
    assert s3 == {21}


def test_ann_compact_preserves_topk_and_replay(spark, tmp_path):
    idx_plain = str(tmp_path / "ann_plain")
    idx_comp = str(tmp_path / "ann_comp")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    b2 = emb.filter(F.col("vec_id") % 3 == 1)
    b3 = emb.filter(F.col("vec_id") % 3 == 2)
    for idx in (idx_plain, idx_comp):
        sim.update_ann_index(spark, b1, idx, k=3, batch_id="a1").collect()
        sim.update_ann_index(spark, b2, idx, k=3, batch_id="a2").collect()
    assert sim.compact_ann_index(spark, idx_comp) == 0
    cells = os.path.join(idx_comp, "cells")
    assert not any(d.startswith("batch_id=")
                   for d in os.listdir(cells))
    gen_dir = os.path.join(cells, "_compacted", "gen=0")
    assert any(d.startswith("cell=") for d in os.listdir(gen_dir))
    # frozen quantizer untouched
    assert os.path.isdir(os.path.join(idx_comp, "centroids"))

    def topk(df):
        return {(r["qid"], r["rank"]): (r["cid"], r["sim"])
                for r in df.collect()}

    t_plain = topk(sim.update_ann_index(spark, b3, idx_plain, k=3,
                                        batch_id="a3"))
    t_comp = topk(sim.update_ann_index(spark, b3, idx_comp, k=3,
                                       batch_id="a3"))
    assert t_plain == t_comp and t_comp
    # replay a FOLDED batch: top-k unchanged, no duplicate neighbors
    t_replay = topk(sim.update_ann_index(spark, b2, idx_comp, k=3,
                                         batch_id="a2"))
    cids = {}
    for r in sim.update_ann_index(spark, b2, idx_comp, k=3,
                                  batch_id="a2").collect():
        cids.setdefault(r["qid"], []).append(r["cid"])
    assert all(len(v) == len(set(v)) for v in cids.values())
    assert t_replay  # non-empty, ran against baseline + live dirs


def test_torn_baseline_is_invisible(spark, tmp_path):
    """A crash between the baseline data write and the manifest write
    leaves a half-committed generation; readers must keep using the
    raw batch directories (which GC has not touched)."""
    idx = str(tmp_path / "torn")
    docs = _mkdocs(spark, 0, 6)
    before = _pairs(dd.update_near_dup_index(spark, docs, idx,
                                             batch_id="t1"))
    live_before = read_live_index(spark, idx).count()
    # half-committed generation: data yes, manifest missing
    gen = os.path.join(idx, "_compacted", "gen=0")
    spark.read.parquet(os.path.join(idx, "batch_id=bt1")) \
        .withColumn("batch_id", F.lit("bt1")) \
        .write.partitionBy("band").parquet(gen)
    assert read_live_index(spark, idx).count() == live_before
    # ... and a data dir without _SUCCESS is equally invisible
    os.remove(os.path.join(gen, "_SUCCESS"))
    os.makedirs(os.path.join(gen, "_folded"), exist_ok=True)
    with open(os.path.join(gen, "_folded", "_SUCCESS"), "w"):
        pass
    assert read_live_index(spark, idx).count() == live_before
    after = _pairs(dd.update_near_dup_index(spark, docs, idx,
                                            batch_id="t1"))
    assert after == before
    shutil.rmtree(os.path.join(idx, "_compacted"))
    # a fresh compaction over the same state still works
    assert dd.compact_near_dup_index(spark, idx) == 0


def test_second_generation_folds_new_batches(spark, tmp_path):
    """gen=1 folds the gen=0 baseline plus the batches landed since;
    older generations are GC'd; manifests accumulate."""
    idx = str(tmp_path / "gens")
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(1, "a a")], "doc_id long, text string"),
        idx, batch_id="g1").collect()
    assert dd.compact_exact_dedup_index(spark, idx) == 0
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(2, "b b")], "doc_id long, text string"),
        idx, batch_id="g2").collect()
    assert dd.compact_exact_dedup_index(spark, idx) == 1
    comp = os.path.join(idx, "_compacted")
    assert os.listdir(comp) == ["gen=1"]
    live = read_live_index(spark, idx)
    assert {r["batch_id"] for r in live.select("batch_id").collect()} == \
        {"bg1", "bg2"}
    # nothing left to fold → no new generation
    assert dd.compact_exact_dedup_index(spark, idx) is None
    # keep_last leaves the newest batches unfolded
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(3, "c c")], "doc_id long, text string"),
        idx, batch_id="g3").collect()
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(4, "d d")], "doc_id long, text string"),
        idx, batch_id="g4").collect()
    assert dd.compact_exact_dedup_index(spark, idx, keep_last=1) == 2
    assert assert_live_batch_count(spark, idx) == 1


def test_keep_last_exceeding_live_count_is_noop(spark, tmp_path):
    """Review catch: keep_last > live batch count must be a no-op, not
    a negative-slice wraparound that folds the OLDEST batch."""
    idx = str(tmp_path / "kl")
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        idx, batch_id="k1").collect()
    dd.update_exact_dedup_index(
        spark, spark.createDataFrame([(2, "y")], "doc_id long, text string"),
        idx, batch_id="k2").collect()
    assert dd.compact_exact_dedup_index(spark, idx, keep_last=3) is None
    assert assert_live_batch_count(spark, idx) == 2
    assert not os.path.isdir(os.path.join(idx, "_compacted"))


def test_exact_dedup_fully_duplicated_batch_lands_nothing(spark, tmp_path):
    """A batch whose every fingerprint already exists in history must
    not land a footer-less _SUCCESS-only directory (zero-row
    partitionBy writes have no parquet footers; as the only live dir
    they would break schema inference on the next read). Survivors are
    empty, no directory appears, and the index stays readable."""
    idx = str(tmp_path / "fp")
    b1 = _mkdocs(spark, 0, 6)
    s1 = dd.update_exact_dedup_index(spark, b1, idx, batch_id="x1",
                                     n_bands=8)
    # rows 1 and 5 share a text, so within-batch dedup keeps 5 of 6
    assert s1.count() == 5
    # same texts under new ids: every fingerprint is already known
    dup = _mkdocs(spark, 0, 6).withColumn(
        "doc_id", F.col("doc_id") + 100)
    s2 = dd.update_exact_dedup_index(spark, dup, idx, batch_id="x2",
                                     n_bands=8)
    assert s2.count() == 0
    assert not os.path.isdir(os.path.join(idx, "batch_id=bx2"))
    assert assert_live_batch_count(spark, idx) == 1
    # the index remains fully functional for a later novel batch
    b3 = _mkdocs(spark, 6, 9, mutate="novel")
    s3 = dd.update_exact_dedup_index(spark, b3, idx, batch_id="x3",
                                     n_bands=8)
    assert s3.count() == 3


def test_reader_skips_committed_but_empty_batch_dir(spark, tmp_path):
    """Legacy ledgers may contain _SUCCESS-only batch directories from
    the pre-guard writer — committed_batch_dirs must skip them so
    read_live_index never hands Spark a footer-less path."""
    idx = str(tmp_path / "fp2")
    s1 = dd.update_exact_dedup_index(spark, _mkdocs(spark, 0, 4), idx,
                                     batch_id="y1", n_bands=8)
    assert s1.count() == 4
    ghost = os.path.join(idx, "batch_id=bghost")
    os.makedirs(ghost)
    open(os.path.join(ghost, "_SUCCESS"), "w").close()
    assert assert_live_batch_count(spark, idx) == 1
    live = read_live_index(spark, idx)
    assert live.count() == 4
    # and as the ONLY live dir (everything else folded) it is ignored
    # rather than read
    assert dd.compact_exact_dedup_index(spark, idx) == 0
    assert assert_live_batch_count(spark, idx) == 0
    assert read_live_index(spark, idx).count() == 4


def test_ann_all_null_first_batch_does_not_freeze_empty_quantizer(
        spark, tmp_path):
    """An all-NULL first batch must not train and persist a 0-centroid
    quantizer (which would brick the index: every later batch assigns
    against zero cells and the ingest reports success forever)."""
    idx = str(tmp_path / "annq")
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<float>")
    out = sim.update_ann_index(spark, nulls, idx, n_cells=2, k=2,
                               batch_id="z0")
    assert out.count() == 0
    assert not os.path.exists(os.path.join(idx, "centroids"))
    # a later real batch trains the quantizer and indexes normally
    real = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    sim.update_ann_index(spark, real, idx, n_cells=2, k=2, batch_id="z1")
    assert os.path.exists(os.path.join(idx, "centroids"))
    probe = sim.update_ann_index(
        spark,
        spark.createDataFrame([(20, [1.0, 0.05])],
                              "vec_id long, embedding array<float>"),
        idx, n_cells=2, k=2, batch_id="z2")
    assert probe.count() > 0


# ---------------------------------------------------------------------------
# Round 6: lifecycle fast-forward (plans/ledger_q._built_through) —
# a second in-process invocation of the q121/q122/q125 registry fns
# must return identical rows WITHOUT replaying increments 1-2 or
# creating a new generation (the replay-idempotency contract turned
# into a wall-clock win), and the dead-root sweep's PID-reuse TTL.
# ---------------------------------------------------------------------------


def test_lifecycle_fast_forward_parity(spark):
    """Each lifecycle query run twice in-process: identical rows, and
    the ledger still holds generation 0 with exactly the first two
    increments folded — a rebuild would have compacted again (gen=1,
    with the third increment's leftover dir folded in)."""
    from etl_evm_chain_spark.operators.index_ledger import _newest_gen
    from etl_evm_chain_spark.plans import ledger_q as lq

    cases = [
        (lq.q_compacted_lsh_pairs,
         lq._index_root(
             SF_SMALL,
             f"ndidx{dd.MINHASH_FAMILY}{dd.MINHASH_K}x{dd.LSH_BANDS}"),
         "", {"binc1", "binc2"}),
        (lq.q_compacted_exact_survivors,
         lq._index_root(SF_SMALL, f"fpidx{lq.N_FP_BANDS}"),
         "", {"be1", "be2"}),
        (lq.q_compacted_ann_topk,
         lq._index_root(
             SF_SMALL,
             f"annidx{lq.ANN_CELLS}a{sim.IVF_ASSIGN}"
             f"p{lq.ANN_PROBE}q{lq.ANN_Q_MOD}",
             table="embeddings"),
         "cells", {"ba1", "ba2"}),
        (lq.q_compacted_pq_topk,
         lq._index_root(
             SF_SMALL,
             f"pqidx{sim.PQ_SUB}x{sim.PQ_CENTS}t{sim.PQ_TRAIN_ITER}"
             f"q{lq.PQ_IDX_Q_MOD}",
             table="embeddings"),
         "codes", {"bp1", "bp2"}),
    ]
    for qfn, root, sub, expected in cases:
        shutil.rmtree(root, ignore_errors=True)
        ledger = os.path.join(root, sub) if sub else root
        r1 = qfn(spark, SF_SMALL).collect()
        g1 = _newest_gen(spark, ledger)
        assert g1 is not None and g1[0] == 0 and g1[2] == expected, qfn
        assert lq._built_through(spark, ledger, expected)
        r2 = qfn(spark, SF_SMALL).collect()
        g2 = _newest_gen(spark, ledger)
        assert g2 is not None and g2[0] == 0, \
            f"{qfn}: second run compacted again — fast-forward missed"
        assert r1 == r2, qfn
        shutil.rmtree(root, ignore_errors=True)


def test_sweep_dead_roots_pid_reuse_ttl(tmp_path):
    """A sibling root whose pid probes alive (recycled pid / EPERM)
    is still swept once its newest write is older than the TTL; a
    fresh root of a live pid survives; a dead pid's root is swept
    regardless of age."""
    import time

    from etl_evm_chain_spark.plans import ledger_q as lq

    base = str(tmp_path)
    live_fresh = os.path.join(base, "s_pid1")       # pid 1 is always alive
    dead_fresh = os.path.join(base, "s_pid999999")  # never a live pid
    other_stem = os.path.join(base, "t_pid999999")  # dead, but foreign stem
    for d in (live_fresh, dead_fresh, other_stem):
        os.makedirs(d)
    lq._sweep_dead_roots(base, "s")
    assert os.path.isdir(live_fresh)        # alive + fresh -> kept
    assert not os.path.isdir(dead_fresh)    # dead -> swept
    assert os.path.isdir(other_stem)        # different stem -> untouched

    # age the live-pid root past the TTL: recycled-pid disambiguation
    old = time.time() - lq._STALE_ROOT_TTL_S - 60
    os.utime(live_fresh, (old, old))
    lq._sweep_dead_roots(base, "s")
    assert not os.path.isdir(live_fresh)


@pytest.mark.slow
def test_two_process_concurrency_soak_on_shared_lake_base():
    """Round-5 verdict ask #3: two concurrent processes drive the
    full q121/q122/q125 lifecycle (each against its own pid-scoped
    root under the SHARED /tmp/spark_graft_lake base, each sweeping
    siblings on entry) — both must finish with 0 oracle failures, and
    neither may sweep the other's live root mid-run (their roots must
    both still exist afterwards; a swept root would also have failed
    the victim's reads)."""
    import glob
    import subprocess
    import sys

    cmd = [sys.executable, "tools/check_oracle.py", SF_SMALL,
           "q121_compacted_lsh_pairs", "q122_compacted_exact_survivors",
           "q125_compacted_ann_topk"]
    procs = [subprocess.Popen(cmd, cwd=os.path.dirname(
                                  os.path.dirname(os.path.abspath(__file__))),
                              stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=900)[0] for p in procs]
    # the property under test: a mid-run sweep of a LIVE sibling's
    # root would have broken that sibling's ledger reads — so both
    # finishing with 0 failures IS the assertion. (A post-mortem
    # root-existence check would race legitimately-correct behavior:
    # whichever process finishes FIRST becomes a dead pid the
    # survivor may rightfully sweep.)
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]
        assert "0 failures" in out, out[-2000:]
    # both dead now: clean up whatever the next in-process sweep would
    for p in procs:
        for r in glob.glob(f"/tmp/spark_graft_lake/*_pid{p.pid}"):
            shutil.rmtree(r, ignore_errors=True)


def test_stream_kmeans_lifecycle_fast_forward_parity(spark):
    """q130 run twice in-process: identical rows, and the second run
    must fast-forward — generation 0's epochs were folded and GC'd by
    its compaction, so a missed fast-forward would re-land them as
    ghost batch_id dirs; generation 1's committed epochs must be
    skipped, not overwritten (mtimes unchanged)."""
    from etl_evm_chain_spark.plans import ledger_q as lq
    from etl_evm_chain_spark.plans.llmdata import LLOYD_ITER, LLOYD_K

    root = lq._index_root(SF_SMALL, f"kmeans{LLOYD_K}i{LLOYD_ITER}m3",
                          table="embeddings")
    shutil.rmtree(root, ignore_errors=True)
    r1 = lq.q_stream_kmeans(spark, SF_SMALL).collect()
    g0 = os.path.join(root, "gen=0")
    g1 = os.path.join(root, "gen=1")
    assert os.path.isdir(os.path.join(g0, "_compacted"))
    assert not [d for d in os.listdir(g0) if d.startswith("batch_id=")]
    mt1 = {d: os.path.getmtime(os.path.join(g1, d))
           for d in os.listdir(g1) if d.startswith("batch_id=")}
    assert len(mt1) == 3
    r2 = lq.q_stream_kmeans(spark, SF_SMALL).collect()
    assert r1 == r2
    assert not [d for d in os.listdir(g0) if d.startswith("batch_id=")], \
        "fast-forward missed: gen-0 epochs were re-landed as ghosts"
    mt2 = {d: os.path.getmtime(os.path.join(g1, d))
           for d in os.listdir(g1) if d.startswith("batch_id=")}
    assert mt1 == mt2, "committed gen-1 epochs were rewritten"
    shutil.rmtree(root, ignore_errors=True)


def test_epoch_ledger_lifecycles_resume_identically(spark):
    """The five continuation lifecycle queries (q136-q140) run twice
    in-process: the second invocation must fast-forward over the
    committed (and, where applicable, compacted) ledger and return
    identical rows — the resume contract bench measures as the
    steady-state path."""
    from etl_evm_chain_spark.operators.sketches import (CM_DEPTH,
                                                        CM_WIDTH, KMV_K)
    from etl_evm_chain_spark.plans import ledger_q as lq
    from etl_evm_chain_spark.plans.curation_q import N_SHARDS

    cases = [
        (lq.q_stream_kmv,
         lq._index_root(SF_SMALL, f"kmvled{KMV_K}m{lq._KMV_EPOCHS}",
                        table="events")),
        (lq.q_stream_cm,
         lq._index_root(SF_SMALL,
                        f"cmled{CM_DEPTH}x{CM_WIDTH}m{lq._CM_EPOCHS}")),
        (lq.q_stream_matview,
         lq._index_root(SF_SMALL, "mvled3", table="orders")),
        (lq.q_stream_expectations,
         lq._index_root(SF_SMALL, f"expled{lq._EXP_EPOCHS}",
                        table="orders")),
        (lq.q_stream_shards,
         lq._index_root(SF_SMALL, f"shled{N_SHARDS}m{lq._SH_EPOCHS}")),
    ]
    for qfn, root in cases:
        shutil.rmtree(root, ignore_errors=True)
        r1 = sorted(tuple(r) for r in qfn(spark, SF_SMALL).collect())
        r2 = sorted(tuple(r) for r in qfn(spark, SF_SMALL).collect())
        assert r1 == r2 and r1, qfn
        shutil.rmtree(root, ignore_errors=True)


def test_pq_index_incremental_equals_one_shot(spark, tmp_path):
    """The landed-PQ thesis: three increments against frozen
    first-batch-trained codebooks, with a compaction between, score
    the third increment IDENTICALLY to a one-shot ADC over the full
    ingested corpus with the same books — and the compacted index
    answers exactly like the uncompacted one."""
    idx_plain = str(tmp_path / "pq_plain")
    idx_comp = str(tmp_path / "pq_comp")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    b2 = emb.filter(F.col("vec_id") % 3 == 1)
    b3 = emb.filter((F.col("vec_id") % 3 == 2)
                    & (F.col("vec_id") < 60))
    for idx in (idx_plain, idx_comp):
        sim.update_pq_index(spark, b1, idx, k=3, batch_id="p1").collect()
        sim.update_pq_index(spark, b2, idx, k=3, batch_id="p2").collect()
    assert sim.compact_pq_index(spark, idx_comp) == 0
    codes = os.path.join(idx_comp, "codes")
    assert not any(d.startswith("batch_id=") for d in os.listdir(codes))
    # frozen codebooks untouched
    assert os.path.isdir(os.path.join(idx_comp, "books"))

    def topk(df):
        return sorted(tuple(r) for r in df.collect())

    t_plain = topk(sim.update_pq_index(spark, b3, idx_plain, k=3,
                                       batch_id="p3"))
    t_comp = topk(sim.update_pq_index(spark, b3, idx_comp, k=3,
                                      batch_id="p3"))
    assert t_plain == t_comp and t_comp

    # one-shot twin: books trained on batch 1 ONLY, codes over the
    # full ingested corpus, the same chunked ADC engine
    books = sim.pq_train_books(b1, n_iter=sim.PQ_TRAIN_ITER)
    full = b1.unionByName(b2).unionByName(b3)
    codes_df = sim.pq_encode(full, books).localCheckpoint()
    want = topk(sim._adc_topk(
        codes_df, b3, books, id_col="vec_id", vec_col="embedding",
        k=3, query_chunk=sim.PQ_QUERY_CHUNK))
    assert t_comp == want

    # replay a FOLDED batch: served from the baseline, no duplicates
    t_replay = sim.update_pq_index(spark, b2, idx_comp, k=3,
                                   batch_id="p2").collect()
    per_q = {}
    for r in t_replay:
        per_q.setdefault(r["qid"], []).append(r["cid"])
    assert t_replay and all(len(v) == len(set(v))
                            for v in per_q.values())


def test_pq_index_rejects_changed_geometry(spark, tmp_path):
    """(n_sub, n_cents, train_iter) are frozen with the codebooks:
    extending under ANY different value must refuse loudly (mixed
    code widths crash; a different codebook silently mis-scores)."""
    import pytest

    idx = str(tmp_path / "pq_geom")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    sim.update_pq_index(spark, b1, idx, k=3, batch_id="g1").collect()
    for kw in ({"n_sub": 16}, {"n_cents": 64}, {"train_iter": 0}):
        with pytest.raises(ValueError, match="geometr"):
            sim.update_pq_index(spark, b2, idx, k=3, **kw)
    # matching geometry still extends
    assert sim.update_pq_index(spark, b2, idx, k=3,
                               batch_id="g2").count() > 0


def test_pq_index_empty_batch_is_noop(spark, tmp_path):
    """An all-NULL first batch must not train codebooks on nothing
    (the ANN empty-first-batch rule): typed empty result, nothing
    persisted, and a later real batch builds normally."""
    idx = str(tmp_path / "pq_empty")
    emb = load_table(spark, SF_SMALL, "embeddings")
    nulls = spark.createDataFrame([(900001, None, 0), (900002, None, 0)],
                                  emb.schema)
    out = sim.update_pq_index(spark, nulls, idx, k=3, batch_id="e0")
    assert out.count() == 0
    assert not os.path.isdir(os.path.join(idx, "books"))
    real = sim.update_pq_index(
        spark, emb.filter(F.col("vec_id") < 100), idx, k=3,
        batch_id="e1")
    assert real.count() > 0


def test_pq_index_reingested_id_not_duplicated(spark, tmp_path):
    """A vec_id landed in TWO batch directories (re-ingest under a
    new batch_id, same embedding — the ANN twin's contract) must
    appear at most once per query's neighbor list and must not
    displace a real candidate from the k slots."""
    idx = str(tmp_path / "pq_reingest")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") < 200)
    dup = emb.filter(F.col("vec_id") < 50)        # re-ingest subset
    sim.update_pq_index(spark, b1, idx, k=3, batch_id="r1").collect()
    out = sim.update_pq_index(spark, dup, idx, k=3,
                              batch_id="r2").collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["qid"], []).append(r["cid"])
    assert out and all(len(v) == len(set(v)) for v in per_q.values())
    # and every query still fills all k slots — the duplicate row
    # must not have displaced a real candidate
    assert all(len(v) == 3 for v in per_q.values())


def test_pq_index_torn_first_build_rejected(spark, tmp_path):
    """Books committed but the pq_geom stamp missing (crash between
    the two writes) must fail with the loud rebuild message, not an
    opaque parquet PATH_NOT_FOUND."""
    import pytest

    idx = str(tmp_path / "pq_torn")
    emb = load_table(spark, SF_SMALL, "embeddings")
    sim.update_pq_index(spark, emb.filter(F.col("vec_id") < 100),
                        idx, k=3, batch_id="t1").collect()
    shutil.rmtree(os.path.join(idx, "pq_geom"))
    with pytest.raises(ValueError, match="torn first build"):
        sim.update_pq_index(spark, emb.filter(F.col("vec_id") >= 100),
                            idx, k=3, batch_id="t2")


# ---------------------------------------------------------------------------
# Landed IVF-PQ index (update_ivfpq_index, round 9) — the composed
# layout's own battery: incremental == one-shot under BOTH frozen
# quantizers, cell-partitioned physical layout, geometry/torn-build
# refusals, empty-batch no-op.
# ---------------------------------------------------------------------------


def test_ivfpq_index_incremental_equals_one_shot(spark, tmp_path):
    """The landed IVF-PQ thesis: three increments against a frozen
    first-batch coarse quantizer AND frozen first-batch-trained
    codebooks, with a compaction between, score the third increment
    IDENTICALLY to a one-shot probe-pruned ADC over the full ingested
    corpus with the same quantizers — and the compacted index answers
    exactly like the uncompacted one."""
    idx_plain = str(tmp_path / "ipq_plain")
    idx_comp = str(tmp_path / "ipq_comp")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    b2 = emb.filter(F.col("vec_id") % 3 == 1)
    b3 = emb.filter((F.col("vec_id") % 3 == 2)
                    & (F.col("vec_id") < 60))
    for idx in (idx_plain, idx_comp):
        sim.update_ivfpq_index(spark, b1, idx, k=3,
                               batch_id="i1").collect()
        sim.update_ivfpq_index(spark, b2, idx, k=3,
                               batch_id="i2").collect()
    assert sim.compact_ivfpq_index(spark, idx_comp) == 0
    codes = os.path.join(idx_comp, "codes")
    assert not any(d.startswith("batch_id=") for d in os.listdir(codes))
    # frozen quantizers untouched by compaction
    assert os.path.isdir(os.path.join(idx_comp, "books"))
    assert os.path.isdir(os.path.join(idx_comp, "centroids"))

    def topk(df):
        return sorted(tuple(r) for r in df.collect())

    t_plain = topk(sim.update_ivfpq_index(spark, b3, idx_plain, k=3,
                                          batch_id="i3"))
    t_comp = topk(sim.update_ivfpq_index(spark, b3, idx_comp, k=3,
                                         batch_id="i3"))
    assert t_plain == t_comp and t_comp

    # one-shot twin: BOTH quantizers frozen on batch 1 only, codes +
    # soft assignments over the full ingested corpus, the same
    # shared probe-pruned ADC engine
    cents = sim._ivf_centroids(b1, "vec_id", "embedding",
                               sim.IVF_CELLS, salt="ipqx:")
    books = sim.pq_train_books(b1, n_iter=sim.PQ_TRAIN_ITER)
    full = b1.unionByName(b2).unionByName(b3)
    codes_df = sim.pq_encode(full, books)
    acells = sim._nearest_cells(full, cents, "vec_id", "embedding",
                                sim.IVF_ASSIGN).select("vec_id", "cell")
    indexed = codes_df.join(acells, "vec_id").localCheckpoint()
    want = topk(sim._adc_topk(
        indexed, b3, books, cents=cents, id_col="vec_id",
        vec_col="embedding", k=3, n_probe=sim.IVF_PROBE,
        query_chunk=sim.PQ_QUERY_CHUNK))
    assert t_comp == want

    # replay a FOLDED batch: served from the baseline, no duplicates
    t_replay = sim.update_ivfpq_index(spark, b2, idx_comp, k=3,
                                      batch_id="i2").collect()
    per_q = {}
    for r in t_replay:
        per_q.setdefault(r["qid"], []).append(r["cid"])
    assert t_replay and all(len(v) == len(set(v))
                            for v in per_q.values())


def test_ivfpq_index_lands_codes_partitioned_by_cell(spark, tmp_path):
    """Cell IS the physical partition key — the probe-side pruning
    contract: each batch directory fans out into cell=N/
    subdirectories (parquet directory pruning serves the probe
    filter), and every soft-assigned replica of a vector carries
    identical codes (plain-PQ composition)."""
    idx = str(tmp_path / "ipq_layout")
    emb = load_table(spark, SF_SMALL, "embeddings")
    sim.update_ivfpq_index(spark, emb.filter(F.col("vec_id") < 200),
                           idx, k=3, batch_id="l1").collect()
    bdir = os.path.join(idx, "codes", "batch_id=bl1")
    cells = [d for d in os.listdir(bdir) if d.startswith("cell=")]
    assert cells, "codes must land under cell= partition directories"
    rows = spark.read.parquet(bdir).collect()
    # soft assignment: IVF_ASSIGN replicas per vector, identical codes
    by_id = {}
    for r in rows:
        by_id.setdefault(r["vec_id"], []).append(
            (tuple(r["codes"]), r["norm"]))
    assert all(len(v) == sim.IVF_ASSIGN for v in by_id.values())
    assert all(len(set(v)) == 1 for v in by_id.values())


def test_ivfpq_index_rejects_changed_geometry(spark, tmp_path):
    """(n_cells, n_assign, n_sub, n_cents, train_iter, cent_src) are
    frozen with the quantizers: extending under ANY different value
    must refuse loudly (mixed multiplicities skew recall silently,
    mixed codebooks mis-score silently, a different centroid source
    re-shuffles every cell)."""
    import pytest

    idx = str(tmp_path / "ipq_geom")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    sim.update_ivfpq_index(spark, b1, idx, k=3, batch_id="g1").collect()
    for kw in ({"n_cells": 8}, {"n_assign": 1}, {"n_sub": 16},
               {"n_cents": 64}, {"train_iter": 0},
               {"centroids": "kmeans"}):
        with pytest.raises(ValueError, match="geometr"):
            sim.update_ivfpq_index(spark, b2, idx, k=3, **kw)
    # matching geometry still extends
    assert sim.update_ivfpq_index(spark, b2, idx, k=3,
                                  batch_id="g2").count() > 0


def test_ivfpq_index_torn_first_build_rejected(spark, tmp_path):
    """Quantizer artifacts committed but the ipq_geom stamp missing
    (crash between the writes — the stamp is written LAST as the
    build's commit marker) must fail with the loud rebuild message,
    not an opaque parquet PATH_NOT_FOUND and never a silent
    re-train."""
    import pytest

    idx = str(tmp_path / "ipq_torn")
    emb = load_table(spark, SF_SMALL, "embeddings")
    sim.update_ivfpq_index(spark, emb.filter(F.col("vec_id") < 100),
                           idx, k=3, batch_id="t1").collect()
    shutil.rmtree(os.path.join(idx, "ipq_geom"))
    with pytest.raises(ValueError, match="torn first build"):
        sim.update_ivfpq_index(spark, emb.filter(F.col("vec_id") >= 100),
                               idx, k=3, batch_id="t2")
    # books-only torn build (centroids write also crashed) refuses too
    shutil.rmtree(os.path.join(idx, "centroids"))
    with pytest.raises(ValueError, match="torn first build"):
        sim.update_ivfpq_index(spark, emb.filter(F.col("vec_id") >= 100),
                               idx, k=3, batch_id="t3")


def test_ivfpq_index_empty_batch_is_noop(spark, tmp_path):
    """An all-NULL first batch must not freeze quantizers trained on
    nothing (the ANN/PQ empty-first-batch rule): typed empty result,
    nothing persisted, and a later real batch builds normally."""
    idx = str(tmp_path / "ipq_empty")
    emb = load_table(spark, SF_SMALL, "embeddings")
    nulls = spark.createDataFrame([(900001, None, 0), (900002, None, 0)],
                                  emb.schema)
    out = sim.update_ivfpq_index(spark, nulls, idx, k=3, batch_id="e0")
    assert out.count() == 0
    assert not os.path.isdir(os.path.join(idx, "books"))
    assert not os.path.isdir(os.path.join(idx, "centroids"))
    real = sim.update_ivfpq_index(
        spark, emb.filter(F.col("vec_id") < 100), idx, k=3,
        batch_id="e1")
    assert real.count() > 0


def test_probe_indexes_are_read_only_and_match_one_shot(spark, tmp_path):
    """The serving path (probe_pq_index / probe_ivfpq_index): queries
    NOT in the index score against the landed history exactly as the
    one-shot frozen-quantizer engines would — and the probe leaves
    the ledger byte-untouched (no batch directory, no liveness
    refresh): the production read/write split."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 <= 1)
    queries = emb.filter((F.col("vec_id") % 3 == 2)
                         & (F.col("vec_id") < 60))

    def topk(df):
        return sorted(tuple(r) for r in df.collect())

    def tree(root):
        return sorted(
            os.path.join(dp, f)[len(root):]
            for dp, _, fs in os.walk(root) for f in fs)

    # ---- flat PQ index ----
    idx_pq = str(tmp_path / "srv_pq")
    sim.update_pq_index(spark, corpus, idx_pq, k=3,
                        batch_id="s1").collect()
    before = tree(idx_pq)
    got = topk(sim.probe_pq_index(spark, queries, idx_pq, k=3))
    assert tree(idx_pq) == before          # read-only
    books = sim.pq_train_books(corpus, n_iter=sim.PQ_TRAIN_ITER)
    codes_df = sim.pq_encode(corpus, books).localCheckpoint()
    want = topk(sim._adc_topk(
        codes_df, queries, books, id_col="vec_id",
        vec_col="embedding", k=3, query_chunk=sim.PQ_QUERY_CHUNK))
    assert got == want and got

    # ---- IVF-PQ index ----
    idx_ipq = str(tmp_path / "srv_ipq")
    sim.update_ivfpq_index(spark, corpus, idx_ipq, k=3,
                           batch_id="s1").collect()
    before = tree(idx_ipq)
    got = topk(sim.probe_ivfpq_index(spark, queries, idx_ipq, k=3))
    assert tree(idx_ipq) == before         # read-only
    cents = sim._ivf_centroids(corpus, "vec_id", "embedding",
                               sim.IVF_CELLS, salt="ipqx:")
    acells = sim._nearest_cells(corpus, cents, "vec_id", "embedding",
                                sim.IVF_ASSIGN).select("vec_id", "cell")
    indexed = codes_df.join(acells, "vec_id").localCheckpoint()
    want = topk(sim._adc_topk(
        indexed, queries, books, cents=cents, id_col="vec_id",
        vec_col="embedding", k=3, n_probe=sim.IVF_PROBE,
        query_chunk=sim.PQ_QUERY_CHUNK))
    assert got == want and got


def test_probe_of_missing_index_refuses_loudly(spark, tmp_path):
    """A probe can never train or create state: probing a path with
    no committed index must fail with the build-first message, not
    freeze quantizers on a query workload or return empty rows."""
    import pytest

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="no committed PQ index"):
        sim.probe_pq_index(spark, q, str(tmp_path / "nope_pq"))
    with pytest.raises(ValueError, match="no committed IVF-PQ index"):
        sim.probe_ivfpq_index(spark, q, str(tmp_path / "nope_ipq"))


def test_probe_ann_index_read_only_and_matches_one_shot(spark, tmp_path):
    """probe_ann_index, the raw-vector serving tier: un-ingested
    queries exact-cosine-score against the live cells exactly as the
    frozen-quantizer composition would, the ledger stays
    byte-untouched, and probing a path with no quantizer refuses
    loudly."""
    import pytest

    emb = load_table(spark, SF_SMALL, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 <= 1)
    queries = emb.filter((F.col("vec_id") % 3 == 2)
                         & (F.col("vec_id") < 60))
    idx = str(tmp_path / "srv_ann")
    sim.update_ann_index(spark, corpus, idx, k=3, batch_id="s1").collect()

    def tree(root):
        return sorted(
            os.path.join(dp, f)[len(root):]
            for dp, _, fs in os.walk(root) for f in fs)

    before = tree(idx)
    got = sorted(tuple(r) for r in
                 sim.probe_ann_index(spark, queries, idx, k=3,
                                     n_probe=4).collect())
    assert tree(idx) == before             # read-only
    # one-shot twin against the FROZEN landed quantizer
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assigned = sim._nearest_cells(corpus, cents, "vec_id", "embedding",
                                  sim.IVF_ASSIGN).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"), "cell")
    probed = sim._nearest_cells(queries, cents, "vec_id", "embedding",
                                4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"), "cell")
    want = sorted(tuple(r) for r in
                  sim._probe_score_topk(assigned, probed, 3).collect())
    assert got == want and got
    with pytest.raises(ValueError, match="no committed ANN index"):
        sim.probe_ann_index(spark, queries, str(tmp_path / "nope_ann"))


# ---------------------------------------------------------------------------
# Tombstone deletes (delete_from_ivfpq_index, round 9) — the
# right-to-be-forgotten battery: immediate logical deletion on both
# read paths, physical application + clearing at compaction,
# deterministic resurrection semantics, replay idempotency,
# keep_last safety.
# ---------------------------------------------------------------------------


def _ipq_del_fixture(spark, tmp_path, name):
    emb = load_table(spark, SF_SMALL, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 <= 1)
    queries = emb.filter((F.col("vec_id") % 3 == 2)
                         & (F.col("vec_id") < 30))
    idx = str(tmp_path / name)
    sim.update_ivfpq_index(spark, corpus, idx, k=5,
                           batch_id="t1").collect()
    return emb, corpus, queries, idx


def test_ivfpq_delete_is_immediate_on_both_read_paths(spark, tmp_path):
    """A tombstoned id stops surfacing as a neighbor IMMEDIATELY on
    BOTH read paths (probe and ingest-time scoring) — no compaction
    needed — while other results are unaffected."""
    emb, corpus, queries, idx = _ipq_del_fixture(spark, tmp_path, "d1")
    pre = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    victims = sorted({r["cid"] for r in pre if r["qid"] == 2})
    assert victims
    n = sim.delete_from_ivfpq_index(
        spark, spark.createDataFrame([(v,) for v in victims],
                                     "vec_id long"),
        idx, batch_id="del1")
    assert n == len(victims)
    post = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    assert all(r["cid"] not in victims for r in post)
    assert any(r["qid"] == 2 for r in post)    # replaced, not silenced
    # ingest path too: a fresh increment's neighbors exclude victims
    inc = emb.filter((F.col("vec_id") % 3 == 2)
                     & (F.col("vec_id") >= 30)
                     & (F.col("vec_id") < 60))
    out = sim.update_ivfpq_index(spark, inc, idx, k=5,
                                 batch_id="t2").collect()
    assert out and all(r["cid"] not in victims for r in out)


def test_ivfpq_delete_applied_and_cleared_at_compaction(spark, tmp_path):
    """Full compaction applies tombstones physically (the baseline
    excludes the rows), clears the tombstone directories, and the
    probe result is bit-identical before and after — then a
    re-ingest AFTER the clear resurrects the id (the documented
    resurrection boundary)."""
    emb, corpus, queries, idx = _ipq_del_fixture(spark, tmp_path, "d2")
    pre = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    victims = sorted({r["cid"] for r in pre if r["qid"] == 2})
    sim.delete_from_ivfpq_index(
        spark, spark.createDataFrame([(v,) for v in victims],
                                     "vec_id long"),
        idx, batch_id="del1")
    logical = sorted(tuple(r) for r in
                     sim.probe_ivfpq_index(spark, queries, idx,
                                           k=5).collect())
    assert sim.compact_ivfpq_index(spark, idx) == 0
    tombs = os.path.join(idx, "tombs")
    assert not any(d.startswith("batch_id=")
                   for d in os.listdir(tombs))
    physical = sorted(tuple(r) for r in
                      sim.probe_ivfpq_index(spark, queries, idx,
                                            k=5).collect())
    assert logical == physical
    base = spark.read.parquet(
        os.path.join(idx, "codes", "_compacted", "gen=0"))
    assert base.filter(F.col("vec_id").isin(victims)).count() == 0
    # resurrection: re-ingest after the clear
    sim.update_ivfpq_index(
        spark, emb.filter(F.col("vec_id").isin(victims)), idx, k=5,
        batch_id="t3").collect()
    back = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    assert any(r["cid"] in victims for r in back)


def test_ivfpq_delete_wins_over_live_reingest(spark, tmp_path):
    """The documented contract edge: re-ingesting a tombstoned id
    while the tombstone is still LIVE does not resurrect it — the
    delete wins until a full compaction clears the tombstone."""
    emb, corpus, queries, idx = _ipq_del_fixture(spark, tmp_path, "d3")
    pre = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    victims = sorted({r["cid"] for r in pre if r["qid"] == 2})
    sim.delete_from_ivfpq_index(
        spark, spark.createDataFrame([(v,) for v in victims],
                                     "vec_id long"),
        idx, batch_id="del1")
    sim.update_ivfpq_index(
        spark, emb.filter(F.col("vec_id").isin(victims)), idx, k=5,
        batch_id="t2").collect()
    post = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    assert all(r["cid"] not in victims for r in post)


def test_ivfpq_delete_replay_and_edge_cases(spark, tmp_path):
    """Replayed deletes overwrite their own tombstone directory
    (exactly-once); deleting a never-ingested id is a harmless
    no-op; deleting from a path with no committed index refuses
    loudly; keep_last>0 compaction does NOT clear tombstones (a
    kept-out batch may still hold tombstoned rows)."""
    import pytest

    emb, corpus, queries, idx = _ipq_del_fixture(spark, tmp_path, "d4")
    ghost = spark.createDataFrame([(999999,)], "vec_id long")
    for _ in range(2):   # replay: same batch id twice
        n = sim.delete_from_ivfpq_index(spark, ghost, idx,
                                        batch_id="delg")
        assert n == 1
    tombs = os.path.join(idx, "tombs")
    assert [d for d in os.listdir(tombs)
            if d.startswith("batch_id=")] == ["batch_id=bdelg"]
    # ghost tombstone changes nothing
    out = sim.probe_ivfpq_index(spark, queries, idx, k=5).collect()
    assert out
    with pytest.raises(ValueError, match="nothing to delete from"):
        sim.delete_from_ivfpq_index(spark, ghost,
                                    str(tmp_path / "nope"))
    # keep_last compaction: second batch lands, oldest folds, tombs
    # must SURVIVE (the kept-out batch could hold tombstoned rows)
    sim.update_ivfpq_index(
        spark, emb.filter((F.col("vec_id") % 3 == 2)
                          & (F.col("vec_id") < 30)),
        idx, k=5, batch_id="t2").collect()
    g = sim.compact_ivfpq_index(spark, idx, keep_last=1)
    assert g == 0
    assert [d for d in os.listdir(tombs)
            if d.startswith("batch_id=")] == ["batch_id=bdelg"]


def test_ann_and_pq_index_tombstone_deletes(spark, tmp_path):
    """The tombstone contract extended uniformly to the other two
    landed families (one shared helper set, so semantics cannot
    drift): immediate logical delete on the probe path, compaction
    applies physically and clears the tombstones, results identical
    before and after, refuse-on-missing-index."""
    import pytest

    emb = load_table(spark, SF_SMALL, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 <= 1)
    queries = emb.filter((F.col("vec_id") % 3 == 2)
                         & (F.col("vec_id") < 30))

    families = [
        ("ann", sim.update_ann_index, sim.probe_ann_index,
         sim.delete_from_ann_index, sim.compact_ann_index, "cells"),
        ("pq", sim.update_pq_index, sim.probe_pq_index,
         sim.delete_from_pq_index, sim.compact_pq_index, "codes"),
    ]
    for name, update, probe, delete, compact, sub in families:
        idx = str(tmp_path / f"tomb_{name}")
        update(spark, corpus, idx, k=5, batch_id="t1").collect()
        pre = probe(spark, queries, idx, k=5).collect()
        victims = sorted({r["cid"] for r in pre if r["qid"] == 2})
        assert victims, name
        n = delete(spark,
                   spark.createDataFrame([(v,) for v in victims],
                                         "vec_id long"),
                   idx, batch_id="del1")
        assert n == len(victims), name
        logical = probe(spark, queries, idx, k=5).collect()
        assert all(r["cid"] not in victims for r in logical), name
        assert any(r["qid"] == 2 for r in logical), name
        assert compact(spark, idx) == 0
        tombs = os.path.join(idx, "tombs")
        assert not any(d.startswith("batch_id=")
                       for d in os.listdir(tombs)), name
        physical = probe(spark, queries, idx, k=5).collect()
        assert sorted(map(tuple, logical)) \
            == sorted(map(tuple, physical)), name
        base = spark.read.parquet(
            os.path.join(idx, sub, "_compacted", "gen=0"))
        idc = "cid" if name == "ann" else "vec_id"
        assert base.filter(F.col(idc).isin(victims)).count() == 0, name
        with pytest.raises(ValueError, match="nothing to delete from"):
            delete(spark, queries, str(tmp_path / f"nope_{name}"))


def test_near_dup_index_tombstone_deletes(spark, tmp_path):
    """Forget-me on the document plane: a tombstoned doc emits no
    pairs from either side immediately (including via its own
    re-ingest — tombstone wins), the compaction purges its band rows
    physically and clears the tombstones, and a post-clear re-ingest
    resurrects pairing."""
    idx = str(tmp_path / "nd_tomb")
    d1 = _mkdocs(spark, 0, 30)
    dd.update_near_dup_index(spark, d1, idx, batch_id="t1").collect()
    # doc 100 near-dups doc 1's content
    twin = spark.createDataFrame(
        [(100, _doc_rows(1, 2)[0][1])], "doc_id long, text string")
    pre = dd.update_near_dup_index(spark, twin, idx,
                                   batch_id="t2").collect()
    assert any({r["id_a"], r["id_b"]} == {1, 100} for r in pre)
    # tombstone doc 1: its pairs vanish on the next increment
    n = dd.delete_from_near_dup_index(
        spark, spark.createDataFrame([(1,)], "doc_id long"), idx,
        batch_id="del1")
    assert n == 1
    twin2 = spark.createDataFrame(
        [(101, _doc_rows(1, 2)[0][1])], "doc_id long, text string")
    post = dd.update_near_dup_index(spark, twin2, idx,
                                    batch_id="t3").collect()
    assert all(1 not in (r["id_a"], r["id_b"]) for r in post)
    assert any({r["id_a"], r["id_b"]} == {100, 101} for r in post)
    # re-ingesting doc 1 while the tombstone lives emits nothing for it
    re1 = dd.update_near_dup_index(spark, d1.filter("doc_id = 1"), idx,
                                   batch_id="t4").collect()
    assert all(1 not in (r["id_a"], r["id_b"]) for r in re1)
    # compaction purges + clears; post-clear re-ingest resurrects
    assert dd.compact_near_dup_index(spark, idx) == 0
    assert not any(d.startswith("batch_id=")
                   for d in os.listdir(os.path.join(idx, "tombs")))
    live = read_live_index(spark, idx)
    assert live.filter(F.col("doc_id") == 1).count() == 0
    back = dd.update_near_dup_index(spark, d1.filter("doc_id = 1"),
                                    idx, batch_id="t5").collect()
    assert any(1 in (r["id_a"], r["id_b"]) for r in back)


def test_exact_dedup_index_content_unremember(spark, tmp_path):
    """The exact-dedup undo: deleting a document's CONTENT from the
    fingerprint history re-admits a later legitimate re-submission
    exactly once — applied immediately (forced fold), so there is no
    live-tombstone window in which every re-submission would be
    re-admitted."""
    idx = str(tmp_path / "xd_tomb")
    d1 = _mkdocs(spark, 0, 20)
    out1 = dd.update_exact_dedup_index(spark, d1, idx, batch_id="e1")
    assert out1.count() > 0
    # re-crawl of doc 3's content under a new id: suppressed
    recrawl = spark.createDataFrame(
        [(500, _doc_rows(3, 4)[0][1])], "doc_id long, text string")
    assert dd.update_exact_dedup_index(spark, recrawl, idx,
                                       batch_id="e2").count() == 0
    # un-remember the content; the next re-submission is admitted
    g = dd.delete_from_exact_dedup_index(spark, recrawl, idx)
    assert g is not None
    resub = spark.createDataFrame(
        [(501, _doc_rows(3, 4)[0][1])], "doc_id long, text string")
    assert dd.update_exact_dedup_index(spark, resub, idx,
                                       batch_id="e3").count() == 1
    # and having been re-admitted, it suppresses the NEXT copy again
    resub2 = spark.createDataFrame(
        [(502, _doc_rows(3, 4)[0][1])], "doc_id long, text string")
    assert dd.update_exact_dedup_index(spark, resub2, idx,
                                       batch_id="e4").count() == 0
    # deleting from a missing index refuses loudly
    import pytest
    with pytest.raises(ValueError, match="nothing to delete from"):
        dd.delete_from_exact_dedup_index(spark, recrawl,
                                         str(tmp_path / "nope_xd"))

"""Driver-checked incremental-index lifecycle queries (round 5).

The incremental landed indexes and their round-5 compaction
(operators/index_ledger) were pytest-proven but invisible to the
driver's correctness gate — these queries drive the FULL ledger
lifecycle (two increments → directory compaction → a third
increment) inside a registry query, and oracle-check the third
increment's output against one-shot DuckDB semantics over the whole
corpus. That is the incremental == one-shot union property, now
asserted THROUGH a compaction by an external engine.

Unlike every other registry fn these are NOT pure plan builders: the
lifecycle writes a scratch ledger under /tmp (see the purity note in
plans/__init__.py). Two consequences are handled explicitly:

- **Process-scoped roots.** The ledger is mutable and its compaction
  GC deletes directories; a root shared between concurrent processes
  (bench + oracle checker, the pairing catalog.landed_artifact
  supports for its IMMUTABLE artifacts) would let one process's GC
  delete paths the other is scanning. Each process gets its own root
  (pid in the key); roots of dead pids are swept opportunistically.
- **Eager results.** The returned DataFrame is localCheckpoint-pinned
  so it cannot lazily reference ledger directories that a LATER fn()
  invocation's compaction GC would delete.

Idempotency across invocations within a process holds by the ledger's
own exactly-once design — replayed batch ids overwrite or are
manifest-ignored, and each run's compaction folds whatever is live —
so the queries return identical rows on every invocation, which is
exactly what the driver's hash requires.

Reference parity: the reference has no incremental index (H1/H2 are
a block cursor + a progress file); these back the 100 TB
daily-increment shape SURVEY §7 P2 calls for.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, source_ident
from ..operators import dedup as dd
from ..operators.index_ledger import EpochLedger
from . import QuerySpec
from .llmdata import (_SQL_NORM, _SQL_SHINGLES, _SQL_TOKS, _sql_band_conds,
                      _sql_hash15, _sql_minhash_mins,
                      _sql_shingle_hash)

_PID_RE = re.compile(r"^(?P<stem>.+)_pid(?P<pid>\d+)$")


# a root whose pid LOOKS alive (recycled pid, or EPERM on another
# user's process) but whose newest top-level write is older than this
# is swept anyway — without the fallback, pid recycling makes a dead
# process's scratch root immortal and /tmp accumulation never stops.
# Generous vs any real query (the whole bench is minutes, not hours);
# an actively-used root refreshes its mtime on every batch_id=/
# _compacted/ land, so a genuinely live peer is never inside the TTL.
_STALE_ROOT_TTL_S = 24 * 3600


def _sweep_dead_roots(base: str, stem: str) -> None:
    """Best-effort GC of sibling ledger roots left by DEAD processes
    (a live pid's root is never touched — that is the concurrent
    process whose reads our GC must not race). Liveness = the pid
    responds to signal 0 AND the root was written within
    ``_STALE_ROOT_TTL_S`` — the mtime clause disambiguates recycled
    pids and EPERM probes of other users' processes."""
    import time

    try:
        names = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for n in names:
        m = _PID_RE.fullmatch(n)
        if not m or m.group("stem") != stem or \
                int(m.group("pid")) == os.getpid():
            continue
        path = os.path.join(base, n)
        try:
            os.kill(int(m.group("pid")), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
            continue
        except OSError:
            pass  # EPERM: someone's live pid, maybe not the writer
        try:
            stale = now - os.path.getmtime(path) > _STALE_ROOT_TTL_S
        except OSError:
            continue  # raced its own cleanup
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def _index_root(sf_dir: str, name: str, *,
                table: str = "documents") -> str:
    """Process-scoped mutable ledger root keyed by the source
    fixture's identity (catalog.source_ident — same keying as
    landed_artifact, but WITHOUT the one-shot publish protocol: a
    ledger is mutable by design and carries its own commit markers,
    _SUCCESS per batch/generation). ``name`` must embed every
    geometry constant the landed keys depend on, so a tuned constant
    can never silently reuse a ledger built under the old geometry."""
    ident = source_ident([os.path.join(sf_dir, f"{table}.parquet")])
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join(tempfile.gettempdir(), "spark_graft_lake")
    stem = f"{name}_{key}_{ident}"
    _sweep_dead_roots(base, stem)
    root = os.path.join(base, f"{stem}_pid{os.getpid()}")
    # Refresh OUR root's mtime on every lookup: nested ledger layouts
    # (the ANN index under root/cells/, the funnel's state/out/dispo
    # subtrees) write batch dirs one level down, so the ROOT's own
    # mtime would otherwise freeze at creation and a >TTL-lived
    # process could have its live index swept by a sibling's
    # staleness fallback. Every query invocation passes through here
    # before touching the ledger; the writers themselves call the
    # same helper on every land/compaction (ONE liveness rule — the
    # sweeper reads whatever touch_liveness refreshes).
    from ..operators.index_ledger import touch_liveness

    touch_liveness(root)
    return root


def _batch(docs: DataFrame, r: int) -> DataFrame:
    return docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == r)


def _built_through(spark: SparkSession, ledger_root: str,
                   expected_folded: set[str]) -> bool:
    """True when the ledger already holds a fully-committed generation
    whose folded set is EXACTLY the lifecycle's first two increments —
    the fast-forward gate. Replaying those increments plus the
    compaction would land byte-identical state (the ledger's
    replay-idempotency contract, proven by
    tests/test_index_compaction.py's replay suite and asserted again
    by the fast-forward parity test), so within a process the queries
    skip straight to the third increment: ~2/3 of the lifecycle wall
    is idempotent rebuild of already-committed directories. The gate
    is equality, not superset — any unexpected folded id means a
    foreign history and the query rebuilds from scratch (the root is
    pid-scoped and fixture/geometry-keyed, so that only happens after
    a crashed partial run)."""
    from ..operators.index_ledger import _newest_gen

    gen = _newest_gen(spark, ledger_root)
    return gen is not None and gen[2] == expected_folded


# ---------------------------------------------------------------------------
# Q121: LSH near-dup index lifecycle. The third increment's candidate
# pairs must equal the one-shot banded-LSH pairs of the full corpus
# restricted to pairs touching batch-3 docs — with batches 1 and 2
# served from a compacted baseline, not their original directories.
# ---------------------------------------------------------------------------

def q_compacted_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    root = _index_root(
        sf_dir, f"ndidx{dd.MINHASH_FAMILY}{dd.MINHASH_K}x{dd.LSH_BANDS}")
    # increments land eagerly inside update_near_dup_index (the write
    # is an action); the returned pair frames of the first two
    # increments are not needed here. On a fully-built process-scoped
    # root (gen committed, folded == {inc1, inc2}) skip straight to
    # the third increment — see _built_through
    if not _built_through(spark, root, {"binc1", "binc2"}):
        dd.update_near_dup_index(spark, _batch(docs, 0), root,
                                 batch_id="inc1")
        dd.update_near_dup_index(spark, _batch(docs, 1), root,
                                 batch_id="inc2")
        dd.compact_near_dup_index(spark, root)
    pairs = dd.update_near_dup_index(spark, _batch(docs, 2), root,
                                     batch_id="inc3")
    # pin: the pair plan lazily scans ledger directories that a later
    # invocation's compaction GC may delete — materialize now (the
    # pair set is batch-bounded, audit rdd_scan ALLOW-listed)
    return pairs.orderBy("id_a", "id_b").localCheckpoint()


def _oracle_compacted_lsh_pairs() -> str:
    mins = _sql_minhash_mins()
    band_conds = _sql_band_conds()
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(dd.MINHASH_K))
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
shx AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM toks),
sig AS MATERIALIZED (
  SELECT doc_id,
       {mins}
  FROM (SELECT doc_id, {_sql_shingle_hash()} FROM shx) GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ({matches})::DOUBLE / {dd.MINHASH_K} AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_conds})
WHERE a.doc_id % 3 = 2 OR b.doc_id % 3 = 2
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Q122: exact-dedup fingerprint index lifecycle. The third batch's
# survivors must equal first-batch-wins dedup semantics over the full
# history — history served from the compacted baseline, and the
# replay self-exclusion surviving the fold (batch_id is a data column
# in the baseline).
# ---------------------------------------------------------------------------

N_FP_BANDS = 16


def q_compacted_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_bands=16, not the 256 default: the fixture corpus is small, so
    # 256 physical band dirs × 3 batches is a tiny-file storm (64s at
    # sf0.1, 4× faster at 16) — the partition-pruning shape is
    # identical, just coarser. The band count is stamped on the index
    # (nb guard), and the root name carries it so a tuned value can
    # never collide with a ledger built under the old geometry.
    docs = load_table(spark, sf_dir, "documents")
    root = _index_root(sf_dir, f"fpidx{N_FP_BANDS}")
    if not _built_through(spark, root, {"be1", "be2"}):
        dd.update_exact_dedup_index(spark, _batch(docs, 0), root,
                                    batch_id="e1", n_bands=N_FP_BANDS)
        dd.update_exact_dedup_index(spark, _batch(docs, 1), root,
                                    batch_id="e2", n_bands=N_FP_BANDS)
        dd.compact_exact_dedup_index(spark, root)
    surv = dd.update_exact_dedup_index(spark, _batch(docs, 2), root,
                                       batch_id="e3", n_bands=N_FP_BANDS)
    # surv is already localCheckpoint-pinned inside the operator — no
    # ledger path survives in its plan
    return (surv.select("doc_id", "source", "n_chars")
            .orderBy("doc_id"))


_FP = f"coalesce({_sql_hash15(_SQL_NORM)}, -1)"

ORACLE_COMPACTED_EXACT_SURVIVORS = f"""
WITH fp AS (
  SELECT doc_id, source, n_chars, {_FP} AS fpv, doc_id % 3 AS b
  FROM documents
),
hist AS (SELECT DISTINCT fpv FROM fp WHERE b IN (0, 1)),
surv AS (
  SELECT f.doc_id, f.source, f.n_chars
  FROM fp f
  WHERE f.b = 2
    AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fpv = f.fpv)
    AND f.doc_id = (SELECT min(g.doc_id) FROM fp g
                    WHERE g.b = 2 AND g.fpv = f.fpv)
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM surv ORDER BY doc_id
"""



# ---------------------------------------------------------------------------
# Q125: IVF/ANN index lifecycle — the embedding member of the ledger
# trilogy (q121 LSH bands, q122 exact fingerprints). The coarse
# quantizer freezes on the FIRST increment (md5-pick over batch-1
# ids), batches 2-3 assign against it, the cell directories compact,
# and the third increment's top-k must equal one-shot frozen-quantizer
# IVF semantics over the whole corpus (batch-3 queries see every
# earlier vector by as-of-arrival).
# ---------------------------------------------------------------------------

ANN_CELLS = 8
ANN_PROBE = 3
ANN_K = 5
# the third increment is a THIN slice (1/48 of the corpus, within the
# %3=2 residue so it is disjoint from increments 1-2): the lifecycle
# property needs a representative increment, not a bulk one, and the
# per-query probe scoring goes through the interpreted HOF cosine
# (CodegenFallback) whose cost is queries x candidates — a full-third
# batch costs ~26 s at sf0.1 for zero extra proof
ANN_Q_MOD = 48


def q_compacted_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # the "a{IVF_ASSIGN}" tag is the assign-count twin of the minhash
    # family tag: an index landed under a different soft-assignment
    # count must never be silently extended (its cells ledger has a
    # different row multiplicity per vector)
    root = _index_root(
        sf_dir,
        f"annidx{ANN_CELLS}a{sim.IVF_ASSIGN}p{ANN_PROBE}q{ANN_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    # the ANN ledger lives under <root>/cells (the frozen quantizer
    # sits beside it in <root>/centroids, which exists iff increment 1
    # committed — implied by a folded ba1)
    if not _built_through(spark, os.path.join(root, "cells"),
                          {"ba1", "ba2"}):
        sim.update_ann_index(spark, b(0), root, n_cells=ANN_CELLS,
                             n_probe=ANN_PROBE, k=ANN_K, batch_id="a1")
        sim.update_ann_index(spark, b(1), root, n_cells=ANN_CELLS,
                             n_probe=ANN_PROBE, k=ANN_K, batch_id="a2")
        sim.compact_ann_index(spark, root)
    thin = vecs.filter(F.pmod(F.col("vec_id"), F.lit(ANN_Q_MOD)) == 2)
    out = sim.update_ann_index(spark, thin, root, n_cells=ANN_CELLS,
                               n_probe=ANN_PROBE, k=ANN_K, batch_id="a3")
    # pin: the top-k plan lazily scans ledger cell directories a later
    # invocation's compaction GC may delete (q121 discipline); k x
    # |batch| rows, audit rdd_scan ALLOW-listed
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_compacted_ann_topk() -> str:
    from ..operators.similarity import IVF_ASSIGN
    from .llmdata import _SQL_DOT

    cos = ("{d} / (sqrt({na}) * sqrt({nb}))").format(
        d=_SQL_DOT.format(a="{a}", b="{b}"),
        na=_SQL_DOT.format(a="{a}", b="{a}"),
        nb=_SQL_DOT.format(a="{b}", b="{b}"))
    h = _sql_hash15("'ivfx:' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH cent_rows AS (
  SELECT vec_id, embedding, {h} AS h
  FROM embeddings WHERE vec_id % 3 = 0
  ORDER BY h, vec_id LIMIT {ANN_CELLS}
),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cell,
         embedding AS cent
  FROM cent_rows
),
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {cos.format(a="e.embedding", b="c.cent")} AS csim
  FROM embeddings e CROSS JOIN cents c
),
ranked_cells AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, cell ASC) AS cr
  FROM scored_cells
),
assigned AS (
  SELECT vec_id AS cid, embedding AS cv, cell
  FROM ranked_cells
  WHERE cr <= {IVF_ASSIGN}
    AND (vec_id % 3 IN (0, 1) OR vec_id % {ANN_Q_MOD} = 2)
),
probed AS (
  SELECT vec_id AS qid, embedding AS qv, cell
  FROM ranked_cells
  WHERE cr <= {ANN_PROBE} AND vec_id % {ANN_Q_MOD} = 2
),
cand AS (
  SELECT DISTINCT qid, cid, {cos.format(a="qv", b="cv")} AS sim
  FROM assigned JOIN probed USING (cell)
  WHERE qid != cid
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY sim DESC, cid ASC) AS rank
  FROM cand
)
SELECT qid, cid, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {ANN_K}
ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# Q141: landed PQ index lifecycle — the codes+codebook twin of q125.
# Books are trained on increment 1 and frozen (the quantizer rule,
# PQ edition); increments 2 and the thin third increment encode
# against the SAME landed books; top-k of the third increment against
# the compacted history must equal the one-shot frozen-books ADC over
# the full ingested corpus (plans/groundtruth.pq_index_topk_truth).
# ---------------------------------------------------------------------------

PQ_IDX_K = 5
PQ_IDX_Q_MOD = 48   # thin third increment (the ANN_Q_MOD rationale:
# the incremental property needs a representative increment, and the
# query side pays chunked ADC tables per invocation)


def q_compacted_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # geometry tag: subquantizers x codebook size, train iterations,
    # query modulus — an index landed under ANY other codebook
    # geometry must never be silently extended (update_pq_index also
    # refuses via its pq_geom stamp; the root tag makes the refusal
    # unreachable in normal operation)
    root = _index_root(
        sf_dir,
        f"pqidx{sim.PQ_SUB}x{sim.PQ_CENTS}t{sim.PQ_TRAIN_ITER}"
        f"q{PQ_IDX_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    if not _built_through(spark, os.path.join(root, "codes"),
                          {"bp1", "bp2"}):
        sim.update_pq_index(spark, b(0), root, k=PQ_IDX_K,
                            batch_id="p1")
        sim.update_pq_index(spark, b(1), root, k=PQ_IDX_K,
                            batch_id="p2")
        sim.compact_pq_index(spark, root)
    thin = vecs.filter(
        F.pmod(F.col("vec_id"), F.lit(PQ_IDX_Q_MOD)) == 2)
    out = sim.update_pq_index(spark, thin, root, k=PQ_IDX_K,
                              batch_id="p3")
    # pin: the top-k plan lazily scans ledger code directories a
    # later invocation's compaction GC may delete (q121/q125
    # discipline); k x |thin batch| rows
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_compacted_pq_topk() -> str:
    from .groundtruth import oracle_pq_index_topk

    return oracle_pq_index_topk(PQ_IDX_K, PQ_IDX_Q_MOD)


# ---------------------------------------------------------------------------
# Q142: landed IVF-PQ index lifecycle — the composed rung above q141
# (flat landed codes) and q134 (cell-pruned but re-encoded per
# invocation): BOTH quantizers freeze on increment 1, codes land
# partitioned by CELL so the third increment's probes prune the
# parquet scan to the touched directories, and the top-k of the thin
# third increment against the compacted history must equal the
# one-shot frozen-quantizer IVF-ADC over the full ingested corpus
# (plans/groundtruth.ivfpq_index_topk_truth — the q134 margin-checked
# replay under the q141 freeze).
# ---------------------------------------------------------------------------

IPQ_IDX_K = 5
IPQ_IDX_Q_MOD = 48  # the PQ_IDX_Q_MOD rationale: thin representative
# third increment; the query side pays chunked ADC tables per
# invocation


def q_compacted_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # geometry tag: coarse cells × soft assignment × probes, PQ
    # subquantizers × codebook size, train iterations, query modulus —
    # an index landed under ANY other composed geometry must never be
    # silently extended (update_ivfpq_index also refuses via its
    # ipq_geom stamp; the root tag makes the refusal unreachable in
    # normal operation)
    root = _index_root(
        sf_dir,
        f"ipqidx{sim.IVF_CELLS}a{sim.IVF_ASSIGN}p{sim.IVF_PROBE}"
        f"s{sim.PQ_SUB}x{sim.PQ_CENTS}t{sim.PQ_TRAIN_ITER}"
        f"q{IPQ_IDX_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    if not _built_through(spark, os.path.join(root, "codes"),
                          {"bip1", "bip2"}):
        sim.update_ivfpq_index(spark, b(0), root, k=IPQ_IDX_K,
                               batch_id="ip1")
        sim.update_ivfpq_index(spark, b(1), root, k=IPQ_IDX_K,
                               batch_id="ip2")
        sim.compact_ivfpq_index(spark, root)
    thin = vecs.filter(
        F.pmod(F.col("vec_id"), F.lit(IPQ_IDX_Q_MOD)) == 2)
    out = sim.update_ivfpq_index(spark, thin, root, k=IPQ_IDX_K,
                                 batch_id="ip3")
    # pin: the top-k plan lazily scans ledger cell directories a
    # later invocation's compaction GC may delete (q121/q125/q141
    # discipline); k x |thin batch| rows
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_compacted_ivfpq_topk() -> str:
    from .groundtruth import oracle_ivfpq_index_topk

    return oracle_ivfpq_index_topk(IPQ_IDX_K, IPQ_IDX_Q_MOD)


# ---------------------------------------------------------------------------
# Q143: the SERVING path of the landed IVF-PQ index —
# probe_ivfpq_index is read-only (no batch directory, no liveness
# touch, no quantizer writes): the production lookup API a query
# fleet hammers while one ingest process owns the writes. The
# lifecycle builds increments 1-2 and compacts; the thin query set is
# then probed WITHOUT being ingested (q_mod is a multiple of 3, so
# the query ids are provably disjoint from the landed corpus), and
# the result must equal the frozen-quantizer IVF-ADC over batches
# 0-1 only (ivfpq_index_topk_truth with ingest_third=False). The
# read-only property itself is pytest-pinned (directory listing
# unchanged by a probe).
# ---------------------------------------------------------------------------


def _ivfpq_serving_built(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-needed the SHARED serving ledger (batches 0-1 +
    compaction, nothing else ever ingested) and return its root.
    q143 and q145 both read it — sharing is order-SAFE precisely
    because probes are read-only: whichever query runs first builds
    the identical deterministic state, and no probe ever mutates it
    (unlike q142's ingest lifecycle, which must keep its own root)."""
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    root = _index_root(
        sf_dir,
        f"ipqsrv{sim.IVF_CELLS}a{sim.IVF_ASSIGN}p{sim.IVF_PROBE}"
        f"s{sim.PQ_SUB}x{sim.PQ_CENTS}t{sim.PQ_TRAIN_ITER}"
        f"q{IPQ_IDX_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    if not _built_through(spark, os.path.join(root, "codes"),
                          {"bsv1", "bsv2"}):
        sim.update_ivfpq_index(spark, b(0), root, k=IPQ_IDX_K,
                               batch_id="sv1")
        sim.update_ivfpq_index(spark, b(1), root, k=IPQ_IDX_K,
                               batch_id="sv2")
        sim.compact_ivfpq_index(spark, root)
    return root


def q_ivfpq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    root = _ivfpq_serving_built(spark, sf_dir)
    thin = vecs.filter(
        F.pmod(F.col("vec_id"), F.lit(IPQ_IDX_Q_MOD)) == 2)
    out = sim.probe_ivfpq_index(spark, thin, root, k=IPQ_IDX_K)
    # pin: the probe plan lazily scans ledger cell directories a
    # later invocation's compaction GC may delete (q142 discipline)
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_ivfpq_serving() -> str:
    from .groundtruth import oracle_ivfpq_index_topk

    return oracle_ivfpq_index_topk(IPQ_IDX_K, IPQ_IDX_Q_MOD,
                                   ingest_third=False)


# ---------------------------------------------------------------------------
# Q145: TWO-STAGE serving — the production retrieval layout every
# FAISS deployment runs (coarse index + refine): q143's probe widened
# to a 5k ADC shortlist, then operators/similarity.rerank_exact
# recomputes the shortlist's cosines EXACTLY from the raw corpus
# vectors and emits the true top-k. The rerank cost is proportional
# to the SHORTLIST (|q|·k' rows joined against raw vectors), not the
# corpus — the quantization error the ~40 B/vector codes traded away
# is bought back for pennies. Oracle: the q143 replay's ADC shortlist
# reranked in numpy by the identical sequential cosine fold
# (margin-asserted at the final rank-k boundary).
# ---------------------------------------------------------------------------

RERANK_SHORTLIST = 25   # 5x the final k: the classic refine ratio


def q_ivfpq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    root = _ivfpq_serving_built(spark, sf_dir)
    thin = vecs.filter(
        F.pmod(F.col("vec_id"), F.lit(IPQ_IDX_Q_MOD)) == 2)
    shortlist = sim.probe_ivfpq_index(spark, thin, root,
                                      k=RERANK_SHORTLIST)
    corpus = vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) <= 1)
    out = sim.rerank_exact(thin, corpus, shortlist, k=IPQ_IDX_K)
    # pin: the shortlist plan lazily scans ledger cell directories a
    # later invocation's compaction GC may delete (q142 discipline)
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_ivfpq_reranked() -> str:
    from .groundtruth import oracle_ivfpq_rerank

    return oracle_ivfpq_rerank(IPQ_IDX_K, IPQ_IDX_Q_MOD,
                               RERANK_SHORTLIST)


# ---------------------------------------------------------------------------
# Q146: TOMBSTONE deletes through the landed IVF-PQ lifecycle — the
# right-to-be-forgotten contract, driver-hashed: build increments
# 1-2, tombstone every ingested id ≡0 mod IPQ_DEL_MOD
# (delete_from_ivfpq_index — both batches contribute victims), run
# the compaction that APPLIES the tombstones physically and clears
# them, then probe the thin query set read-only. The result must
# equal the frozen-quantizer IVF-ADC replay over (batches 0-1 minus
# the deleted set) — with the quantizers still frozen on the FULL
# batch 0, the production semantics of deleting from a
# frozen-geometry service. The delete/compaction edge cases
# (immediate logical delete, delete-wins-over-live-reingest,
# post-clear resurrection, keep_last safety, replay idempotency)
# are pytest-pinned in tests/test_index_compaction.py.
# ---------------------------------------------------------------------------

IPQ_DEL_MOD = 10   # not a multiple of 3: victims come from BOTH
# ingested batches; disjoint from the %48==2 query set by parity


def q_ivfpq_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # own root — the delete mutates state, so it can never share
    # q142/q143's ledgers (the ordering rule, destructive edition)
    root = _index_root(
        sf_dir,
        f"ipqdel{sim.IVF_CELLS}a{sim.IVF_ASSIGN}p{sim.IVF_PROBE}"
        f"s{sim.PQ_SUB}x{sim.PQ_CENTS}t{sim.PQ_TRAIN_ITER}"
        f"d{IPQ_DEL_MOD}q{IPQ_IDX_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    if not _built_through(spark, os.path.join(root, "codes"),
                          {"bdl1", "bdl2"}):
        sim.update_ivfpq_index(spark, b(0), root, k=IPQ_IDX_K,
                               batch_id="dl1")
        sim.update_ivfpq_index(spark, b(1), root, k=IPQ_IDX_K,
                               batch_id="dl2")
        victims = vecs.filter(
            (F.pmod(F.col("vec_id"), F.lit(3)) <= 1)
            & (F.pmod(F.col("vec_id"), F.lit(IPQ_DEL_MOD)) == 0))
        sim.delete_from_ivfpq_index(spark, victims, root,
                                    batch_id="del1")
        # the compaction APPLIES the tombstones (baseline excludes
        # the rows) and clears them — the folded set is exactly the
        # two ingest batches, so fast-forward state is deterministic
        sim.compact_ivfpq_index(spark, root)
    thin = vecs.filter(
        F.pmod(F.col("vec_id"), F.lit(IPQ_IDX_Q_MOD)) == 2)
    out = sim.probe_ivfpq_index(spark, thin, root, k=IPQ_IDX_K)
    # pin: the probe plan lazily scans ledger cell directories a
    # later invocation's compaction GC may delete (q142 discipline)
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_ivfpq_deleted() -> str:
    from .groundtruth import oracle_ivfpq_index_topk

    return oracle_ivfpq_index_topk(IPQ_IDX_K, IPQ_IDX_Q_MOD,
                                   ingest_third=False,
                                   delete_mod=IPQ_DEL_MOD)


# ---------------------------------------------------------------------------
# Q144: the SERVING path of the landed IVF (exact-scoring) index —
# probe_ann_index is q143's contract for the raw-vector tier: the
# lifecycle builds increments 1-2 of q125's index shape and compacts;
# the thin query set is then probed read-only (disjoint from the
# landed corpus — ANN_Q_MOD is a multiple of 3), and the result must
# equal the frozen-quantizer IVF top-k over batches 0-1 only. Unlike
# q143 this oracle is PURE SQL (exact cosine scoring — no codebooks),
# the q125 oracle with the ingest clause dropped.
# ---------------------------------------------------------------------------


def q_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # own root — never q125's (the q143 ordering-dependence rule)
    root = _index_root(
        sf_dir,
        f"annsrv{ANN_CELLS}a{sim.IVF_ASSIGN}p{ANN_PROBE}q{ANN_Q_MOD}",
        table="embeddings")

    def b(r: int) -> DataFrame:
        return vecs.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r)

    if not _built_through(spark, os.path.join(root, "cells"),
                          {"bas1", "bas2"}):
        sim.update_ann_index(spark, b(0), root, n_cells=ANN_CELLS,
                             n_probe=ANN_PROBE, k=ANN_K,
                             batch_id="as1")
        sim.update_ann_index(spark, b(1), root, n_cells=ANN_CELLS,
                             n_probe=ANN_PROBE, k=ANN_K,
                             batch_id="as2")
        sim.compact_ann_index(spark, root)
    thin = vecs.filter(F.pmod(F.col("vec_id"), F.lit(ANN_Q_MOD)) == 2)
    out = sim.probe_ann_index(spark, thin, root, k=ANN_K,
                              n_probe=ANN_PROBE)
    # pin: the probe plan lazily scans ledger cell directories a
    # later invocation's compaction GC may delete (q125 discipline)
    return out.orderBy("qid", "rank").localCheckpoint()


def _oracle_ann_serving() -> str:
    from ..operators.similarity import IVF_ASSIGN
    from .llmdata import _SQL_DOT

    cos = ("{d} / (sqrt({na}) * sqrt({nb}))").format(
        d=_SQL_DOT.format(a="{a}", b="{b}"),
        na=_SQL_DOT.format(a="{a}", b="{a}"),
        nb=_SQL_DOT.format(a="{b}", b="{b}"))
    h = _sql_hash15("'ivfx:' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH cent_rows AS (
  SELECT vec_id, embedding, {h} AS h
  FROM embeddings WHERE vec_id % 3 = 0
  ORDER BY h, vec_id LIMIT {ANN_CELLS}
),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cell,
         embedding AS cent
  FROM cent_rows
),
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell,
         {cos.format(a="e.embedding", b="c.cent")} AS csim
  FROM embeddings e CROSS JOIN cents c
),
ranked_cells AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, cell ASC) AS cr
  FROM scored_cells
),
assigned AS (
  SELECT vec_id AS cid, embedding AS cv, cell
  FROM ranked_cells
  WHERE cr <= {IVF_ASSIGN} AND vec_id % 3 IN (0, 1)
),
probed AS (
  SELECT vec_id AS qid, embedding AS qv, cell
  FROM ranked_cells
  WHERE cr <= {ANN_PROBE} AND vec_id % {ANN_Q_MOD} = 2
),
cand AS (
  SELECT DISTINCT qid, cid, {cos.format(a="qv", b="cv")} AS sim
  FROM assigned JOIN probed USING (cell)
  WHERE qid != cid
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY sim DESC, cid ASC) AS rank
  FROM cand
)
SELECT qid, cid, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {ANN_K}
ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# Streaming-ledger lifecycles (q130, q133, q136-q140). Each drives a
# streaming/pipeline epoch ledger (index_ledger.EpochLedger) through
# the stream's own foreachBatch epoch body: three epochs land, a
# compaction folds the first two mid-protocol (_land_epochs; q130
# compacts between its generations, q140 not at all), and the live
# fold is hashed against the one-shot oracle of its batch twin —
# incremental == one-shot, oracle-checked THROUGH a compaction by an
# external engine. Results are localCheckpoint-pinned: the fold
# lazily scans ledger directories a later invocation's compaction GC
# could delete (the q121 discipline).
# ---------------------------------------------------------------------------

def _land_epochs(spark: SparkSession, root: str, n: int, land,
                 compact) -> None:
    """``land(e)`` for every epoch in 0..n-1 the ledger at ``root``
    still lacks (committed and compacted epochs would replay
    byte-identically), then ``compact()`` right after epoch n-2, so
    the final fold reads a baseline plus the last epoch."""
    for e in EpochLedger(spark, root).pending(range(n)):
        land(e)
        if e == n - 2:
            compact()


# Q130: streaming mini-batch k-means, the full 2-generation protocol —
# seed pick, generation 0 streamed as 3 epochs of exact decimal
# sufficient statistics, COMPACTION, refine, generation 1 streamed as
# 3 epochs — must land the IDENTICAL final clustering as the one-shot
# batch Lloyd fit, so the oracle is q128's margin-asserted
# numpy/Decimal ground truth, unchanged.

def q_stream_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import literal_df
    from ..operators import similarity as sim
    from ..operators.index_ledger import _fs, _jp
    from ..streaming import pipeline as sp
    from .llmdata import LLOYD_ITER, LLOYD_K

    _EPOCHS = 3
    vecs = load_table(spark, sf_dir, "embeddings")
    root = _index_root(sf_dir, f"kmeans{LLOYD_K}i{LLOYD_ITER}m{_EPOCHS}",
                       table="embeddings")
    cents = sim.kmeans_seed_centroids(vecs, k=LLOYD_K, salt="lloyd")
    empty = literal_df(
        spark, [], "cell int, n_vecs bigint, sum_cos_u6 bigint")
    if not cents:
        # degenerate corpus (every embedding NULL/zero/non-finite):
        # mirror the oracle's explicit empty relation
        return empty
    fs, _ = _fs(spark, root)
    folded = None
    for gen in range(LLOYD_ITER):
        gdir = os.path.join(root, f"gen={gen}")
        # resume/fast-forward; an EMPTY slice lands nothing and
        # harmlessly re-runs
        for e in EpochLedger(spark, gdir).pending(range(_EPOCHS)):
            sp.kmeans_epoch(
                vecs.filter(F.pmod(F.col("vec_id"), F.lit(_EPOCHS)) == e),
                e, state_dir=gdir, centroids=cents)
        if not fs.exists(_jp(spark, gdir)):
            return empty  # every epoch slice was empty
        if gen == LLOYD_ITER - 1:
            # expect= pins the final fold to THIS run's refined
            # generation — a stale but internally-consistent ledger
            # (wrong-centroid resume) fails loudly
            folded = sp.read_kmeans_stats(spark, gdir, expect=cents)
            break
        # compaction sits INSIDE the checked lifecycle: the refine
        # below reads the folded baseline, not the raw epoch dirs
        sp.compact_kmeans(spark, gdir)
        cents = sp.read_kmeans_centroids(spark, gdir, cents)
    return (folded.filter(F.col("pos") == 0)
            .select("cell", F.col("n").alias("n_vecs"),
                    F.col("sum_qcos").cast("long").alias("sum_cos_u6"))
            .orderBy("cell").localCheckpoint())


def _oracle_stream_kmeans() -> str:
    from .groundtruth import oracle_lloyd_kmeans

    return oracle_lloyd_kmeans()


# Q133: the q132 drift monitor, rebuilt the way an ingest runs it —
# per-epoch quality histograms, and the live view's exact integer TV
# statistic hashed against q132's oracle.

def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score
    from ..streaming import pipeline as sp
    from .quality_q import DRIFT_BINS, DRIFT_EPOCHS

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("text").isNotNull())
    scored = docs.select(
        F.pmod(F.col("doc_id"), F.lit(DRIFT_EPOCHS)).cast("int")
        .alias("_e"),
        quality_score("text").alias("q"))
    root = _index_root(sf_dir, f"driftb{DRIFT_BINS}m{DRIFT_EPOCHS}")
    _land_epochs(
        spark, root, DRIFT_EPOCHS,
        lambda e: sp.drift_epoch(scored.filter(F.col("_e") == e), e,
                                 state_dir=root, value="q",
                                 n_bins=DRIFT_BINS),
        lambda: sp.compact_drift(spark, root))
    out = sp.read_drift(spark, root, baseline=0)
    # same output contract (and long-cast bound) as q132 — the oracle
    # is shared, see quality_q.q_quality_drift
    return (out.select(F.col("epoch"),
                       F.col("n_rows").cast("long").alias("n_docs"),
                       F.col("tv_num").cast("long").alias("tv_num_vs_e0"))
            .orderBy("epoch").localCheckpoint())


def _oracle_stream_drift() -> str:
    from .quality_q import _oracle_quality_drift

    return _oracle_quality_drift()


# Q136: KMV distinct counts — per-group sketches per epoch; the live
# fold's ESTIMATES hash against q115's one-shot oracle, to the bit,
# because the KMV merge is EXACT (the k smallest distinct hashes of a
# union are among the union of each slice's k smallest).

_KMV_EPOCHS = 3


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import KMV_K, kmv_estimate_expr
    from ..streaming import pipeline as sp

    ev = load_table(spark, sf_dir, "events")
    root = _index_root(sf_dir, f"kmvled{KMV_K}m{_KMV_EPOCHS}",
                       table="events")
    sliced = ev.withColumn(
        "_e", F.pmod(F.col("event_id"), F.lit(_KMV_EPOCHS)).cast("int"))
    _land_epochs(
        spark, root, _KMV_EPOCHS,
        lambda e: sp.kmv_epoch(
            sliced.filter(F.col("_e") == e), e, state_dir=root,
            keys={"users": "user_id", "events": "event_id"},
            group_cols=["event_type"],
            salts={"users": "kmvu", "events": "kmve"}),
        lambda: sp.compact_kmv_sketch(spark, root, ["event_type"]))
    sk = sp.read_kmv_sketch(spark, root, ["event_type"])
    wide = (sk.groupBy("event_type")
            .pivot("kind", ["users", "events"]).agg(F.first("sketch")))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"))
    # q115's exact output contract — same estimator over the STREAMED
    # ledger's fold
    return (exact.join(wide, "event_type")
            .select("event_type", "exact_users",
                    kmv_estimate_expr(F.col("users")).alias("est_users"),
                    "exact_events",
                    kmv_estimate_expr(F.col("events")).alias("est_events"))
            .orderBy("event_type").localCheckpoint())


def _oracle_stream_kmv() -> str:
    from .warehouse import _oracle_kmv_distinct

    return _oracle_kmv_distinct()


# Q137: count-min frequencies — per-epoch token sketches; the folded
# sketch's heavy-hitter estimates hash against q117's one-shot oracle
# (counters are plain sums: per-epoch occurrence sketches add up to
# exactly the one-shot weighted sketch).

_CM_EPOCHS = 3


def q_stream_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens
    from ..operators.sketches import CM_DEPTH, CM_WIDTH, cm_estimate
    from ..streaming import pipeline as sp
    from .llmdata import _CM_TOPK

    docs = load_table(spark, sf_dir, "documents")
    root = _index_root(sf_dir, f"cmled{CM_DEPTH}x{CM_WIDTH}m{_CM_EPOCHS}")
    sliced = docs.withColumn(
        "_e", F.pmod(F.col("doc_id"), F.lit(_CM_EPOCHS)).cast("int"))
    _land_epochs(
        spark, root, _CM_EPOCHS,
        lambda e: sp.cm_epoch(sliced.filter(F.col("_e") == e), e,
                              sketch_dir=root),
        lambda: sp.compact_token_sketch(spark, root))
    sk = sp.read_token_sketch(spark, root)
    # q117's exact output contract — the true top-k from the batch
    # table, estimated against the STREAMED ledger's folded counters
    tc = (docs.select(F.explode(tokens("text")).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt")))
    top = tc.orderBy(F.desc("true_cnt"), "tok").limit(_CM_TOPK)
    est = cm_estimate(sk, top, "tok")
    return (top.join(est, "tok")
            .select("tok", "true_cnt", "est_cnt")
            .orderBy(F.desc("true_cnt"), "tok").localCheckpoint())


def _oracle_stream_cm() -> str:
    from .llmdata import _oracle_cm_heavy_hitters

    return _oracle_cm_heavy_hitters()


# Q138: maintained aggregate — the q119 date-cut epochs land their
# algebraic states, and the folded state finalizes into q119's EXACT
# output contract, hashed against q119's one-shot oracle (legal by
# the decimal monoid: fold order cannot drift the sums).

def q_stream_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.matview import finalize_state
    from ..streaming import pipeline as sp
    from .quality_q import _EPOCH_CUTS, _prepared_orders

    base = _prepared_orders(spark, sf_dir)
    c1 = F.lit(_EPOCH_CUTS[0]).cast("timestamp")
    c2 = F.lit(_EPOCH_CUTS[1]).cast("timestamp")
    slices = [
        base.filter(F.col("o_orderdate") < c1),
        base.filter((F.col("o_orderdate") >= c1)
                    & (F.col("o_orderdate") < c2)),
        base.filter(F.col("o_orderdate") >= c2),
    ]
    keys = ["status", "yr"]
    root = _index_root(sf_dir, f"mvled{len(slices)}", table="orders")
    _land_epochs(
        spark, root, len(slices),
        lambda e: sp.matview_epoch(slices[e].drop("o_orderdate"), e,
                                   state_dir=root, keys=keys,
                                   value="price"),
        lambda: sp.compact_matview(spark, root, keys))
    state = sp.read_matview(spark, root, keys)
    # q119's exact output contract (and std_cents floor convention)
    return (finalize_state(state)
            .select("status", "yr",
                    F.col("n").alias("n_orders"),
                    F.col("sum").cast("double").alias("sum_price"),
                    F.col("min").alias("min_price"),
                    F.col("max").alias("max_price"),
                    F.col("avg").alias("avg_price"),
                    F.floor(F.col("std") * 100).cast("double")
                     .alias("std_cents"))
            .orderBy("status", "yr").localCheckpoint())


def _oracle_stream_matview() -> str:
    from .quality_q import ORACLE_INCREMENTAL_MV

    return ORACLE_INCREMENTAL_MV


# Q139: expectations — per-epoch violation reports (epochs stay apart
# through compaction, the audit-trail contract), and the folded
# corpus-lifetime totals hash against the one-shot suite over the
# whole table. Per-epoch counts sum to the one-shot suite ONLY for
# epoch-distributive rules (row predicates, domain/range, FK against a
# static dim); tuple uniqueness, whose cross-epoch duplicates are
# invisible to every single epoch, is deliberately excluded
# (cross-history uniqueness is the exact-dedup ledger's job, q122).

_EXP_EPOCHS = 3


def q_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import (expect, expect_foreign_key,
                                          expect_in_set, expect_not_null)
    from ..streaming import pipeline as sp

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = [
        expect_not_null("orderdate_not_null", "o_orderdate"),
        expect("totalprice_positive", F.col("o_totalprice") > 0),
        expect("totalprice_under_100k", F.col("o_totalprice") < 100_000),
        expect_in_set("status_domain", "o_orderstatus", ["O", "F", "P"]),
        expect_foreign_key("custkey_fk_customer", "o_custkey",
                           customer, "c_custkey"),
    ]
    root = _index_root(sf_dir, f"expled{_EXP_EPOCHS}", table="orders")
    sliced = orders.withColumn(
        "_e", F.pmod(F.col("o_orderkey"), F.lit(_EXP_EPOCHS)).cast("int"))
    _land_epochs(
        spark, root, _EXP_EPOCHS,
        lambda e: sp.expectations_epoch(
            sliced.filter(F.col("_e") == e).drop("_e"), e,
            report_dir=root, checks=checks),
        lambda: sp.compact_expectations(spark, root))
    # the reader pins the ledger's checks-list fingerprint to the
    # very suite it is asking about
    out = sp.read_expectations(spark, root, folded=True, checks=checks)
    # q118's output contract (minus the non-distributive uniqueness
    # rule)
    return (out.withColumnRenamed("check", "check_name")
            .orderBy("check_name").localCheckpoint())


ORACLE_STREAM_EXPECTATIONS = """
WITH scan AS (
  SELECT
    count(*) AS total,
    count(*) FILTER (WHERE NOT coalesce(o_orderdate IS NOT NULL, FALSE))
        AS v_orderdate_not_null,
    count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, FALSE))
        AS v_totalprice_positive,
    count(*) FILTER (WHERE NOT coalesce(o_totalprice < 100000, FALSE))
        AS v_totalprice_under_100k,
    count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O','F','P'),
                                        FALSE)) AS v_status_domain
  FROM orders
), fk AS (
  SELECT count(*) AS total,
         count(*) FILTER (WHERE c.c_custkey IS NULL) AS violations
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
), long AS (
  SELECT 'orderdate_not_null' AS check_name,
         CAST(v_orderdate_not_null AS BIGINT) AS violations,
         CAST(total AS BIGINT) AS total FROM scan
  UNION ALL
  SELECT 'totalprice_positive', CAST(v_totalprice_positive AS BIGINT),
         CAST(total AS BIGINT) FROM scan
  UNION ALL
  SELECT 'totalprice_under_100k', CAST(v_totalprice_under_100k AS BIGINT),
         CAST(total AS BIGINT) FROM scan
  UNION ALL
  SELECT 'status_domain', CAST(v_status_domain AS BIGINT),
         CAST(total AS BIGINT) FROM scan
  UNION ALL
  SELECT 'custkey_fk_customer', CAST(violations AS BIGINT),
         CAST(total AS BIGINT) FROM fk
)
SELECT check_name, violations, total,
       CAST(violations = 0 AS INT) AS passed
FROM long
ORDER BY check_name
"""


# Q140: shard export — the export lake is a DATA ledger (actual
# training-shard files), so its checkable contract is the RECEIPT:
# the per-shard manifest over the multi-epoch streamed lake must equal
# the one-shot q108 manifest of the whole corpus — assignment is a
# pure key hash, so which epoch delivered a document can never move
# it. No compaction step: shard files are data, not foldable state.

_SH_EPOCHS = 3


def q_stream_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import shard_manifest
    from ..streaming import pipeline as sp
    from .curation_q import N_SHARDS

    docs = load_table(spark, sf_dir, "documents")
    root = _index_root(sf_dir, f"shled{N_SHARDS}m{_SH_EPOCHS}")
    sliced = docs.withColumn(
        "_e", F.pmod(F.col("doc_id"), F.lit(_SH_EPOCHS)).cast("int"))
    # committed epochs replay byte-identically — skip them
    for e in EpochLedger(spark, root).pending(range(_SH_EPOCHS)):
        sp.shard_epoch(sliced.filter(F.col("_e") == e).drop("_e"), e,
                       out_dir=root, key="doc_id", n_shards=N_SHARDS)
    lake = sp.read_shard_lake(spark, root)
    # q108's exact output contract over the streamed lake
    return (shard_manifest(
        lake.select("doc_id", "text", "shard", "ord_key"))
        .localCheckpoint())


def _oracle_stream_shards() -> str:
    from .curation_q import ORACLE_SHARD_MANIFEST

    return ORACLE_SHARD_MANIFEST


SPECS = [
    QuerySpec("q121_compacted_lsh_pairs", q_compacted_lsh_pairs,
              _oracle_compacted_lsh_pairs,
              "LSH index lifecycle: 2 increments -> compaction -> "
              "3rd increment; pairs == one-shot banded LSH restricted "
              "to batch-3-touching pairs", ("H1", "H6", "P2-dedup")),
    QuerySpec("q122_compacted_exact_survivors", q_compacted_exact_survivors,
              ORACLE_COMPACTED_EXACT_SURVIVORS,
              "exact-dedup index lifecycle: survivors of the 3rd batch "
              "against a compacted fingerprint history "
              "(first-batch-wins)", ("H1", "H6", "P2-dedup")),
    QuerySpec("q125_compacted_ann_topk", q_compacted_ann_topk,
              _oracle_compacted_ann_topk,
              "IVF index lifecycle: frozen quantizer from increment 1, "
              "2 increments -> compaction -> 3rd increment; top-k == "
              "one-shot frozen-quantizer IVF over the corpus",
              ("H1", "H6", "P2-sim")),
    QuerySpec("q141_compacted_pq_topk", q_compacted_pq_topk,
              _oracle_compacted_pq_topk,
              "PQ index lifecycle: codebooks trained on increment 1 "
              "and frozen, 2 increments -> compaction -> thin 3rd "
              "increment; top-k against the landed codes == one-shot "
              "frozen-books ADC over the ingested corpus",
              ("H1", "H6", "P2-sim")),
    QuerySpec("q142_compacted_ivfpq_topk", q_compacted_ivfpq_topk,
              _oracle_compacted_ivfpq_topk,
              "landed IVF-PQ index lifecycle: coarse quantizer AND "
              "codebooks frozen on increment 1, codes landed "
              "partitioned by cell, 2 increments -> compaction -> "
              "thin 3rd increment; probe-pruned top-k against the "
              "landed codes == one-shot frozen-quantizer IVF-ADC "
              "over the ingested corpus",
              ("H1", "H6", "P2-sim")),
    QuerySpec("q143_ivfpq_serving", q_ivfpq_serving,
              _oracle_ivfpq_serving,
              "read-only serving probe of the landed IVF-PQ index: "
              "queries scored against the compacted history WITHOUT "
              "being ingested == frozen-quantizer IVF-ADC over "
              "batches 0-1 only",
              ("H1", "P2-sim")),
    QuerySpec("q145_ivfpq_reranked", q_ivfpq_reranked,
              _oracle_ivfpq_reranked,
              "two-stage serving: 5k ADC shortlist off the landed "
              "IVF-PQ index, exact-cosine reranked against raw "
              "vectors == numpy replay of shortlist + exact refine",
              ("H1", "P2-sim")),
    QuerySpec("q146_ivfpq_deleted", q_ivfpq_deleted,
              _oracle_ivfpq_deleted,
              "tombstone deletes through the landed IVF-PQ "
              "lifecycle: delete -> compaction applies+clears -> "
              "read-only probe == frozen-quantizer IVF-ADC over the "
              "ingested-minus-deleted corpus",
              ("H1", "H6", "P2-sim")),
    QuerySpec("q144_ann_serving", q_ann_serving,
              _oracle_ann_serving,
              "read-only serving probe of the landed IVF index: "
              "exact-cosine top-k of un-ingested queries against the "
              "compacted batches 0-1 cells == pure-SQL "
              "frozen-quantizer IVF",
              ("H1", "P2-sim")),
    QuerySpec("q130_stream_kmeans", q_stream_kmeans,
              _oracle_stream_kmeans,
              "streaming mini-batch k-means lifecycle: 2 generations "
              "x 3 epochs of decimal sufficient stats with a "
              "compaction between; final clustering == one-shot "
              "batch Lloyd (q128's ground truth)",
              ("H1", "H6", "P2-sim")),
    QuerySpec("q133_stream_drift", q_stream_drift,
              _oracle_stream_drift,
              "streaming drift-monitor lifecycle: 3 ingest epochs of "
              "landed quality histograms with a compaction between; "
              "folded TV statistic == one-shot q132 monitor",
              ("H6", "P2-quality")),
    QuerySpec("q136_stream_kmv", q_stream_kmv,
              _oracle_stream_kmv,
              "streaming KMV distinct-count lifecycle: 3 ingest "
              "epochs of landed per-group sketches with a compaction "
              "between; folded estimates == one-shot q115 sketches "
              "(exact KMV merge)",
              ("H6", "D15", "P2-sketch")),
    QuerySpec("q137_stream_cm", q_stream_cm,
              _oracle_stream_cm,
              "streaming count-min lifecycle: 3 ingest epochs of "
              "landed token sketches with a compaction between; "
              "folded heavy-hitter estimates == one-shot q117 sketch "
              "(exact counter sums)",
              ("H6", "P2-sketch")),
    QuerySpec("q138_stream_matview", q_stream_matview,
              _oracle_stream_matview,
              "streaming matview lifecycle: 3 ingest epochs of "
              "landed algebraic states with a compaction between; "
              "folded+finalized view == one-shot q119 aggregate "
              "(decimal monoid)",
              ("H6", "D13", "P2-quality")),
    QuerySpec("q139_stream_expectations", q_stream_expectations,
              ORACLE_STREAM_EXPECTATIONS,
              "streaming expectations lifecycle: 3 ingest epochs of "
              "landed violation reports with a compaction between; "
              "folded totals == one-shot suite for the "
              "epoch-distributive rules (uniqueness excluded by "
              "design)",
              ("H6", "B4", "P2-quality")),
    QuerySpec("q140_stream_shards", q_stream_shards,
              _oracle_stream_shards,
              "streaming shard-export lifecycle: 3 ingest epochs of "
              "landed training shards; the multi-epoch lake's "
              "manifest (counts/chars/order bounds/fingerprint "
              "checksum) == one-shot q108 manifest",
              ("H6", "P2-curation")),
]

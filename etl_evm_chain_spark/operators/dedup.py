"""Deduplication operators for training-data pipelines (SURVEY §7 P2).

Four tiers, all driver-loop-free and shuffle-minimal:

- **Exact**: hash-groupBy on a normalized-content fingerprint. One
  shuffle on the 60-bit hash; at 100 TB the hash is near-uniform so
  no skew.
- **MinHash + LSH**: distinct k-shingles → K portable min-hashes →
  band signatures → equi-join on (band, signature) buckets. The
  candidate-pair set is the union of per-bucket pairs — the crossJoin
  never happens; cost is bounded by bucket sizes. Exact Jaccard is
  then verified only on candidates.
- **SimHash**: 32-bit sign-aggregated token-hash sketch; near-dup =
  small Hamming distance. Bit arithmetic only — fully SQL-portable.
- **Embedding cosine**: near-dup = cosine above threshold; candidate
  generation via similarity.lsh_buckets at scale.

Hashing is md5-prefix based (functions.text.hash15) so the DuckDB
oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, hash15, shingles

MINHASH_K = 8          # signature length
LSH_BANDS = 4          # bands of MINHASH_K // LSH_BANDS rows each
SHINGLE_K = 3
# Universal slot-hash family (round 7): per-slot hashes are
# h_i(x) = (a_i·x + b_i) mod (2^61-1) over ONE 60-bit md5-prefix hash
# x per shingle — one md5 per shingle occurrence instead of k (at
# k=64 the old per-slot md5s were ~21 s of the sf0.1 signature pass).
# This is the classical minwise implementation (the same family
# pyspark.ml's MinHashLSH uses); per-slot multipliers are INDEPENDENT
# constants, not the Kirsch-Mitzenmacher linear-in-i form — KM was
# tried first and the q131 envelope gate caught it inflating
# mid-similarity estimates (false-drop 230/485 at sf0.1: linear slot
# hashes share argmin structure across slots, a known minhash
# pathology; with this family the gate reads 0 false drops again).
# a_i is capped at 30 bits so the mod-p multiply decomposes into
# signed-64-safe pieces in BOTH engines (see _slot_hash); "uh" tags
# ledger root names so an index landed under another family can never
# be silently extended.
MINHASH_FAMILY = "uh"
MINHASH_P = (1 << 61) - 1
_MINHASH_K_MAX = 64


@lru_cache(maxsize=8)
def minhash_ab(k: int) -> tuple:
    """The k (a_i, b_i) slot constants, derived from md5 so both
    engines (and the SQL twin generator) share one definition:
    a_i in [1, 2^30), b_i in [0, p)."""
    import hashlib

    out = []
    for i in range(k):
        a = (int(hashlib.md5(f"mha:{i}".encode()).hexdigest()[:8], 16)
             % ((1 << 30) - 1)) + 1
        b = int(hashlib.md5(f"mhb:{i}".encode()).hexdigest()[:15],
                16) % MINHASH_P
        out.append((a, b))
    return tuple(out)


def _slot_hash(x, a: int, b: int):
    """(a·x + b) mod p for p = 2^61-1, x < 2^60, a < 2^30 — with the
    multiply decomposed so no intermediate exceeds 2^63 (Spark runs
    ANSI; DuckDB BIGINT doesn't wrap either): x = hi·2^30 + lo, and
    (a·hi)·2^30 mod p folds via the Mersenne identity
    t·2^30 ≡ ((t & (2^31-1)) << 30) + (t >> 31) (mod p)."""
    lo = x.bitwiseAND(F.lit((1 << 30) - 1))
    hi = F.shiftright(x, 30)
    t2 = F.lit(a) * hi
    t2m = (F.shiftleft(t2.bitwiseAND(F.lit((1 << 31) - 1)), 30)
           + F.shiftright(t2, 31))
    return (F.lit(a) * lo + t2m + F.lit(b)) % F.lit(MINHASH_P)


def exact_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Group identical (normalized) content; keep the smallest id.

    Deterministic keep-rule (min id), unlike dropDuplicates. Returns
    one row per content group: fp, keep_id, n_dups.
    """
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_hashes(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text",
                   k: int = SHINGLE_K) -> DataFrame:
    """``(id, sh)`` — the hashed-shingle relation every shingle
    consumer derives from: one explode + ONE md5 per distinct
    k-shingle. ``sh`` is the 60-bit md5-prefix hash (identical to
    functions.text.hash15 of the shingle — the inverted-index key
    ngram_jaccard_pairs always used, and the ``x`` the minhash slot
    family mixes). Callers composing BOTH pipelines over one corpus
    (q131's envelope gate) compute this once, pin it, and pass it
    down via the operators' ``base`` parameter."""
    from ..functions.text import gram_hash_rows

    # Arrow gram-hash kernel (round-9): same tokens, same distinct-
    # before-hash semantics, same hash15 values — see gram_hash_rows.
    # Round-10 reproduce-or-revert (the r9 verdict's ask #2): A/B'd
    # against the pre-r9 JVM expression chain on fresh JVMs — the
    # kernel wins cold (q131 12.9 vs 15.2 s first-rep) and ties warm;
    # kept, and the single-task straggler fixed instead (_spread).
    return gram_hash_rows(docs, id_col=id_col, text_col=text_col,
                          k=k, distinct=True, out_col="sh")


def minhash_signatures(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text",
                       k: int = MINHASH_K,
                       base: DataFrame | None = None) -> DataFrame:
    """K min-hashes over distinct 3-token shingles.

    One explode + one groupBy(id) with K min() aggregates — min() is
    associative, so map-side partial aggregation keeps the shuffle to
    one row per (doc, k) group regardless of shingle count. The k
    slot hashes are the universal family (a_i·x + b_i) mod 2^61-1
    over ONE md5-prefix hash per shingle (see MINHASH_FAMILY) — the
    SQL twin is plans/llmdata._sql_minhash_mins, and the realized
    estimate quality sits under the q131 envelope gate. ``base`` lets
    a caller share an already-computed (and pinned)
    :func:`shingle_hashes` relation instead of re-shingling the
    corpus.
    """
    if not 1 <= k <= _MINHASH_K_MAX:
        raise ValueError(
            f"k={k} outside [1, {_MINHASH_K_MAX}]: the pinned slot-"
            "constant table (minhash_ab) and its SQL twin stop at "
            f"{_MINHASH_K_MAX}")
    if base is None:
        base = shingle_hashes(docs, id_col=id_col, text_col=text_col)
    aggs = [
        F.min(_slot_hash(F.col("sh"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_ab(k))
    ]
    return base.groupBy(id_col).agg(*aggs)


def _banded(sig: DataFrame, *, id_col: str = "doc_id",
            k: int = MINHASH_K, bands: int = LSH_BANDS,
            keys_only: bool = False) -> DataFrame:
    """Explode signatures into (id, h0..h{k-1}, band, key) rows — the
    join unit for both one-shot pair generation and the landed
    incremental index. ``keys_only`` drops the h columns (the one-shot
    pair join re-attaches signatures per deduped pair instead of
    carrying k longs through every banded replica — guide §2.3); the
    landed index keeps them, because the index parquet IS the
    signature store its candidate scoring reads from."""
    if k % bands:
        raise ValueError(
            f"k={k} must divide into bands={bands}: the trailing "
            f"{k % bands} min-hashes would be computed but never "
            "participate in candidate generation (silent recall loss)")
    rows_per_band = k // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"h{b * rows_per_band + r}")
                               for r in range(rows_per_band)]).alias("key"),
        )
        for b in range(bands)
    ]
    carry = [] if keys_only else [f"h{i}" for i in range(k)]
    return sig.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select(id_col, *carry,
             F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(sig: DataFrame, *, id_col: str = "doc_id",
                        k: int = MINHASH_K,
                        bands: int = LSH_BANDS) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on the signatures.

    Explode each doc into `bands` (band_id, band_key) rows, equi-join
    on them (bucket join — this is the scale path: no crossJoin), then
    de-duplicate pairs and score by fraction of matching min-hashes.
    Output: id_a < id_b, est_jaccard.

    The band self-join moves ONLY (id, band, key) rows (round-10,
    guide §2.3 "project before the exchange"): the round-9 form
    carried all k min-hashes through the bands-way explode and the
    self-join, shuffling k·bands longs per document and deduplicating
    k·2-wide pair rows. The signatures are re-attached to the DEDUPED
    pairs afterwards — per PAIR MEMBER instead of per banded replica.
    The match count per pair is identical (every replica of an id
    carries the same h vector), so est_jaccard is unchanged.
    """
    banded = _banded(sig, id_col=id_col, k=k, bands=bands,
                     keys_only=True)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ha = sig.select(F.col(id_col).alias("id_a"),
                    *[F.col(f"h{i}").alias(f"ah{i}") for i in range(k)])
    hb = sig.select(F.col(id_col).alias("id_b"),
                    *[F.col(f"h{i}").alias(f"bh{i}") for i in range(k)])
    pairs = pairs.join(ha, "id_a").join(hb, "id_b")
    matches = sum(
        F.when(F.col(f"ah{i}") == F.col(f"bh{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return pairs.select(
        "id_a", "id_b",
        (matches.cast("double") / k).alias("est_jaccard"),
    )


def verified_near_dups(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text",
                       threshold: float = 0.5) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact shingle-Jaccard
    verification → pairs above threshold.

    The exact Jaccard join touches only LSH candidates — at 100 TB the
    candidate set is orders of magnitude smaller than the pair space.
    """
    # No localCheckpoint here, deliberately (measured: checkpointing
    # sig+sh costs 4.1s vs 2.8s plain at sf0.1): the candidate
    # self-join's two sides canonicalize to identical exchanges, which
    # Spark deduplicates via ReusedExchange, and the remaining
    # re-scans are column-pruned parquet reads — cheaper than eagerly
    # materializing wide signature arrays. At 100 TB the one-shot
    # form is the wrong tool anyway: land the signatures once and
    # join against the landed index (update_near_dup_index).
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col)
    cands = lsh_candidate_pairs(sig, id_col=id_col)
    # prune=False: the candidate lineage (signature agg + banded
    # self-join) is the expensive part here, and the touched-ids
    # semi-join would embed it a second time — the all-docs shingle
    # projection is the cheaper side of that trade (measured at
    # sf0.1: pruning cost q35 ~+0.7 s)
    return verify_pairs(docs, cands, id_col=id_col, text_col=text_col,
                        threshold=threshold, prune=False)


def verify_pairs(docs: DataFrame, pairs: DataFrame, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.5, prune: bool = True) -> DataFrame:
    """Exact shingle-Jaccard verification of CANDIDATE pairs — the
    shared tail of verified_near_dups, callable on any (id_a, id_b)
    candidate relation (the streaming funnel verifies within-batch
    index candidates this way). With ``prune`` the shingle projection
    is semi-join pruned to pair-touched ids first: right when
    ``pairs`` is cheap to reference twice (e.g. already checkpointed)
    and candidates are a small fraction of ``docs``; wrong when the
    pair lineage itself is the expensive side (verified_near_dups
    passes prune=False).

    Returns (id_a, id_b, jaccard) above ``threshold``, jaccard
    floor-truncated to 6 decimals — not round(): engines disagree on
    ties (n_common/n_union = 1/128 is EXACTLY 7812.5 millionths,
    where Spark's HALF_UP and another engine's half-even diverge; the
    portability rule ngram_jaccard_pairs and quality_score follow).
    """
    sh_src = docs
    if prune:
        touched = (pairs.select(F.col("id_a").alias(id_col))
                   .union(pairs.select(F.col("id_b").alias(id_col)))
                   .dropDuplicates())
        sh_src = docs.join(touched, id_col, "leftsemi")
    sh = sh_src.select(F.col(id_col),
                       shingles(text_col, SHINGLE_K).alias("sh"))
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a")
                     .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
                .withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union",
                    F.size(F.array_distinct(F.concat("sh_a", "sh_b"))))
        .withColumn("jaccard",
                    F.col("n_common").cast("double") / F.col("n_union"))
    )
    return (
        j.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b",
                (F.floor(F.col("jaccard") * 1e6) / 1e6).alias("jaccard"))
    )


def ngram_jaccard_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = SHINGLE_K,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        base: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle
    index — no sketching, no crossJoin.

    Explode distinct k-shingles, self-join on the shingle (pairs are
    generated only inside posting lists), count shared shingles per
    pair, then ``|A∩B| / (|A| + |B| − |A∩B|)``. Shuffle cost is one
    hash partition on the shingle plus one on the pair key.

    At corpus scale the quadratic term is the posting-list length of
    the most common shingle; ``max_df`` drops shingles appearing in
    more than that many documents from BOTH the intersection and the
    set sizes (standard frequent-gram pruning: stopword-grams carry no
    dedup signal but dominate join fan-out). The fixture corpus tops
    out at df=7, so the checked query runs unpruned.

    The join key is the 60-bit portable hash of the shingle, not the
    shingle string: the index shuffle then moves (long, long) rows
    instead of multi-word strings (~3× smaller payload at corpus
    scale). A 60-bit collision (~n²/2⁶¹) could merge two shingles;
    both engines hash identically so the comparison is unaffected.
    """
    # Materialized once (localCheckpoint): the index feeds three
    # consumers (set sizes + both self-join sides); lazy evaluation
    # would tokenize/shingle/md5 the corpus three times. A caller-
    # provided ``base`` (shingle_hashes, already pinned) skips the
    # re-shingling AND the pin — ``sh`` here is exactly base's sh.
    if base is not None:
        sh = base.select(F.col(id_col), "sh")
    else:
        # the shingle_hashes Arrow kernel (same distinct-before-hash
        # semantics, same hash15 values, _spread parallelism) — the
        # round-9 JVM explode+md5 chain kept here was the last
        # non-kernel shingle path (round-10)
        from ..functions.text import gram_hash_rows
        sh = gram_hash_rows(docs, id_col=id_col, text_col=text_col,
                            k=k, distinct=True, out_col="sh") \
            .localCheckpoint()
    if max_df is not None:
        keep = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_df).select("sh"))
        sh = sh.join(keep, "sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, ["sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = (F.col("n_common").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_common")))
    return (
        common.join(sizes.select(F.col(id_col).alias("id_a"),
                                 F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_sh").alias("nb")), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b",
                (F.floor(F.col("jaccard") * 1e6) / 1e6).alias("jaccard"))
    )


def span_dup_stats(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 5,
                   min_df: int = 2) -> DataFrame:
    """Cross-document repeated n-gram span statistics — the
    exact-substring dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499, applied at
    token-k-gram granularity): for each document, how many of its
    k-gram INSTANCES (with multiplicity) also occur in at least
    ``min_df - 1`` other documents. ``dup_ratio`` ≈ the fraction of
    the document that is boilerplate shared across the corpus — the
    standard cut for span-level dedup filtering.

    Distinct from q64 (within-doc repetition) and q60 (pairwise
    Jaccard): this is a corpus-global per-document signal.

    Three shuffles, each with map-side partial aggregation:
    groupBy(doc, gram-hash) collapses instances to counts; a
    count-over-window partitioned by gram-hash attaches each gram's
    document frequency (rows per gram = its doc frequency, so the
    hottest gram's partition is bounded by df, not instance count);
    groupBy(doc) folds to per-document stats. Grams travel as 60-bit
    portable hashes (functions.text.hash15), not strings — the wide
    shuffle moves (long, long) pairs.

    Reference analog: none (the reference has no corpus operators);
    counterpart of its dedup C6 (`stable_fee_ml_bot.py:97-98`) at
    span granularity.
    """
    from ..functions.text import gram_hash_rows

    # Arrow gram-hash kernel (round-9) — same grams, same hash15
    g = gram_hash_rows(docs, id_col=id_col, text_col=text_col, k=k)
    per = g.groupBy(id_col, "gh").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gh")))
    dup = F.col("n_docs") >= min_df
    out = per.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(dup, F.col("c")).otherwise(F.lit(0))).alias("n_dup_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.sum(dup.cast("int")).alias("n_dup_distinct"),
    )
    ratio = (F.col("n_dup_grams").cast("double")
             / F.col("n_grams").cast("double"))
    # floor-truncate, not round(): engine-portable (see quality_score).
    return out.withColumn("dup_ratio", F.floor(ratio * 1e6) / 1e6)


def dup_spans(docs: DataFrame, *, id_col: str = "doc_id",
              text_col: str = "text", k: int = 5, min_df: int = 2,
              min_tokens: int = 15) -> DataFrame:
    """Maximal duplicated-span EXTRACTION — the actionable form of
    span_dup_stats: instead of a per-document ratio, emit the actual
    token spans whose every k-gram also occurs in ≥ ``min_df − 1``
    other documents, so a pipeline can TRIM boilerplate instead of
    dropping whole documents (the remove-the-span policy of Lee et
    al., arXiv:2107.06499, at k-gram anchor granularity).

    A maximal duplicated span is a maximal run of consecutive
    duplicated k-gram positions — classic gaps-and-islands:
    ``pos − row_number()`` is constant within a run. Shuffle budget:
    one groupBy(gh) for document frequency (map-side combined), one
    semi-join back (gram hashes travel as 60-bit longs), one window +
    groupBy per document (bounded by per-doc gram count, never
    corpus-global). Output: (doc_id, start_tok, end_tok, len_toks,
    n_grams, max_gram_df), token positions 0-based inclusive.
    """
    from ..functions.text import gram_hash_rows

    # Arrow gram-hash kernel (round-9) — same grams/positions/hash15
    gp = gram_hash_rows(docs, id_col=id_col, text_col=text_col, k=k,
                        with_pos=True)
    dup_gh = (gp.select(id_col, "gh").distinct()
              .groupBy("gh").agg(F.count(F.lit(1)).alias("n_docs"))
              .filter(F.col("n_docs") >= min_df))
    marked = gp.join(dup_gh, "gh")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "grp")
        .agg(F.min("pos").cast("long").alias("start_tok"),
             (F.max("pos") + F.lit(k - 1)).cast("long").alias("end_tok"),
             F.count(F.lit(1)).alias("n_grams"),
             F.max("n_docs").alias("max_gram_df"))
        .withColumn("len_toks",
                    F.col("end_tok") - F.col("start_tok") + F.lit(1))
        .filter(F.col("len_toks") >= min_tokens)
        .drop("grp")
    )


def update_near_dup_index(spark, docs: DataFrame, index_path: str, *,
                          id_col: str = "doc_id", text_col: str = "text",
                          k: int = MINHASH_K,
                          bands: int = LSH_BANDS,
                          batch_id: str | None = None) -> DataFrame:
    """Incremental near-dup detection against a LANDED LSH index — the
    daily-increment shape of a 100 TB dedup pipeline: signatures and
    band keys are computed for the NEW batch only, landed into the
    parquet index, and candidate pairs come from joining the new
    batch's bands against the (now-complete) index. Cost per increment
    is O(batch) compute + an equi-join whose corpus side is semi-join
    pruned to the batch's touched (band, key) buckets and whose files
    are laid out ``batch_id=<id>/band=<b>/`` — band is a physical
    partition key, so band-targeted maintenance reads only its
    directories, and each batch lives in its own partition directory.

    Exactly-once: pass a stable ``batch_id`` and a replayed batch
    OVERWRITES its own partition directory instead of appending a
    duplicate copy (the round-2 form appended unconditionally, so a
    retried batch duplicated index rows forever). Without a caller
    batch id a fresh UUID is used — correct results, but replays then
    append; give streaming/restartable callers a deterministic id.

    Returns candidate pairs touching the new batch (new↔corpus and
    new↔new), id_a < id_b, scored by estimated Jaccard (fraction of
    matching min-hashes — the standard index-resident verification;
    exact-Jaccard re-verification needs document text and composes via
    verified_near_dups on the candidate ids). The union of pair sets
    over successive increments equals one-shot lsh_candidate_pairs on
    the full corpus (tested equivalence, tests/test_llmdata.py).
    """
    import os
    import uuid

    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col, k=k)
    new_banded = _banded(sig, id_col=id_col, k=k, bands=bands)
    if batch_id is None:
        batch_id = uuid.uuid4().hex
    # "b" prefix pins the inferred partition type to string — an
    # all-digit batch id (streaming epoch) in one directory and a hex
    # uuid in another would otherwise make partition-type inference
    # conflict across directories.
    batch_dir = os.path.join(index_path, f"batch_id=b{batch_id}")
    # The write IS the one evaluation of the minhash lineage (an
    # isEmpty pre-check would run the whole groupBy agg a second
    # time); emptiness is read off the written directory instead.
    new_banded.write.mode("overwrite").partitionBy("band").parquet(batch_dir)
    from .index_ledger import _fs, _has_data, touch_liveness
    touch_liveness(index_path)  # scratch-root GC liveness (see helper)
    fs, jdir = _fs(spark, batch_dir)
    if not _has_data(fs, jdir):
        # Empty micro-batch (or every doc shorter than the shingle
        # width): a zero-row partitionBy write leaves a footer-less
        # _SUCCESS-only directory — readers skip those, but delete it
        # so the ledger listing stays clean. No new pairs.
        fs.delete(jdir, True)
        return new_banded.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("est_jaccard")).limit(0)
    # Re-read the just-landed copy as the batch side: the lazy
    # minhash/banding lineage has three consumers (the write above,
    # the touched-keys projection, the a-side of the pair join) and
    # would otherwise tokenize + md5 the batch three times; the landed
    # parquet is also by construction the exact rows the index holds.
    new_banded = spark.read.parquet(batch_dir)
    # live = newest compacted baseline + unfolded committed batch dirs
    # (compact_near_dup_index bounds the directory count); a replayed
    # ALREADY-FOLDED batch reads its own rows from the baseline — the
    # recreated directory is manifest-excluded, never double-counted
    from .index_ledger import read_live_index
    index = read_live_index(spark, index_path).drop("batch_id")
    # live tombstones (delete_from_near_dup_index): a deleted doc
    # emits no pairs from EITHER side — even if this very batch
    # re-ingested it (tombstone wins until compaction clears)
    from .similarity import _live_tomb_ids
    tomb_ids = _live_tomb_ids(spark, index_path, id_col)
    if tomb_ids is not None:
        index = index.join(tomb_ids, id_col, "left_anti")
        new_banded = new_banded.join(tomb_ids, id_col, "left_anti")
    # Semi-join prune the landed side to the batch's touched buckets
    # BEFORE the pair join: with a small increment AQE broadcasts the
    # touched-keys set and dynamic partition pruning skips untouched
    # band directories entirely.
    touched = new_banded.select("band", "key").dropDuplicates()
    index = index.join(touched, ["band", "key"], "leftsemi")
    a = new_banded.alias("a")
    b = index.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"),
                       F.col(f"b.{id_col}")).alias("id_b"),
            *[F.col(f"a.h{i}").alias(f"ah{i}") for i in range(k)],
            *[F.col(f"b.h{i}").alias(f"bh{i}") for i in range(k)],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = sum(
        F.when(F.col(f"ah{i}") == F.col(f"bh{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return pairs.select(
        "id_a", "id_b",
        (matches.cast("double") / k).alias("est_jaccard"),
    )


def resolve_duplicates(ids: DataFrame, pairs: DataFrame, *,
                       id_col: str = "doc_id",
                       max_iter: int = 20) -> DataFrame:
    """Collapse near-dup pairs into canonical groups: every id maps to
    the MINIMUM id of its connected component (the deterministic
    keep-rule), so downstream keeps exactly one row per group.

    Distributed min-label propagation with pointer jumping, run ONLY
    over ids that appear in a pair: singletons (the overwhelming
    majority of a deduped corpus — at 100 TB the dup fraction is small)
    never enter the loop and are attached by one final left join with
    ``coalesce(canonical, id)``. Per-round shuffle size is therefore
    |dup-candidate nodes|, not |corpus|. Each round takes
    ``min(label, min(neighbor labels), label[label])`` — the pointer-
    jumping term compresses chains so rounds grow with
    log2(component diameter), not diameter. The driver only
    orchestrates round counts (a scalar sum per round, no data).
    """
    # localCheckpoint (not cache) on everything the loop re-references:
    # cache keeps the full logical plan, so each round's self-joins
    # would embed the previous round's tree several times over and
    # Catalyst analysis time grows exponentially with rounds.
    # Truncating lineage keeps per-round plans constant-size. (Local
    # checkpoints are non-reliable — lost with an executor — which is
    # the standard tradeoff for iterative graph loops; a lost block
    # just re-runs the query.)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (edges.select("src").distinct()
              .withColumn("canonical", F.col("src")).localCheckpoint())
    # Convergence check: labels are monotone non-increasing, so any
    # round that changes a label changes the label multiset — one
    # scalar agg per round instead of a self-join + count. The
    # fingerprint is a decimal sum of per-label xxhash64 (works for
    # ANY id type — a numeric cast would be NULL for string/UUID ids
    # and a NULL==NULL comparison would declare convergence after one
    # round; decimal accumulation can't overflow below 10^19 rows).
    def _label_fp(lb):
        return lb.agg(
            F.sum(F.xxhash64("canonical").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_fp(labels)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst2"),
                       edges.dst == F.col("dst2"))
            .groupBy("src").agg(F.min("canonical").alias("nmin"))
        )
        hop1 = (
            labels.join(neighbor_min, "src")
            .select("src", F.least("canonical", "nmin").alias("canonical"))
        )
        # Pointer jumping: follow my label's label (path compression).
        parent = hop1.select(F.col("src").alias("psrc"),
                             F.col("canonical").alias("pcan"))
        updated = (
            hop1.join(parent, hop1.canonical == parent.psrc, "left")
            .select("src",
                    F.least("canonical", F.coalesce("pcan", "canonical"))
                    .alias("canonical"))
        ).localCheckpoint()
        cur_sum = _label_fp(updated)
        labels = updated
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return (
        ids.join(labels.withColumnRenamed("src", id_col), id_col, "left")
        .select(id_col,
                F.coalesce("canonical", F.col(id_col)).alias("canonical"))
    )


def simhash(docs: DataFrame, *, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 60) -> DataFrame:
    """60-bit SimHash: per-token 60-bit hash (15-hex md5 prefix — the
    widest that fits a signed long), sign-sum each bit over all token
    occurrences, set bit where the sum is positive.

    Integer-only arithmetic → bit-identical in any engine. One explode
    + one groupBy(id) with `bits` sum() aggregates (map-side combined).
    """
    if not 1 <= bits <= 60:
        # 61..63 would conv() a 16-hex prefix that can exceed
        # Long.MAX: the cast('long') NULLs and every bit-test then
        # falls to the negative branch — a silently garbage sketch
        raise ValueError(f"bits={bits} must be in 1..60 "
                         "(15 hex chars is the widest signed-long-safe "
                         "md5 prefix)")
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, (bits + 3) // 4), 16, 10).cast("long"))
    # Pre-aggregate occurrence counts per distinct token hash: the
    # `bits`-wide CASE-sum stage then runs over |vocab| rows per doc
    # instead of |tokens| — a large constant win on natural text.
    counted = toks.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("cnt"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1,
                     F.col("cnt")).otherwise(-F.col("cnt"))).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = counted.groupBy(id_col).agg(*bit_sums)
    sh = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(bits)
    )
    return agg.select(F.col(id_col), sh.alias("simhash"))


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_hamming: int = 5, bits: int = 60,
                  n_bands: int = 6,
                  sketch: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded, not crossed.

    Pigeonhole: a pair within Hamming ≤ n_bands−1 must share at least
    one of n_bands equal-width bit bands untouched, so an equi-join on
    (band_id, band_bits) finds every such pair without the O(n²)
    cross join. With 6 ten-bit bands (1024 values each) this is
    lossless for max_hamming ≤ 5 AND selective — narrow bands turn the
    band join itself into a near-cross-join on low-entropy corpora.
    The exact bit_count filter then prunes false candidates. At scale
    the join shuffles on small integer keys only.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banded join is lossless only for max_hamming <= {n_bands - 1}")
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    # Materialize the sketch once: both sides of the band self-join
    # would otherwise recompute the full simhash (token explode + two
    # aggs + 60 bit-sums). The checkpoint is |docs| × 16-byte rows —
    # far cheaper than a second sketch pass at any scale. Callers that
    # already landed the sketch (a (id, simhash) silver table) pass it
    # via ``sketch`` and skip the computation entirely.
    sh = sketch if sketch is not None else \
        simhash(docs, id_col=id_col, text_col=text_col).localCheckpoint()
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(mask).alias("bits"),
            )
            for b in range(n_bands)
        ])).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.bits")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bits") == F.col("b.bits"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def update_exact_dedup_index(spark, docs: DataFrame, index_path: str, *,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             n_bands: int = 256,
                             batch_id: str | None = None) -> DataFrame:
    """Cross-HISTORY exact dedup against a landed fingerprint index —
    the companion of :func:`update_near_dup_index` for byte-identical
    content. The watermark dedup (streaming/pipeline.dedup_stream)
    only suppresses duplicates inside the watermark window; a crawl
    re-fetching a page weeks later needs the ingest to remember every
    fingerprint ever admitted. Per increment:

    1. fingerprint the batch (functions.text.fingerprint — the same
       normalization as exact_dedup/q33) and keep the min-id row per
       within-batch group;
    2. anti-join the batch's fingerprints against the landed index,
       with the INDEX side pruned to the batch's touched ``band``
       partitions (band = pmod(fp, n_bands), a physical partition key
       — the scan reads only directories a batch fingerprint could
       live in, not the whole history);
    3. land the SURVIVORS' fingerprints under
       ``batch_id=b<id>/band=<b>/`` — replays overwrite their own
       partition directory (exactly-once, same contract as the LSH
       index).

    Returns the surviving (first-seen) rows of the batch. The
    concatenation of survivors over any epoch split equals one-shot
    exact_dedup keep-rows on the full corpus, provided batches arrive
    in id order (the keep-smallest-id rule needs the smaller id to
    arrive first; a re-crawl arriving later loses to history — which
    is the semantics an ingest wants).
    """
    import os
    import uuid

    if batch_id is None:
        batch_id = uuid.uuid4().hex
    # NULL text fingerprints to a sentinel OUTSIDE hash15's 60-bit
    # range so null-content docs form one dedup group (exact_dedup's
    # groupBy semantics) instead of null join keys that never match —
    # a null fp would survive every batch.
    fp_expr = F.coalesce(fingerprint(text_col), F.lit(-1).cast("long"))
    band = F.pmod(F.col("fp"), F.lit(n_bands)).cast("int")
    # one evaluation per batch: the fingerprint/window/band lineage has
    # three consumers (bands collect, index write, survivor return) —
    # same reuse discipline as update_near_dup_index's landed re-read
    fps = (docs.withColumn("fp", fp_expr)
           .withColumn("_rn", F.row_number().over(
               Window.partitionBy("fp").orderBy(id_col)))
           .filter(F.col("_rn") == 1).drop("_rn")
           .withColumn("band", band)
           .localCheckpoint())
    seen_bands = [r["band"] for r in
                  fps.select("band").distinct().collect()]
    if not seen_bands:
        return docs.limit(0)
    from .index_ledger import read_live_index

    fresh = fps
    live = read_live_index(spark, index_path)
    if live is not None:
        # REPLAY: a crashed-after-index-write epoch re-runs with its
        # own fingerprints already landed — joining against them would
        # erase the whole batch (empty overwrite of both index and
        # survivor lake). The exclusion works even after compaction
        # because the baseline keeps batch_id as a data column.
        idx_all = live.filter(F.col("batch_id") != f"b{batch_id}")
        # geometry guard (cf. the CM sketch stamp): an index built
        # with a different n_bands would prune the wrong partitions
        # and silently re-admit known duplicates — fail loudly. The
        # 1-row guard rides the survivor filter so pruning can't
        # elide it. An EMPTY prior index (first epoch replayed) is
        # fine: min/max are NULL, the coalesce passes.
        guard = idx_all.agg(
            F.assert_true(
                F.coalesce((F.min("nb") == n_bands)
                           & (F.max("nb") == n_bands), F.lit(True)),
                F.concat_ws(" vs ", F.lit(n_bands),
                            F.min("nb"), F.max("nb"))).alias("_nb_ok"))
        idx = (idx_all.filter(F.col("band").isin(seen_bands))
               .select("fp", "band"))
        fresh = (fps.join(idx, ["fp", "band"], "left_anti")
                 .crossJoin(F.broadcast(guard))
                 .filter(F.col("_nb_ok").isNull()).drop("_nb_ok"))
    fresh = fresh.localCheckpoint()
    if fresh.isEmpty():
        # Fully-duplicated batch (every fingerprint already in
        # history): land NOTHING. A partitionBy write of zero rows
        # creates a _SUCCESS-only directory with no parquet footers,
        # which breaks schema inference once it is the only live dir
        # (same guard as update_near_dup_index's empty micro-batch).
        # Replay stays consistent — recomputing against the unchanged
        # history yields the same empty survivor set.
        return fresh.drop("fp", "band")
    batch_dir = os.path.join(index_path, f"batch_id=b{batch_id}")
    (fresh.select("fp", "band").withColumn("nb", F.lit(n_bands))
     .write.mode("overwrite").partitionBy("band").parquet(batch_dir))
    from .index_ledger import touch_liveness
    touch_liveness(index_path)  # scratch-root GC liveness (see helper)
    return fresh.drop("fp", "band")


def delete_from_near_dup_index(spark, ids: DataFrame, index_path: str, *,
                               id_col: str = "doc_id",
                               batch_id: str | None = None) -> int:
    """Tombstone delete from the landed LSH near-dup index — the
    forget-me contract of the vector tiers
    (similarity.delete_from_ivfpq_index) applied to the document
    plane: the minhash signatures ARE content-derived state, so a
    removed document's rows must stop emitting pairs immediately.
    Reads anti-join BOTH pair sides against live tombstones (a
    re-ingest of a tombstoned id lands rows but emits nothing — the
    tombstone-wins rule); the next full compaction purges the rows
    physically and clears the tombstones; re-ingest after the clear
    resurrects."""
    from .similarity import _land_tombstones

    return _land_tombstones(spark, ids, index_path, id_col, batch_id,
                            None, "near-dup")


def compact_near_dup_index(spark, index_path: str, *,
                           id_col: str = "doc_id",
                           keep_last: int = 0, gc: bool = True) -> int | None:
    """Fold the LSH index's accumulated ``batch_id=`` directories into
    a compacted generation (operators/index_ledger protocol): results
    are bit-identical (the baseline re-lands the same rows, batch_id
    preserved), directory count drops to O(1) + keep_last, and the
    ``band`` physical partitioning survives so the touched-bucket
    semi-join keeps pruning. Live tombstones
    (``delete_from_near_dup_index``) are applied physically and —
    with ``keep_last=0`` — cleared (the vector tiers' contract).
    Returns the new generation number."""
    from .index_ledger import compact_batch_index
    from .similarity import _clear_applied_tombs, _live_tomb_ids

    tomb_ids = _live_tomb_ids(spark, index_path, id_col)
    if tomb_ids is not None:
        tomb_ids = tomb_ids.localCheckpoint()
    g = compact_batch_index(spark, index_path, part_col="band",
                            keep_last=keep_last, gc=gc,
                            minus=tomb_ids,
                            minus_on=(id_col if tomb_ids is not None
                                      else None))
    if tomb_ids is not None:
        _clear_applied_tombs(spark, index_path, g, keep_last)
    return g


def delete_from_exact_dedup_index(spark, docs: DataFrame,
                                  index_path: str, *,
                                  text_col: str = "text") -> int | None:
    """Content-keyed UN-REMEMBER for the exact-dedup fingerprint
    index: drop the given documents' fingerprints from history so
    legitimately re-submitted content is admitted again — the
    first-seen-wins rule needs an undo after a forget-me removal of
    the original, or the content stays suppressed forever.

    Unlike the id-keyed tombstone tiers this APPLIES IMMEDIATELY
    (one forced compaction folds history minus the fingerprints).
    A live fp tombstone cannot work here: the index stores no doc
    ids to scope it by, so while it lived EVERY subsequent batch
    carrying the content would be re-admitted — duplicate
    admissions. The fingerprint relation is ~16 B per unique doc,
    so the eager fold is the honest, cheap price of a correct
    semantic. Returns the new compacted generation (None when the
    index holds nothing to fold)."""
    import os

    from .index_ledger import _fs, compact_batch_index, touch_liveness

    fs, jvm_p = _fs(spark, index_path)
    if not fs.exists(jvm_p):
        raise ValueError(
            f"no committed exact-dedup index at {index_path} — "
            "nothing to delete from")
    fp_expr = F.coalesce(fingerprint(text_col), F.lit(-1).cast("long"))
    fps = docs.select(fp_expr.alias("fp")).distinct().localCheckpoint()
    touch_liveness(index_path)
    return compact_batch_index(spark, index_path, part_col="band",
                               minus=fps, minus_on="fp", force=True)


def compact_exact_dedup_index(spark, index_path: str, *,
                              keep_last: int = 0,
                              gc: bool = True) -> int | None:
    """Fold the exact-dedup fingerprint index's batch directories into
    a compacted generation. batch_id stays a data column, so the
    replay self-exclusion filter (the round-4 self-erasure fix) keeps
    working against the baseline."""
    from .index_ledger import compact_batch_index

    return compact_batch_index(spark, index_path, part_col="band",
                               keep_last=keep_last, gc=gc)

"""Tests for the LLM-data operators: dedup tiers, similarity search,
text analysis — on handcrafted micro-data plus recall checks on the
embeddings fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_evm_chain_spark.catalog import load_table
from etl_evm_chain_spark.operators import dedup as dd
from etl_evm_chain_spark.operators import similarity as sim

from conftest import SF_SMALL


BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango")


def _docs(spark):
    rows = [
        (1, BASE),
        (2, "  ".join(BASE.split())),            # whitespace-only dup
        (3, BASE.replace("tango", "zulu")),       # one-token near-dup
        (4, "completely different content about spark engines here"),
        (5, BASE.upper()),                        # case dup (exact-dedup only)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes_case_and_whitespace(spark):
    out = dd.exact_dedup(_docs(spark)).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups[1] == 3          # docs 1+2+5 collapse (lower + ws collapse)
    assert groups[3] == 1 and groups[4] == 1
    assert len(out) == 3


def test_minhash_lsh_finds_near_dup(spark):
    pairs = dd.verified_near_dups(_docs(spark), threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0      # identical token stream
    assert 0.85 <= got[(1, 3)] < 1.0
    assert all(4 not in p for p in got)


def test_simhash_identical_distance_zero(spark):
    sh = {r["doc_id"]: r["simhash"]
          for r in dd.simhash(_docs(spark)).collect()}
    assert sh[1] == sh[2] or bin(sh[1] ^ sh[2]).count("1") <= 2
    assert bin(sh[1] ^ sh[4]).count("1") > 4


def test_ann_recall_against_brute_force(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5).collect()
    approx = sim.ann_topk(emb, queries, k=5).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # RECALL FLOOR (round-7 verdict ask): the banded 16×4 geometry
    # measures 0.83 on this fixture (deterministic — md5 planes, no
    # randomness); a retune that drops the default below 0.80 must
    # fail here, not silently ship. Uniform-random embeddings are the
    # hardest case — the old single-table multiprobe measured 0.27.
    assert recall >= 0.80, f"recall {recall:.2f}"
    # every ANN hit must be a real corpus neighbor with a valid sim
    assert all(r["sim"] is not None and -1.0001 <= r["sim"] <= 1.0001 for r in approx)


def test_tuned_geometry_recall_floors(spark):
    """Per-method recall floors for the DEFAULT retrieval geometry
    (round-7 verdict ask #1): q126 pins the exact recall values into
    the driver's hash gate at sf0.01; this pins a floor on the test
    fixture so a local retune cannot regress any path silently.
    Measured (deterministic) on sf0.001 / 20 queries / k=5:
    ivf 0.92 (round 8: IVF_ASSIGN=2 soft assignment lifted it from
    0.63 — the verdict's 0.75-floor ask, floored at 0.80), pq 0.92
    and ivfpq 0.87 (round 8: Lloyd-trained codebooks, up from 0.87 /
    0.82 sampled; lsh 0.83 is pinned by
    test_ann_recall_against_brute_force above)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, queries, k=5).collect()}
    for name, fn, floor in (("ivf", sim.ivf_topk, 0.80),
                            ("pq", sim.pq_topk, 0.85),
                            # pruned-candidate ADC: pays a little
                            # recall vs full PQ for the cell pruning
                            ("ivfpq", sim.ivfpq_topk, 0.80)):
        got = {(r["qid"], r["cid"])
               for r in fn(emb, queries, k=5).collect()}
        recall = len(exact & got) / len(exact)
        assert recall >= floor, f"{name} recall {recall:.2f} < {floor}"


def test_brute_force_topk_self_excluded(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    out = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    assert all(r["qid"] != r["cid"] for r in out)
    for qid in (0, 1, 2):
        ranks = sorted(r["rank"] for r in out if r["qid"] == qid)
        assert ranks == [1, 2, 3, 4]


def test_resolve_duplicates_transitive_chain(spark):
    # components: {1,2,3} (chain via 1-2, 2-3) and {7,9}; 5 untouched
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)],
                                "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (7, 9, 0.95)],
        "id_a long, id_b long, jaccard double")
    out = {r["doc_id"]: r["canonical"]
           for r in dd.resolve_duplicates(ids, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_ivf_recall_against_brute_force(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, queries, k=5).collect()}
    approx = sim.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact & approx_set) / len(exact)
    # probing 4/16 cells on uniform-random vectors: recall well above
    # the 25%-of-corpus floor because neighbors share cells
    assert recall >= 0.3, f"recall {recall:.2f}"
    for qid in range(20):
        ranks = sorted(r["rank"] for r in approx if r["qid"] == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_winnow_fingerprints_detect_shared_content(spark):
    from etl_evm_chain_spark.functions.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " with a small suffix appended"),
         (3, "totally different material that shares nothing at all here")],
        "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # doc2 contains doc1 → high fingerprint overlap; doc3 near-zero
    inter12 = len(by_doc[1] & by_doc[2]) / len(by_doc[1])
    inter13 = len(by_doc[1] & by_doc[3]) / len(by_doc[1])
    assert inter12 > 0.8
    assert inter13 < 0.2


def test_ngram_jaccard_exact_values(spark):
    pairs = dd.ngram_jaccard_pairs(_docs(spark), threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0          # identical shingle sets
    # doc 3 swaps the LAST of 20 tokens → only the final shingle
    # differs: |A∩B| = 17, |A∪B| = 19
    assert abs(got[(1, 3)] - 17 / 19) < 1e-5
    assert all(4 not in p for p in got)


def test_ngram_jaccard_max_df_prunes_common_shingles(spark):
    # 4 docs share the same 3 leading tokens (1 common shingle); each
    # has a distinct tail. With max_df=2 the shared shingle is dropped
    # from index AND set sizes, so no pair survives any threshold.
    rows = [(i, f"common lead tokens tail{i} extra{i} more{i}")
            for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert dd.ngram_jaccard_pairs(docs, threshold=0.01).count() > 0
    assert dd.ngram_jaccard_pairs(docs, threshold=0.01, max_df=2).count() == 0


def test_quantize_int8_roundtrip_bounds(spark):
    rows = [
        (1, [0.0, -1.0, 10.0]),
        (2, [1.0, 1.0, 20.0]),
        (3, [0.5, 3.0, 15.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["codes"]
           for r in sim.quantize_int8(df).collect()}
    # per-dim min maps to -128, max to 127; midpoints land near 0
    assert got[1][0] == -128 and got[2][0] == 127
    assert got[1][1] == -128 and got[3][1] == 127
    assert got[1][2] == -128 and got[2][2] == 127
    assert got[3][0] == 0                        # (0.5-0)/1*255+0.5 → 128-128
    assert all(-128 <= c <= 127 for cs in got.values() for c in cs)
    # reconstruction error of a 3-point dim is bounded by (range/255)^2
    errs = sim.dequantize_error_micros(sim.quantize_int8(df))
    for r in errs.collect():
        assert 0 <= r["err_micros"] <= 3 * 1e6 * (20.0 / 255) ** 2 + 3


def test_quantize_int8_constant_dimension_is_zero(spark):
    df = spark.createDataFrame(
        [(1, [5.0, 1.0]), (2, [5.0, 2.0])],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["codes"] for r in sim.quantize_int8(df).collect()}
    assert got[1][0] == 0 and got[2][0] == 0     # zero-range dim → code 0


def test_tfidf_keywords_ranks_rare_terms_first(spark):
    from etl_evm_chain_spark.functions.text import tfidf_keywords

    rows = [
        (1, "shared shared rare1 rare1 rare1"),
        (2, "shared unique2"),
        (3, "shared filler filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): (r["term"], r["score_micros"])
           for r in tfidf_keywords(docs, k=2).collect()}
    # "shared" appears in every doc → idf = ln(1) = 0 → never ranks
    # above any doc-local term.
    assert got[(1, 1)][0] == "rare1"
    assert got[(2, 1)][0] == "unique2"
    assert got[(3, 1)][0] == "filler"
    # df=1 terms score tf·ln(3); tf=3 beats tf=1
    import math
    assert got[(1, 1)][1] == math.floor(3 * math.log(3.0) * 1e6)
    assert got[(3, 1)][1] == math.floor(2 * math.log(3.0) * 1e6)


def test_cosine_arrow_bit_parity_with_hof_fold(spark):
    """cosine_arrow must be BIT-identical to functions.vectors.cosine
    (same sequential fold, same division structure) including the
    NULL cases: NULL input, zero norm, mismatched lengths, empty
    arrays — and NaN from the kernel must cross the Arrow boundary as
    NULL, never as a NaN that would sort FIRST under desc()."""
    import struct

    from etl_evm_chain_spark.functions.vectors import cosine

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
        (3, None, [1.0, 2.0, 3.0]),
        (4, [1.0, 2.0], [1.0, 2.0, 3.0]),
        (5, [0.1] * 64, [0.30000001] * 64),
        (6, [], []),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select("id", cosine("a", "b").alias("hof"),
                    sim.cosine_arrow("a", "b").alias("arw")).collect()
    for r in out:
        h, w = r["hof"], r["arw"]
        if h is None:
            assert w is None, r
        else:
            assert w is not None and \
                struct.pack("d", h) == struct.pack("d", w), r


def test_semantic_dedup_drops_higher_id_twin(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),      # exact twin of 1 → dropped
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal → kept
        (4, [0.99, 0.1, 0.0, 0.0]),     # near-twin of 1 → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["is_kept"]
           for r in sim.semantic_dedup(df, n_cells=2, threshold=0.9).collect()}
    assert got[1] == 1                  # lowest id of the group survives
    assert got[2] == 0
    assert got[3] == 1
    assert got[4] == 0
    assert len(got) == 4                # every input row classified


def test_span_dup_stats_counts_cross_doc_instances_only(spark):
    rows = [
        (1, "a b c d e f"),        # grams: "a b c d e", "b c d e f"
        (2, "a b c d e x"),        # shares "a b c d e" with doc 1
        (3, "z z z z z z z"),      # 3 identical grams, but single-doc
        (4, "short"),              # < k tokens → no grams, no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dd.span_dup_stats(docs, k=5).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_grams"] == 2 and got[1]["n_dup_grams"] == 1
    assert got[1]["n_distinct_grams"] == 2 and got[1]["n_dup_distinct"] == 1
    assert got[1]["dup_ratio"] == 0.5
    assert got[2]["n_dup_grams"] == 1
    # within-doc repetition is NOT a cross-doc dup
    assert got[3]["n_grams"] == 3 and got[3]["n_dup_grams"] == 0
    assert got[3]["n_distinct_grams"] == 1 and got[3]["dup_ratio"] == 0.0


def test_knn_classify_separable_clusters(spark):
    # two tight clusters in 2-D: label 0 near (1,0), label 1 near (0,1);
    # LOO 3-NN classifies every vector correctly.
    rows = []
    for i, eps in enumerate([0.00, 0.01, 0.02, 0.03]):
        rows.append((i, [1.0, eps], 0))
        rows.append((10 + i, [eps, 1.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in sim.knn_classify(emb, k=3).collect()}
    assert got[0]["n"] == 4 and got[0]["n_correct"] == 4
    assert got[1]["n"] == 4 and got[1]["n_correct"] == 4
    assert got[0]["accuracy_micro"] == 1_000_000


def test_knn_classify_vote_tie_breaks_to_smallest_label(spark):
    # query 0's 2 nearest neighbors have labels 1 and 2 (one vote
    # each): the tie must resolve to label 1, a miss for true label 2.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 2),
            (1, [1.0, 0.01], 1),
            (2, [1.0, -0.01], 2),
            (3, [0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r
           for r in sim.knn_classify(emb, k=2).collect()}
    # query 0: neighbors {1 (label 1), 2 (label 2)} → tie → pred 1 ≠ 2
    assert got[2]["n_correct"] < got[2]["n"]


def test_pq_recall_against_brute_force(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=10).collect()
    approx = sim.pq_topk(emb, queries, k=10).collect()
    exact_set = {(r["qid"], r["cid"]) for r in exact}
    approx_set = {(r["qid"], r["cid"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # uniform-random embeddings are PQ's hardest case; the round-7
    # 32×256 geometry lands ~0.8 at k=10 here (deterministic) — the
    # tight k=5 floor lives in test_tuned_geometry_recall_floors
    assert recall >= 0.7, f"recall {recall:.2f}"
    # exactly k rows per query, ranks contiguous from 1
    from collections import Counter
    per_q = Counter(r["qid"] for r in approx)
    assert all(v == 10 for v in per_q.values())
    assert all(-1.0001 <= r["sim"] <= 1.0001 for r in approx)


def test_pq_topk_excludes_self_and_is_deterministic(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    a = sim.pq_topk(emb, queries, k=5).orderBy("qid", "rank").collect()
    b = sim.pq_topk(emb, queries, k=5).orderBy("qid", "rank").collect()
    assert a == b                       # sampled codebooks are stable
    assert all(r["qid"] != r["cid"] for r in a)


def test_ivfpq_full_probe_equals_pq(spark):
    """With every cell probed the IVF layer prunes nothing, so the
    composed operator must return EXACTLY pq_topk's rows — same
    codebooks, same ADC math, same ranking; the coarse quantizer only
    ever removes candidates, never rescores them."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    a = sim.ivfpq_topk(emb, queries, k=5, n_probe=sim.IVF_CELLS) \
        .orderBy("qid", "rank").collect()
    b = sim.pq_topk(emb, queries, k=5).orderBy("qid", "rank").collect()
    assert a == b


def test_ivfpq_excludes_self_and_is_deterministic(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    a = sim.ivfpq_topk(emb, queries, k=5).orderBy("qid", "rank").collect()
    b = sim.ivfpq_topk(emb.repartition(7), queries, k=5) \
        .orderBy("qid", "rank").collect()
    assert a == b                   # partitioning-independent
    assert all(r["qid"] != r["cid"] for r in a)
    for qid in range(5):
        ranks = sorted(r["rank"] for r in a if r["qid"] == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_ivfpq_clustered_data_high_recall_at_low_probe(spark):
    """The IVF thesis: on CLUSTERED embeddings (the 100 TB reality —
    the uniform fixture is the adversarial case) a pruned probe finds
    essentially everything, because neighbors share coarse cells.
    Four well-separated orthant clusters, 8 cells, probe 2, soft
    assign 2: recall measured 1.00 (deterministic — seeded corpus,
    hash-picked centroids/codebooks); floored at 0.95."""
    import random

    rng = random.Random(7)
    rows = []
    for cid in range(4):
        base = [(1.0 if (d // 16) == cid else 0.05) for d in range(64)]
        for i in range(50):
            rows.append((cid * 50 + i,
                         [b + rng.uniform(-0.02, 0.02) for b in base],
                         cid))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") % 25 == 0)   # 2 queries per cluster
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, q, k=3).collect()}
    got = {(r["qid"], r["cid"])
           for r in sim.ivfpq_topk(emb, q, k=3, n_cells=8, n_probe=2,
                                   n_assign=2).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.95, f"clustered recall {recall:.2f}"


def test_ivfpq_residual_path_shape_and_determinism(spark):
    """The residual (IVFADC) scoring path: valid ranked shape, self
    excluded, partitioning-independent, and its documented
    honest-negative floor (sampled codebooks make residual coding
    equal-or-worse — measured 0.38 vs plain's 1.00 on the clustered
    corpus at 32x256; the floor below catches total breakage, NOT a
    claim that residual wins). train_iter=0 pins the SAMPLED path:
    on THIS fixture the residuals are pure ±0.02 noise by
    construction, so Lloyd training correctly averages the books
    toward zero and every candidate ties (measured 0.08) — the
    trained-residual win needs residuals that carry signal, which
    the real-embedding fixtures show (see
    test_trained_books_beat_sampled)."""
    import random

    rng = random.Random(7)
    rows = []
    for cid in range(4):
        base = [(1.0 if (d // 16) == cid else 0.05) for d in range(64)]
        for i in range(50):
            rows.append((cid * 50 + i,
                         [b + rng.uniform(-0.02, 0.02) for b in base],
                         cid))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    a = sim.ivfpq_topk(emb, q, k=3, n_cells=8, n_probe=2, n_assign=2,
                       residual=True, train_iter=0) \
        .orderBy("qid", "rank").collect()
    b = sim.ivfpq_topk(emb.repartition(7), q, k=3, n_cells=8,
                       n_probe=2, n_assign=2, residual=True,
                       train_iter=0) \
        .orderBy("qid", "rank").collect()
    assert a == b
    assert all(r["qid"] != r["cid"] for r in a)
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, q, k=3).collect()}
    got = {(r["qid"], r["cid"]) for r in a}
    assert len(exact & got) / len(exact) >= 0.3


def test_pq_and_ivfpq_exclude_null_vectors(spark):
    """A NULL embedding can neither be encoded nor probe: both code
    paths must silently exclude such rows (the update_ann_index rule)
    instead of crashing the Arrow kernel's np.stack, and results over
    the remaining rows must equal the pre-filtered run."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    dirty = emb.unionByName(
        spark.createDataFrame([(100001, None, 0), (100002, None, 0)],
                              emb.schema))
    queries = dirty.filter(
        (F.col("vec_id") < 3) | (F.col("vec_id") == 100001))
    for fn in (sim.pq_topk, sim.ivfpq_topk):
        got = fn(dirty, queries, k=5).collect()
        want = fn(emb, queries.filter(F.col("vec_id") < 3), k=5).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert all(r["qid"] != 100001 and r["cid"] < 100001 for r in got)
    # nothing left to score on either side: an empty result, not a
    # crash (the update_*_index empty-batch rule)
    nulls = dirty.filter(F.col("vec_id") > 100000)
    for fn in (sim.pq_topk, sim.ivfpq_topk):
        for corpus, q in ((emb, nulls), (emb, nulls.limit(0)),
                          (nulls, queries), (emb.limit(0), queries)):
            got = fn(corpus, q, k=5)
            assert got.columns == ["qid", "cid", "sim", "rank"]
            assert got.collect() == []


def test_pq_topk_chunked_equals_one_shot(spark):
    """The unbounded-query-set path (encode once, stream the query
    set in driver-bounded chunks) must return BIT-IDENTICAL rows to
    the one-shot broadcast path — same codebooks, same ADC math, the
    chunks merely partition the query set. query_chunk=7 over 40
    queries forces 6 hash-sliced chunks through pq_encode."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    one = sim.pq_topk(emb, queries, k=5).orderBy("qid", "rank").collect()
    chunked = sim.pq_topk(emb, queries, k=5, query_chunk=7) \
        .orderBy("qid", "rank").collect()
    assert chunked == one
    assert len({r["qid"] for r in chunked}) == 40


def test_near_dup_bucketed_no_false_positives_and_recall(spark):
    # Force the auto-router past a tiny guard: 500 fixture vectors > 100
    # routes to the banded-LSH bucketed kernel. Every emitted pair must
    # be a true pair with the exact sim (per-bucket kernel is exact);
    # recall vs all-pairs is pinned.
    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in sim.cosine_near_dup_pairs(
                 emb, threshold=0.4, method="exact").collect()}
    bucketed = {(r["id_a"], r["id_b"]): r["sim"]
                for r in sim.cosine_near_dup_pairs(
                    emb, threshold=0.4, max_broadcast_rows=100).collect()}
    assert set(bucketed) <= set(exact)            # no false positives
    for pair, s in bucketed.items():
        assert abs(s - exact[pair]) < 1e-6        # exact sims per pair
    recall = len(bucketed) / len(exact)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_lsh_buckets_wide_dim_matches_reference_fold(spark):
    # Realistic embedding widths (384/768/1536) exceed the old 256-plane
    # cache base; the kernel must extend the md5 sign planes instead of
    # raising (ADVICE r3), and the buckets must equal an independent
    # pure-python recomputation of the sequential-fold formula.
    import hashlib

    import numpy as np

    dim = 384
    rng = [[((i * 31 + j * 7) % 17 - 8) / 8.0 for j in range(dim)]
           for i in range(6)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["bucket"]
           for r in sim.lsh_buckets(emb, n_planes=8).collect()}

    def sign(p, i):
        h = int(hashlib.md5(f"pl:{p}:{i}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 0 else -1.0

    for vid, vec in enumerate(rng):
        v32 = np.asarray(vec, dtype=np.float32).astype(np.float64)
        want = 0
        for p in range(8):
            acc = 0.0
            for i, x in enumerate(v32):
                acc += x * sign(p, i)
            if acc > 0:
                want |= 1 << p
        assert got[vid] == want


def test_near_dup_exact_method_still_raises_past_guard(spark):
    import pytest

    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(Exception, match="broadcast guard"):
        sim.cosine_near_dup_pairs(emb, threshold=0.4,
                                  max_broadcast_rows=100,
                                  method="exact").collect()


def test_knn_bucketed_matches_exact_on_separable_clusters(spark):
    # Same fixture as the exact-kernel test: with cells covering the two
    # clusters the bucketed path must reproduce perfect LOO accuracy.
    rows = []
    for i, eps in enumerate([0.00, 0.01, 0.02, 0.03]):
        rows.append((i, [1.0, eps], 0))
        rows.append((10 + i, [eps, 1.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r
           for r in sim.knn_classify(emb, k=3, method="bucketed").collect()}
    assert got[0]["n"] == 4 and got[0]["n_correct"] == 4
    assert got[1]["n"] == 4 and got[1]["n_correct"] == 4
    assert got[0]["accuracy_micro"] == 1_000_000


def test_knn_auto_routes_past_guard_and_agrees(spark):
    # 500-row fixture with a tiny guard exercises the router end-to-end;
    # per-label accuracies must stay close to the exact kernel's (IVF
    # probing is approximate but labels here are what's being probed).
    emb = load_table(spark, SF_SMALL, "embeddings")
    labeled = emb.withColumn("label",
                             (F.col("vec_id") % 3).cast("int"))
    exact = {r["label"]: r["n_correct"]
             for r in sim.knn_classify(labeled, k=5,
                                       method="exact").collect()}
    routed = {r["label"]: r["n_correct"]
              for r in sim.knn_classify(labeled, k=5,
                                        max_broadcast_rows=100).collect()}
    assert set(routed) == set(exact)
    # random labels → accuracy itself is chance; what we pin is that the
    # bucketed path produces a prediction for every vector
    total_routed = sum(r["n"] for r in sim.knn_classify(
        labeled, k=5, max_broadcast_rows=100).collect())
    assert total_routed == 500


def test_kmeans_ivf_beats_or_matches_hash_centroids(spark):
    # classical IVF (trained spherical k-means centers) must not lose
    # recall vs the deterministic hash-sampled pick on the fixture
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, queries, k=5).collect()}
    km = {(r["qid"], r["cid"])
          for r in sim.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4,
                                centroids="kmeans").collect()}
    hs = {(r["qid"], r["cid"])
          for r in sim.ivf_topk(emb, queries, k=5, n_cells=16,
                                n_probe=4).collect()}
    km_recall = len(exact & km) / len(exact)
    hash_recall = len(exact & hs) / len(exact)
    assert km_recall >= 0.4, f"kmeans recall {km_recall:.2f}"
    assert km_recall >= hash_recall - 0.05   # never materially worse


def test_dup_spans_extracts_maximal_shared_run(spark):
    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, f"{shared} unique1a unique1b unique1c"),
         (2, f"prefix2a prefix2b {shared}"),
         (3, "totally different words with no overlap at all whatsoever")],
        "doc_id long, text string")
    out = dd.dup_spans(docs, k=3, min_df=2, min_tokens=5)
    spans = {r["doc_id"]: (r["start_tok"], r["end_tok"], r["len_toks"])
             for r in out.collect()}
    # the 10-token shared run is maximal in both docs, nothing in doc 3
    assert spans[1] == (0, 9, 10)
    assert spans[2] == (2, 11, 10)
    assert 3 not in spans


def test_dup_spans_splits_on_gap(spark):
    a = "one two three four five"
    b = "six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, f"{a} GAPX {b}"),
         (2, f"{a} other words here {b}")],
        "doc_id long, text string")
    out = dd.dup_spans(docs, k=2, min_df=2, min_tokens=3)
    spans = sorted((r["start_tok"], r["end_tok"])
                   for r in out.filter(F.col("doc_id") == 1).collect())
    assert spans == [(0, 4), (6, 10)]  # two islands, the gap breaks the run


def test_incremental_near_dup_index_matches_one_shot(spark, tmp_path):
    idx = str(tmp_path / "lsh_index")
    all_docs = _docs(spark)
    batch1 = all_docs.filter(F.col("doc_id") <= 3)
    batch2 = all_docs.filter(F.col("doc_id") > 3)

    p1 = dd.update_near_dup_index(spark, batch1, idx)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in p1.collect()}
    p2 = dd.update_near_dup_index(spark, batch2, idx)
    for r in p2.collect():
        got[(r["id_a"], r["id_b"])] = r["est_jaccard"]

    one_shot = {(r["id_a"], r["id_b"]): r["est_jaccard"]
                for r in dd.lsh_candidate_pairs(
                    dd.minhash_signatures(all_docs)).collect()}
    assert got == one_shot
    assert (1, 2) in got and got[(1, 2)] == 1.0


def test_near_dup_index_replay_is_idempotent(spark, tmp_path):
    """A retried batch with the same batch_id must overwrite its own
    partition directory, not append a second copy (at-least-once
    foreachBatch replays)."""
    idx = str(tmp_path / "lsh_index")
    docs = _docs(spark)
    dd.update_near_dup_index(spark, docs, idx, batch_id="day1").collect()
    n1 = spark.read.parquet(idx).count()
    # replay the same batch — index must not grow, pairs unchanged
    p_replay = dd.update_near_dup_index(
        spark, docs, idx, batch_id="day1")
    pairs = {(r["id_a"], r["id_b"]) for r in p_replay.collect()}
    assert spark.read.parquet(idx).count() == n1
    one_shot = {(r["id_a"], r["id_b"]) for r in dd.lsh_candidate_pairs(
        dd.minhash_signatures(docs)).collect()}
    assert pairs == one_shot
    # the landed layout is physically partitioned by batch then band
    import os
    sub = os.listdir(idx)
    assert any(d.startswith("batch_id=b") for d in sub)
    bdir = os.path.join(idx, "batch_id=bday1")
    assert any(d.startswith("band=") for d in os.listdir(bdir))


def test_quality_filter_separates_constructed_corpus(spark):
    from etl_evm_chain_spark.operators import mlplane as ml

    # positives: natural-ish English (stopword-rich, normal word len);
    # negatives: junky strings (no stopwords, long tokens, punct-heavy)
    good = ("the quick brown fox and the lazy dog walk to the park "
            "in a sunny day of the spring and all of it is fine")
    bad = "zzzzqqqq!!!! xxxxyyyyzzzz@@@@ qwertyuiopasdfgh 0x1234abcd!!!"
    rows = [(i, f"{good} variant {i}", 1) for i in range(40)] + \
           [(100 + i, f"{bad} {i}!!!", 0) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, seed int")

    model, scored = ml.train_quality_filter(
        docs, positive=F.col("seed") == 1)
    agg = {r["y"]: r for r in
           scored.groupBy("y").agg(
               F.avg("p_keep").alias("p"),
               F.avg(F.col("pred").cast("double")).alias("acc1")).collect()}
    assert agg[1]["p"] > 0.9 and agg[0]["p"] < 0.1
    assert agg[1]["acc1"] == 1.0 and agg[0]["acc1"] == 0.0


def test_incremental_ann_index_matches_one_shot(spark, tmp_path):
    idx = str(tmp_path / "ann_index")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)

    r1 = sim.update_ann_index(spark, b1, idx, k=3)
    assert r1.count() > 0                      # batch-1 self neighbors
    r2 = sim.update_ann_index(spark, b2, idx, k=3).collect()
    # batch-2 queries must see batch-1 vectors through the index
    cids = {r["cid"] for r in r2}
    assert any(c % 2 == 0 for c in cids)

    # equivalence: re-running the probe for batch-2 against a one-shot
    # assignment with the SAME frozen centroids (and the library's
    # soft-assignment count) gives identical pairs
    cents = spark.read.parquet(idx + "/centroids")
    assigned = sim._nearest_cells(emb, cents, "vec_id", "embedding",
                                  sim.IVF_ASSIGN) \
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cvec"), "cell")
    probed = sim._nearest_cells(b2, cents, "vec_id", "embedding", 4) \
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"), "cell")
    from pyspark.sql import Window

    from etl_evm_chain_spark.functions.vectors import cosine
    scored = (assigned.join(F.broadcast(probed), "cell")
              .filter(F.col("qid") != F.col("cid"))
              .dropDuplicates(["qid", "cid"])
              .withColumn("sim", cosine("qvec", "cvec")))
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    want = {(r["qid"], r["cid"], r["rank"]) for r in
            scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= 3).collect()}
    got = {(r["qid"], r["cid"], r["rank"]) for r in r2}
    assert got == want


def test_resolve_duplicates_string_ids_converge(spark):
    """The convergence fingerprint must work for non-numeric ids — a
    decimal cast of a string label is NULL and NULL==NULL would stop
    propagation after one round (round-4 review fix). Chain a-b-c-d-e
    needs >1 round to collapse to 'a'."""
    ids = spark.createDataFrame(
        [(x,) for x in "abcdef"], "doc_id string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string")
    out = {r.doc_id: r.canonical
           for r in dd.resolve_duplicates(ids, pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                   "f": "f"}


def test_update_near_dup_index_empty_first_batch(spark, tmp_path):
    """An empty micro-batch must return an empty pair set, not crash
    schema inference on a data-less index directory (round-4 review
    fix), and must not poison the index for later batches."""
    idx = str(tmp_path / "idx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = dd.update_near_dup_index(spark, empty, idx, batch_id="e0")
    assert out.count() == 0
    docs = _docs(spark)
    out2 = dd.update_near_dup_index(spark, docs, idx, batch_id="b1")
    assert out2.count() > 0


def test_simhash_rejects_unsafe_bits(spark):
    import pytest

    with pytest.raises(ValueError, match="bits"):
        dd.simhash(_docs(spark), bits=62)


def test_banded_rejects_indivisible_bands(spark):
    import pytest

    sig = dd.minhash_signatures(_docs(spark))
    with pytest.raises(ValueError, match="divide"):
        dd.lsh_candidate_pairs(sig, k=8, bands=3)


def test_ann_index_replay_is_idempotent(spark, tmp_path):
    """A replayed batch (same batch_id) must overwrite its own epoch
    partition, not append a duplicate copy that returns every
    neighbor twice and crowds real results out of top-k."""
    idx = str(tmp_path / "ann_replay")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)

    sim.update_ann_index(spark, b1, idx, k=3, batch_id="0")
    first = {(r["qid"], r["cid"], r["rank"]) for r in
             sim.update_ann_index(spark, b2, idx, k=3,
                                  batch_id="1").collect()}
    n_rows = spark.read.parquet(idx + "/cells").count()
    replay = {(r["qid"], r["cid"], r["rank"]) for r in
              sim.update_ann_index(spark, b2, idx, k=3,
                                   batch_id="1").collect()}
    assert replay == first
    assert spark.read.parquet(idx + "/cells").count() == n_rows
    # no duplicate (qid, cid) pairs anywhere in the probe output
    assert len({(q, c) for q, c, _ in replay}) == len(replay)


def test_ann_index_ignores_torn_batch_dirs(spark, tmp_path):
    """A crashed batch write (cell files landed, no _SUCCESS) must be
    invisible to other batches' probes until its replay commits it."""
    import os
    import shutil

    idx = str(tmp_path / "ann_torn")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    sim.update_ann_index(spark, b1, idx, k=3, batch_id="0")

    # simulate the torn write: land batch 1's assignments then strip
    # the commit marker
    sim.update_ann_index(spark, b2, idx, k=3, batch_id="1")
    torn = f"{idx}/cells/batch_id=b1"
    os.remove(os.path.join(torn, "_SUCCESS"))

    b3 = emb.filter(F.col("vec_id") % 2 == 0).limit(20)
    r3 = sim.update_ann_index(spark, b3, idx, k=3, batch_id="2").collect()
    assert all(r["cid"] % 2 == 0 for r in r3)   # torn odd ids invisible

    # replay of batch 1 re-commits it; now its vectors are probe-able
    shutil.rmtree(torn)
    sim.update_ann_index(spark, b2, idx, k=3, batch_id="1")
    r4 = sim.update_ann_index(spark, b3, idx, k=3, batch_id="2").collect()
    assert any(r["cid"] % 2 == 1 for r in r4)


def test_lloyd_kmeans_partition_independent(spark):
    """The q128 determinism claim, tested head-on: the SAME corpus
    through Lloyd's under radically different partitionings yields
    BIT-identical assignments and cosines (the decimal component sums
    are fold-order-free; everything else is per-row IEEE) — the
    property pyspark.ml's seeded k-means|| does not have."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    a = sim.lloyd_kmeans(emb.repartition(1), k=4, n_iter=2).collect()
    b = sim.lloyd_kmeans(emb.repartition(13, "vec_id"), k=4,
                         n_iter=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0 and len({r["cell"] for r in a}) > 1


def test_lloyd_kmeans_excludes_null_and_zero_vectors(spark):
    """NULL, zero-norm, and NON-FINITE vectors can neither seed nor
    join a cluster (cosine undefined); they are excluded, not
    NULL-poisoned. The NaN case is load-bearing: Spark's NaN-greatest
    ordering makes `NaN > 0` TRUE, so a bare norm filter would let a
    NaN vector crash the decimal update or silently diverge from the
    numpy oracle twin (where NaN > 0 is False)."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None),
            (4, [0.0, 0.0]), (5, [0.0, 1.0]),
            (6, [float("nan"), 1.0]), (7, [float("inf"), 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.lloyd_kmeans(df, k=2, n_iter=2).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2, 5]
    # 1 and 2 cluster together, 5 apart (orthogonal)
    cells = {r["vec_id"]: r["cell"] for r in out}
    assert cells[1] == cells[2] != cells[5]


def test_ivf_topk_lloyd_centroids(spark):
    """ivf_topk(centroids='lloyd') plugs the deterministic Lloyd
    quantizer into the unchanged IVF plan: proper top-k shape, every
    query served, and repeat runs bit-identical (the trained-quantizer
    property pyspark.ml's seeded path cannot give across engines)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = sim.ivf_topk(emb, q, k=3, n_cells=4, n_probe=2,
                     centroids="lloyd").collect()
    b = sim.ivf_topk(emb.repartition(7), q, k=3, n_cells=4, n_probe=2,
                     centroids="lloyd").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["qid"] for r in a} == {0, 1, 2}
    for r in a:
        assert 1 <= r["rank"] <= 3 and r["qid"] != r["cid"]


def test_ivfpq_chunked_queries_equal_one_shot(spark):
    """Past query_chunk queries, ivfpq streams the query set through
    driver-bounded xxhash chunks (the pq_topk round-8 switch) — the
    result must be bit-identical to the one-shot path, including the
    cross-partition replica dedup."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 12)
    one = sorted(tuple(r) for r in
                 sim.ivfpq_topk(emb, q, k=3).collect())
    chunked = sorted(tuple(r) for r in
                     sim.ivfpq_topk(emb, q, k=3,
                                    query_chunk=5).collect())
    assert one == chunked and one


def test_ivfpq_residual_chunked_queries_equal_one_shot(spark):
    """The residual IVFADC path was the one remaining unchunked query
    collect (r8 verdict): past query_chunk queries it must stream the
    set through the same driver-bounded xxhash chunks and return
    bit-identical rows to its one-shot run — including the exact
    ⟨q, centroid⟩ base term and max-sim replica dedup."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 12)
    one = sorted(tuple(r) for r in
                 sim.ivfpq_topk(emb, q, k=3, residual=True).collect())
    chunked = sorted(tuple(r) for r in
                     sim.ivfpq_topk(emb, q, k=3, residual=True,
                                    query_chunk=5).collect())
    assert one == chunked and one


def test_ann_index_rejects_changed_n_assign(spark, tmp_path):
    """n_assign is an index-time property frozen like the quantizer:
    extending a 2-assignment index with 1-assignment batches would
    mix row multiplicities and silently lower old vectors' recall —
    the operator must refuse loudly."""
    import pytest

    idx = str(tmp_path / "ann_geom")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    sim.update_ann_index(spark, b1, idx, k=3, n_assign=2).count()
    with pytest.raises(ValueError, match="n_assign"):
        sim.update_ann_index(spark, b2, idx, k=3, n_assign=1)
    # the matching geometry still extends
    assert sim.update_ann_index(spark, b2, idx, k=3,
                                n_assign=2).count() > 0


def test_pq_train_books_matches_numpy_twin(spark):
    """The distributed Lloyd codebook trainer is bit-identical to the
    oracle's single-process Decimal replay AND partitioning-independent
    (the decimal(38,18) fold-order-free update — same protocol as
    _lloyd_fit / lloyd_kmeans_truth)."""
    import duckdb
    import numpy as np

    from etl_evm_chain_spark.plans.groundtruth import (_hash15,
                                                       _train_books_np)

    emb = load_table(spark, SF_SMALL, "embeddings")
    b_spark = sim.pq_train_books(emb, n_iter=2)
    b_rep = sim.pq_train_books(emb.repartition(7), n_iter=2)
    assert np.array_equal(b_spark, b_rep)

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet' "
        "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    hs = np.array([_hash15(f"pq:{i}") for i in ids])
    order = np.argsort(hs, kind="mergesort")[:sim.PQ_CENTS]
    seed = mat[order].reshape(
        len(order), sim.PQ_SUB, mat.shape[1] // sim.PQ_SUB) \
        .transpose(1, 0, 2)
    assert np.array_equal(b_spark, _train_books_np(mat, seed, 2))


def test_trained_books_beat_sampled(spark):
    """The round-8 retune claim, pinned: on the real-embedding
    fixture Lloyd-trained codebooks STRICTLY beat the sampled pick
    for both PQ and IVF-PQ (deterministic — measured pq .872→.912,
    ivfpq .808→.856 recall@5 on 25 queries at sf0.001). Guards the
    default flip: if a future change makes training a no-op (or
    regresses it to the sampled floor), this fails before the q126
    gate ever sees it."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 25)
    exact = {(r["qid"], r["cid"])
             for r in sim.brute_force_topk(emb, q, k=5).collect()}

    def rec(df):
        got = {(r["qid"], r["cid"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    for fn in (sim.pq_topk, sim.ivfpq_topk):
        sampled = rec(fn(emb, q, k=5, train_iter=0))
        trained = rec(fn(emb, q, k=5))   # default = PQ_TRAIN_ITER
        assert trained > sampled, (fn.__name__, trained, sampled)


def test_pq_train_books_residual_mode(spark):
    """coarse=<centroids> trains over the per-replica residual
    distribution: same (n_sub, n_cents, sub_d) shape, differs from
    the raw-subvector books, and is partitioning-independent."""
    import numpy as np

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = sim._ivf_centroids(emb, "vec_id", "embedding", 8,
                               salt="ipq:")
    plain = sim.pq_train_books(emb, n_iter=1)
    resid = sim.pq_train_books(emb, n_iter=1, coarse=cents, n_assign=2)
    resid_rep = sim.pq_train_books(emb.repartition(5), n_iter=1,
                                   coarse=cents, n_assign=2)
    assert plain.shape == resid.shape
    assert not np.array_equal(plain, resid)
    assert np.array_equal(resid, resid_rep)


def _per_element_centroid_twin(corpus, vec_col, cents):
    """The per-element literal construction of the centroid relation
    (one ``F.lit(x).cast(...)`` per value) that ``_centroid_relation``
    replaced: the reference for its schema and bits."""
    from pyspark.sql import types as T

    from etl_evm_chain_spark.catalog import literal_df

    schema = T.StructType([
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("cvec_cent", corpus.schema[vec_col].dataType, False),
    ])
    return literal_df(corpus.sparkSession,
                      [(i, [float(x) for x in c])
                       for i, c in enumerate(cents)], schema)


def test_centroid_relation_matches_per_element_literals(spark):
    """The one-literal centroid relation equals the per-element
    literal one: the same schema, nullability included (the index
    writers land it on disk), and the same bits in every value, for
    float32 and float64 vector columns and for double centres the
    float32 cast must round (a tie to even, a subnormal, -0.0)."""
    import struct

    import numpy as np
    from pyspark.sql import types as T

    cents = (np.random.default_rng(3).standard_normal((6, 8)) / 3).tolist()
    cents[1][0] = -0.0
    cents[2][1] = 1e-40
    cents[3][2] = 1.0 + 2.0 ** -24
    for elem, fmt in ((T.FloatType(), "f"), (T.DoubleType(), "d")):
        for contains_null in (True, False):
            corpus = spark.createDataFrame([(1, [0.5] * 8)], T.StructType([
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(elem, contains_null)),
            ]))
            got = sim._centroid_relation(corpus, "embedding", cents)
            ref = _per_element_centroid_twin(corpus, "embedding", cents)
            assert got.schema == ref.schema

            def bits(df):
                return [(r["cell"], struct.pack(f"{len(r['cvec_cent'])}{fmt}",
                                                *r["cvec_cent"]))
                        for r in df.collect()]

            assert bits(got) == bits(ref)


def test_ivf_centroid_rows_equal_the_relation(spark):
    """The driver-held hash-sampled rows are what collecting the
    quantizer relation returns, so consumers may take either."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    rows = sim._ivf_centroid_rows(emb, "vec_id", "embedding", 16, "ipq:")
    rel = sim._ivf_centroids(emb, "vec_id", "embedding", 16, "ipq:")
    assert len(rows) == 16 and rows == rel.collect()


def _build_jobs(spark, build) -> int:
    """Spark jobs launched while ``build()`` constructs a plan."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_hash_quantizer_plans_build_without_centroid_round_trips(spark):
    """The hash-sampled quantizers rank against the rows their pick
    already collected: building ``ivf_topk`` runs exactly the pick's
    job and the bounded query head's, and ``ivfpq_topk`` with given
    books at most the pick plus its query probe (no centroid relation
    is collected back)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    books = sim._pq_books(emb, "vec_id", "embedding", sim.PQ_SUB,
                          sim.PQ_CENTS)
    assert _build_jobs(spark, lambda: sim.ivf_topk(emb, q, k=3)) == 2
    assert _build_jobs(
        spark, lambda: sim.ivfpq_topk(emb, q, k=3, books=books)) <= 2


def test_adc_query_chunks_rank_probes_on_the_driver(spark):
    """Each query chunk of the ADC engine ranks its probe cells on the
    driver from the rows it already collected, with no probe job. 12
    queries in three chunks: the residual path builds with at most 13
    jobs (a distributed probe per chunk would make it 16), plain
    ivfpq_topk with at most 14 and pq_topk with at most 12."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 12)
    kw = {"k": 3, "train_iter": 0, "query_chunk": 5}
    assert _build_jobs(spark, lambda: sim.ivfpq_topk(
        emb, q, residual=True, **kw)) <= 13
    assert _build_jobs(spark, lambda: sim.ivfpq_topk(emb, q, **kw)) <= 14
    assert _build_jobs(spark, lambda: sim.pq_topk(emb, q, **kw)) <= 12


def test_rerank_exact_recovers_brute_force_within_shortlist(spark):
    """Two-stage retrieval semantics: (a) reranking a WIDE ADC
    shortlist recovers the exact brute-force top-k whenever the true
    neighbors are inside it — the refine stage erases quantization
    error entirely; (b) rerank recall at equal k can never be below
    the unreranked ADC ranking's (it recomputes the same candidates
    exactly); (c) emitted sims are the true cosines, floor-quantized."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["qid"], r["cid"]): r["rank"]
             for r in sim.brute_force_topk(emb, queries, k=5).collect()}
    # a full-corpus "shortlist" (every candidate): rerank must equal
    # brute force outright, including sims
    every = (emb.crossJoin(queries.select(
        F.col("vec_id").alias("qid")))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid")))
    rr_full = {(r["qid"], r["cid"]): (r["rank"], r["sim"])
               for r in sim.rerank_exact(queries, emb, every,
                                         k=5).collect()}
    bf = {(r["qid"], r["cid"]): (r["rank"], r["sim"])
          for r in sim.brute_force_topk(emb, queries, k=5).collect()}
    # same pairs at the same ranks; sims agree to the micro-unit
    # (rerank FLOORS — the engine-portable ADC-family rule — while
    # brute_force_topk rounds, so the last digit may differ by one)
    assert {p: v[0] for p, v in rr_full.items()} \
        == {p: v[0] for p, v in bf.items()}
    assert all(abs(rr_full[p][1] - bf[p][1]) <= 1e-6 + 1e-12
               for p in bf)
    # realistic shortlist: PQ top-25 reranked -> recall at least the
    # unreranked PQ top-5's
    short = sim.pq_topk(emb, queries, k=25)
    rr = {(r["qid"], r["cid"])
          for r in sim.rerank_exact(queries, emb, short, k=5).collect()}
    pq5 = {(r["qid"], r["cid"])
           for r in sim.pq_topk(emb, queries, k=5).collect()}
    assert len(rr & set(exact)) >= len(pq5 & set(exact))


# ---------------------------------------------------------------------------
# The broadcast-query engine against the join forms it replaced. The
# twins below are those join forms, kept here (cosines through the HOF
# fold of functions.vectors, which cosine_arrow matches bit for bit).
# ---------------------------------------------------------------------------

def _rank_twin(scored, k):
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "cid", F.round("sim", 6).alias("sim"), "rank"))


def _brute_twin(corpus, queries, k):
    from etl_evm_chain_spark.functions.vectors import cosine

    q = queries.select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec"))
    c = corpus.select(F.col("vec_id").alias("cid"),
                      F.col("embedding").alias("cvec"))
    return _rank_twin(c.crossJoin(F.broadcast(q))
                      .filter(F.col("qid") != F.col("cid"))
                      .withColumn("sim", cosine("qvec", "cvec")), k)


def _ann_twin(corpus, queries, k):
    from etl_evm_chain_spark.functions.vectors import cosine

    def bands(df):
        return sim._banded_buckets(df, "vec_id", "embedding",
                                   sim.LSH_TABLES,
                                   sim.LSH_PLANES_PER_TABLE)
    c = bands(corpus).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"),
        F.col("tbl").alias("ctbl"), F.col("bucket").alias("cbucket"))
    q = bands(queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"),
        "tbl", F.col("bucket").alias("probe"))
    return _rank_twin(
        c.join(F.broadcast(q), (F.col("ctbl") == F.col("tbl"))
               & (F.col("cbucket") == F.col("probe")))
        .filter(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])
        .withColumn("sim", cosine("qvec", "cvec")), k)


def _ivf_twin(corpus, queries, k):
    cents = sim._ivf_centroid_rows(corpus, "vec_id", "embedding",
                                   sim.IVF_CELLS, salt="ivf:")
    assigned = sim._nearest_cells(corpus, cents, "vec_id", "embedding",
                                  sim.IVF_ASSIGN).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"),
        "cell")
    probed = sim._nearest_cells(queries, cents, "vec_id", "embedding",
                                sim.IVF_PROBE).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"),
        "cell")
    return sim._probe_score_topk(assigned, F.broadcast(probed), k)


def _ivfpq_twin(corpus, queries, k, books):
    corpus = corpus.filter(F.col("embedding").isNotNull())
    queries = queries.filter(F.col("embedding").isNotNull())
    cents = sim._ivf_centroid_rows(corpus, "vec_id", "embedding",
                                   sim.IVF_CELLS, salt="ipq:")
    acells = sim._nearest_cells(corpus, cents, "vec_id", "embedding",
                                sim.IVF_ASSIGN).select("vec_id", "cell")
    indexed = sim.pq_encode(corpus, books).join(acells, "vec_id")
    return sim._adc_topk(indexed, queries, books, id_col="vec_id",
                         vec_col="embedding", k=k,
                         cents=cents, n_probe=sim.IVF_PROBE)


def _python_nodes(df) -> int:
    """Python exec nodes of a DataFrame's physical plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if re.match(r"[\s:+\-|]*\w*(Python|Pandas|InArrow)", line))


def _edge_corpus(spark):
    """30 random 8-dim vectors plus a NULL, an empty, a zero and a
    length-mismatched vector, and a repeated id (a duplicate row)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)
                 .astype(np.float32)]) for i in range(30)]
    rows += [(30, None), (31, []), (32, [0.0] * 8), (33, [1.0, 2.0, 3.0]),
             rows[5]]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_broadcast_topk_matches_join_forms_on_edge_cases(spark):
    """brute/LSH/IVF/IVF-PQ one-shot return the join forms' rows bit
    for bit on NULL, empty, zero and length-mismatched vectors and a
    repeated id, with a NULL query and k past the candidate count,
    under two partitionings — each in ONE Python stage. IVF and
    IVF-PQ leave out the vectors their cell ranking and encoder
    reject in either form (mismatched; IVF-PQ also empty)."""
    full = _edge_corpus(spark)
    k = 40
    qsel = F.col("vec_id").isin(0, 1, 2, 3, 30)
    ivf_corpus = full.filter(F.col("vec_id") != 33)
    pq_corpus = ivf_corpus.filter(F.col("vec_id") != 31)
    books = sim._pq_books(pq_corpus, "vec_id", "embedding", 4, 8)
    cases = [
        ("brute", full, lambda c, q: sim.brute_force_topk(c, q, k=k),
         _brute_twin),
        ("lsh", full, lambda c, q: sim.ann_topk(c, q, k=k), _ann_twin),
        ("ivf", ivf_corpus, lambda c, q: sim.ivf_topk(c, q, k=k),
         _ivf_twin),
        ("ivfpq", pq_corpus,
         lambda c, q: sim.ivfpq_topk(c, q, k=k, books=books),
         lambda c, q, k: _ivfpq_twin(c, q, k, books)),
    ]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for name, corpus, new, twin in cases:
        queries = corpus.filter(qsel)
        for parts in (1, 7):
            c = corpus.repartition(parts)
            got = new(c, queries)
            assert _python_nodes(got) == 1, name
            want = rows(twin(c, queries, k))
            assert rows(got) == want and want, (name, parts)
        # the collected query rows are scored like the query relation
        assert rows(new(corpus, queries.collect())) == want, name


def test_pq_topk_dedups_repeated_ids_on_every_path(spark):
    """A corpus that repeats an id gives the same rows one-shot and
    chunked, with no repeated (qid, cid) pair."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    doubled = emb.unionByName(emb)
    q = emb.filter(F.col("vec_id") < 12)
    kw = {"k": 5, "train_iter": 0}
    one = sorted(tuple(r) for r in sim.pq_topk(doubled, q, **kw).collect())
    chunked = sorted(tuple(r) for r in
                     sim.pq_topk(doubled, q, query_chunk=5, **kw).collect())
    assert one == chunked and one
    assert len({(r[0], r[1]) for r in one}) == len(one)


def test_chunked_ivfpq_probe_keeps_cell_pruning(spark, tmp_path,
                                                monkeypatch):
    """A chunked probe of a landed IVF-PQ index scores each chunk off
    the cell-pruned parquet scan, not a pinned copy of every cell,
    and returns the one-shot rows."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = str(tmp_path / "ipq")
    sim.update_ivfpq_index(spark, emb, idx, k=3, batch_id="s1",
                           train_iter=0).collect()
    q = emb.filter(F.col("vec_id") < 4)
    one = sorted(tuple(r) for r in
                 sim.probe_ivfpq_index(spark, q, idx, k=3).collect())
    plans = []
    frame = type(emb)
    pin = frame.localCheckpoint

    def spy(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return pin(self, *a, **kw)

    monkeypatch.setattr(frame, "localCheckpoint", spy)
    chunked = sorted(tuple(r) for r in sim.probe_ivfpq_index(
        spark, q, idx, k=3, query_chunk=1).collect())
    assert chunked == one and one
    scored = [p for p in plans if "MapInPandas" in p]
    assert len(scored) == 4
    for p in scored:
        assert "PartitionFilters: [" in p and "cell" in p
        assert "Scan ExistingRDD" not in p


def test_workers_import_pyspark_outside_the_zip(spark):
    """Python workers of a get_spark session import the
    directory-installed pyspark, so the per-task importlib cache
    invalidation never re-reads a zip archive."""
    def probe(_):
        import sys
        import zipimport

        import pyspark

        return (pyspark.__file__,
                any(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values()))

    for path, has_zip in spark.sparkContext.parallelize([0], 1) \
            .map(probe).collect():
        assert ".zip" not in path and not has_zip

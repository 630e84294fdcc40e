"""Physical-plan audit: the ".explain until it's the plan you want"
loop, automated.

For every registered query, renders the formatted physical plan and
flags scale red-flags:

- CartesianProduct / BroadcastNestedLoopJoin — O(n²) pair explosion
  (allowed only where an operator is inherently all-pairs and
  documented as such).
- row-at-a-time PythonUDF (BatchEvalPython) — the slow path; Arrow
  (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas) is expected
  instead.
- parquet scans reading all columns where the query projects few
  (column pruning failure).
- missing WholeStageCodegen entirely.
- Window with an EMPTY partition spec ("No Partition Defined") — a
  single-partition sort of the window's whole input. Allowed only
  where the input is provably bounded (beneath a limit or a
  small-group aggregate) and documented.
- Window whose partition key is a LOW-CARDINALITY base column
  (catalog-measured distinct counts; VERDICT r3 blind spot): a window
  partitioned by, say, l_returnflag (3 values) funnels the input into
  three tasks — the same disease as an empty spec, just hidden behind
  a non-empty partition list. Flagged when every partition column
  resolves to a known base-table column and the product of their
  distinct counts is ≤ LOW_CARD_MAX; derived columns (bucket ids,
  bands, cells) are unknowable from the plan text and skip the check
  — the two-phase ranking kit exists precisely to put a derived
  high-cardinality key next to the low one.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Exit 1 if an unexpected red flag appears (ALLOW list documents the
accepted ones).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from etl_evm_chain_spark.plans.registry import all_specs  # noqa: E402
from etl_evm_chain_spark.session import get_spark  # noqa: E402

# Query → flags that are intentional there (with the reason documented
# in the query/operator docstring).
ALLOW: dict[str, set[str]] = {
    # ---- low_card_window allowances -------------------------------------
    # The flag means "window partitioned by an intrinsically-low-card
    # key"; it is ALLOWED only where the window's INPUT is bounded by
    # something other than data volume, so the per-key task never sees
    # 1/k of a 100 TB table:
    #  - resampled time-series queries (q17/q20/q21/q23/q94): the
    #    window input is the per-(event_type, time-bucket) resampled
    #    series — rows are bounded by calendar span × bucket
    #    granularity, not by fact-table size; the rolling/ffill/lead
    #    semantics are inherently sequential per series.
    #  - backtest/ML-plane queries (q24–q29): same per-bar series
    #    input; the FSM/EWM grouped-map state is the operator itself.
    #  - q58 top-k: phase-1 local truncation bounds the final per-group
    #    window input to ≤ k × partitions rows (operators/curation.
    #    topk_per_group docstring).
    "q17_asof_ffill": {"low_card_window"},
    "q20_rolling_zscore": {"low_card_window"},
    "q21_lead_label": {"low_card_window"},
    "q23_signal_gate": {"low_card_window"},
    "q94_range_frame_hourly": {"low_card_window"},
    "q58_topk_quality": {"low_card_window"},
    # ---------------------------------------------------------------------
    # grouped-map pandas state is the operator itself
    "q24_ewm_bias": {"pandas", "low_card_window"},
    "q25_backtest_pct": {"pandas", "low_card_window"},
    "q26_backtest_zscore": {"pandas", "low_card_window"},
    "q27_calendar_returns": {"pandas", "low_card_window"},
    "q28_ml_dataset": {"pandas"},
    "q29_ml_signals": {"pandas", "low_card_window"},
    "q39_embedding_near_dups": {"pandas"},  # broadcast-matrix BLAS kernel
    "q61_media_stats": {"pandas"},  # mapInPandas media decode IS the operator
    "q72_knn_classify": {"pandas"},  # broadcast-matrix BLAS kernel
    "q73_pq_topk": {"pandas"},  # PQ encode+ADC lookup BLAS kernel
    # composed IVF-PQ: one kernel assigns cells, encodes and scores
    # (candidates pruned to the broadcast queries' probed cells)
    "q134_ivfpq_topk": {"pandas"},
    # exact, LSH and IVF top-k: the one broadcast-query kernel keys,
    # looks up and scores the corpus against the broadcast query side
    # (exact sequential-fold parity with the SQL oracles)
    "q38_embedding_topk": {"pandas"},
    "q40_ann_topk": {"pandas"},
    "q42_ivf_topk": {"pandas"},
    # the recall gate COMPOSES the q38/q40/q42/q73 pipelines (their
    # kernels), plus the one-row n_exact crossJoin of its recall row
    "q126_ann_recall": {"nested_loop", "pandas"},
    # single-row broadcast of per-dimension stats / corpus count —
    # the scalar-subquery shape (1-row build side, no pair explosion)
    "q65_quantize_embeddings": {"nested_loop"},
    "q66_tfidf_keywords": {"nested_loop"},
    "q67_temperature_mix": {"nested_loop"},
    # Arrow cell-assignment kernel (the _nearest_cells IVF shape) +
    # per-cell grouped-map pair kernel — round-10 replaced the
    # broadcast-NLJ centroid crossJoin and the cell-bounded pair
    # equi-join with the vectorized fold-parity kernels
    "q68_semantic_dedup": {"pandas"},
    # round-9/10 Arrow gram-hash kernels (gram_hash_rows /
    # winnow_fingerprints / shingle_hashes): tokenize stays a JVM
    # column, the per-gram md5+hash15 runs vectorized in mapInPandas
    # (exact value parity documented on the kernels) — the narrow
    # map-only stage IS the operator
    "q34_minhash_signatures": {"pandas"},
    "q35_lsh_near_dups": {"pandas"},
    "q50_winnow_fingerprints": {"pandas"},
    "q60_ngram_jaccard": {"pandas"},
    "q63_decontaminate": {"pandas"},
    "q69_span_dedup": {"pandas"},
    "q79_bloom_candidates": {"pandas"},
    "q101_dup_spans": {"pandas"},
    "q102_quality_filter": {"pandas"},
    "q105_redact_contaminated": {"pandas"},
    "q123_curation_funnel": {"pandas"},
    "q131_neardup_envelope": {"pandas"},
    # 1-row regression-fit broadcast (the scalar-subquery shape, like
    # q65/q66/q67) joined back to the ≤ZIPF_TOPK relation
    "q76_zipf_slope": {"nested_loop"},
    # drift monitor: the keys×bins zero-fill spine (both sides bounded
    # by geometry, ≤ epochs·n_bins rows) and the 1-row baseline-total
    # broadcast (scalar-subquery shape) — nothing corpus-sized crosses
    "q132_quality_drift": {"nested_loop"},
    # 1-row corpus-total broadcast for the share column (scalar-
    # subquery shape; replaced the empty-partition window)
    "q81_dataset_card": {"nested_loop"},
    # ≤64-row (≤256 for q15) triangular prefix-sum self-join over the
    # bucket-counts relation + 1-row stats broadcasts — the two-phase
    # rank machinery that REPLACED these queries' global windows
    "q87_value_deciles": {"nested_loop"},
    "q15_time_split": {"nested_loop"},
    # per-(table,bucket) grouped-map BLAS kernel IS the operator
    "q96_bucketed_near_dups": {"pandas"},
    # secp256k1 recovery is per-row curve math — the Arrow UDF IS the
    # operator (bulk path = transactions dim join, documented)
    "q98_sender_recovery": {"pandas"},
    # n_cells-row broadcast centroid assignment + cogrouped per-cell
    # kernel (the IVF shape; candidates are cell-bounded)
    "q97_bucketed_knn": {"nested_loop", "pandas"},
    # BPE encode runs the merge loop per DISTINCT word (Zipf-bounded),
    # Arrow-batched — the sequential merge scan IS the operator; the
    # corpus only ever sees a hash join on the word column
    "q103_bpe_tokens": {"pandas"},
    # 1-row global min/max stats broadcast for the Morton quantizers
    # (scalar-subquery shape, like q65/q66/q67 — no pair explosion)
    "q116_zorder_cells": {"nested_loop"},
    # 1-row sketch-geometry assertion crossJoined into the estimate
    # (scalar-subquery shape; the sketch itself broadcasts as a
    # normal hash join on (depth, cell))
    "q117_cm_heavy_hitters": {"nested_loop"},
    # the q117 shapes one tier up, plus the 1-row depth-0 census
    # broadcast for the count-min bound column (scalar-subquery
    # shape; KMV/CM error arithmetic is per-row integer math)
    "q135_sketch_error_gate": {"nested_loop"},
    # the KMV ledger fold crossJoins its 1-row global geometry
    # assertion (the _cm_epoch_fold / cm_estimate scalar-subquery
    # shape); the folded relation is groups × kinds rows
    "q136_stream_kmv": {"nested_loop"},
    # same shapes as q117: the CM fold's and the estimate's 1-row
    # geometry assertions crossJoin into the plan
    "q137_stream_cm": {"nested_loop"},
}

# rdd_scan allowances: every localCheckpoint in a registry plan, with
# why the materialization is deliberate and what bounds its size.
_RDD_ALLOW = {
    # 1/16 md5 sample of lineitem, consumed 3x by the bucketed ranks —
    # bounded by the sampling modulus
    "q53_approx_stats",
    # ZIPF_TOPK-row frequency head pinned before the regression fit
    "q76_zipf_slope",
    # oriented edge list pinned before the wedge self-join (consumed
    # by both sides; |E|-bounded, the wedge fan-out happens after)
    "q114_copurchase_triangles",
    # depth-mode range assignment pinned so the census job and the
    # output job see the SAME sampled boundaries (corpus-sized, the
    # documented cost of equi-depth balance)
    "q120_budget_mix",
    # Pregel supersteps: |V|-sized rank relations pinned per iteration
    # to cut the 10-iteration lineage
    "q74_pagerank",
    # 64-row capped recovery slice pinned before ECDSA verification
    "q98_sender_recovery",
    # doc-bounded gram set pinned before the jaccard pair join
    "q60_ngram_jaccard",
    # depth-mode range assignment pinned (same reason as q120); the
    # ranked relation is the orders fact — the documented cost of
    # equi-depth balance under value skew (round-5 q87 rework)
    "q87_value_deciles",
    # ranking-kit phase-2 counts relation pinned for the broadcast
    # cardinality probe — bounded by groups × n_buckets rows
    "q59_pack_sequences",
    # same: kmv_sketch ranks per-(group, salt) hashes through the kit,
    # whose pinned counts relation is groups × n_buckets-bounded
    "q115_kmv_distinct",
    # the sketch gate runs q115's KMV build (same ranking-kit pin,
    # groups × n_buckets-bounded) next to the error arithmetic
    "q135_sketch_error_gate",
    # update_exact_dedup_index pins the batch fingerprint relation
    # (localCheckpoint) because three consumers share it — bounded by
    # the increment, the documented ledger reuse discipline
    "q122_compacted_exact_survivors",
    # the lifecycle result is pinned so a later invocation's
    # compaction GC can't delete directories a lazily-held plan still
    # references — pair set bounded by the increment
    "q121_compacted_lsh_pairs",
    # same pin discipline; k x |batch| rows
    "q125_compacted_ann_topk",
    # same pin discipline (q121/q125 — the result must not lazily
    # scan ledger code dirs a later compaction GC may delete); the
    # chunked ADC engine also pins its projected query slice. k x
    # |thin batch| rows
    "q141_compacted_pq_topk",
    # the landed IVF-PQ lifecycle: same pin discipline as q141 (the
    # probe-pruned top-k must not lazily scan ledger cell dirs a
    # later compaction GC may delete); k x |thin batch| rows
    "q142_compacted_ivfpq_topk",
    # its read-only serving probe: same pin discipline; k x |thin
    # query set| rows
    "q143_ivfpq_serving",
    # the IVF index's read-only serving probe: same pin discipline
    "q144_ann_serving",
    # two-stage serving: the ADC shortlist rides the same pinned
    # ledger scan; the rerank joins are shortlist-bounded
    "q145_ivfpq_reranked",
    # tombstone-delete lifecycle: same pin discipline (the probe
    # must not lazily scan dirs a later compaction GC may delete)
    "q146_ivfpq_deleted",
    # the recall gate pins the k x |queries|-row exact top-k set
    # (consumed twice: hit join + denominator) instead of re-running
    # the brute-force scan
    "q126_ann_recall",
    # Lloyd's pins the unit-vector relation once (consumed by every
    # assignment round and every update scan) — the documented
    # "persist the normalized corpus once" production shape
    "q128_lloyd_kmeans",
    # LPA pins the symmetrized edge relation and the per-round label
    # relation (the resolve_duplicates / q74 loop discipline: O(1)
    # lineage in rounds, |V|/|E|-bounded pins)
    "q129_label_propagation",
    # the disposition lake is a scratch-ledger lifecycle query: the
    # epoch bodies pin their stage survivors (ledger reuse
    # discipline) and the result pins before returning (never hand a
    # lazy plan over a mutable ledger to the caller)
    "q127_stream_dispositions",
    # streamed k-means lifecycle: the folded result pins before
    # returning (q121 discipline — never hand a lazy plan over a
    # mutable scratch ledger to the caller); k·dim-bounded rows
    "q130_stream_kmeans",
    # exact-Jaccard side reuses ngram_jaccard_pairs' pinned
    # doc-bounded gram index (the q60 allowance, one tier up)
    "q131_neardup_envelope",
    # streamed drift lifecycle: the TV result pins before returning
    # (q121 discipline — never hand a lazy plan over a mutable
    # scratch ledger to the caller); epochs-bounded rows
    "q133_stream_drift",
    # streamed KMV lifecycle: per-epoch sketch builds rank through
    # the kit (the q115 pin, batch-bounded) and the estimate result
    # pins before returning (q121 discipline); groups × kinds rows
    "q136_stream_kmv",
    # streamed CM lifecycle: the heavy-hitter result pins before
    # returning (q121 discipline); ≤ _CM_TOPK rows
    "q137_stream_cm",
    # streamed matview lifecycle: the finalized view pins before
    # returning (q121 discipline); |groups| rows
    "q138_stream_matview",
    # streamed expectations lifecycle: the folded report pins before
    # returning (q121 discipline); |rules| rows
    "q139_stream_expectations",
    # streamed shard-export lifecycle: the manifest pins before
    # returning (q121 discipline); n_shards rows
    "q140_stream_shards",
}
for _q in _RDD_ALLOW:
    ALLOW.setdefault(_q, set()).add("rdd_scan")

# cached_scan allowances: deliberate .cache() sites, each bounded.
# media fixture relation cached across the stats fan-out (bounded by
# the synthetic media table, consumed by every per-kind branch)
ALLOW.setdefault("q61_media_stats", set()).add("cached_scan")

FLAGS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "nested_loop": re.compile(r"BroadcastNestedLoopJoin"),
    "python_udf_row": re.compile(r"BatchEvalPython"),
    "pandas": re.compile(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"),
    # a localCheckpoint materialization inside a query plan: the
    # checkpointed relation is written to executor storage in full and
    # its lineage is gone (no recompute on executor loss). Legitimate
    # when a bounded or multi-consumed relation must be pinned (the
    # ALLOW entries); a red flag when a query accidentally
    # materializes the fact table it should stream through.
    "rdd_scan": re.compile(r"Scan ExistingRDD"),
    # .cache()/.persist() materializations print as InMemory scans,
    # NOT ExistingRDD — the same accidental-materialization disease
    # needs its own pattern or cache misuse sails past the audit.
    "cached_scan": re.compile(r"InMemory(TableScan|Relation)"),
}

_WSD = re.compile(r"windowspecdefinition\(")

# A window partitioned by base columns whose combined distinct count
# is at or below this funnels the input into that many tasks — too few
# for any real cluster. Derived keys (buckets/bands/cells) don't
# resolve and skip the check.
LOW_CARD_MAX = 1000

# Base tables whose column cardinalities seed the low-card check.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Attribute references print as name#<exprId> with an optional type
# suffix — bigint columns print as name#123L (matching them matters:
# enum/status keys are commonly long-typed).
_COLREF = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)#\d+L?$")


def _top_level_args(s: str) -> list[str]:
    """Comma-separated arguments of s at paren depth 0, up to the
    closing paren of the enclosing call."""
    depth = 0
    args, start = [], 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                args.append(s[start:i])
                return args
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(s[start:i])
            start = i + 1
    args.append(s[start:])
    return args


def _window_partition_specs(plan: str):
    """For each windowspecdefinition: its list of partition-column
    argument strings (possibly empty).

    In plan text the spec prints partition columns first (bare, no
    sort direction), then order columns (each tagged ASC/DESC), then
    the frame — so partition columns are the leading arguments that
    carry no sort direction.
    """
    for m in _WSD.finditer(plan):
        parts = []
        for a in _top_level_args(plan[m.end():]):
            a = a.strip()
            if (re.search(r"\b(ASC|DESC)\b", a)
                    or a.startswith("specifiedwindowframe")):
                break
            parts.append(a)
        yield parts


def _distinct_counts(spark, sf_dir: str) -> dict[str, int]:
    from pyspark.sql import functions as F

    from etl_evm_chain_spark.catalog import load_table

    card: dict[str, int] = {}
    for t in TABLES:
        try:
            df = load_table(spark, sf_dir, t)
        except Exception:
            continue
        cols = [c for c, dt in df.dtypes
                if not dt.startswith(("array", "map", "struct", "binary"))]
        if not cols:
            continue
        row = df.agg(*[F.approx_count_distinct(c).alias(c)
                       for c in cols]).first()
        for c in cols:
            card[c] = max(card.get(c, 0), int(row[c]))
    return card


def column_cardinalities(spark, sf_dir: str) -> dict[str, int]:
    """name → approx distinct count for base-table columns that are
    INTRINSICALLY low-cardinality (max across tables when a name
    repeats — conservative: prefer missing a flag to crying wolf).

    "Intrinsic" is the point: at a small fixture SF, even doc_id looks
    low-card, but its distinct count GROWS with the data — windows
    partitioned by it are fine at 100 TB. A column whose distinct
    count stays flat across sibling scale factors (l_returnflag: 3 at
    every SF; event_type: 5) will still be 3 at 100 TB — that's the
    funnel. Both the 10×-smaller and 10×-larger siblings are
    consulted when present (some fixture tables only start scaling
    above a floor size — documents is 500 rows at sf0.001 AND sf0.01);
    a column must be flat in EVERY available comparison to count as
    intrinsic. With no sibling at all, the plain threshold applies.
    """
    card = {c: n for c, n in _distinct_counts(spark, sf_dir).items()
            if n <= LOW_CARD_MAX}
    base = os.path.basename(os.path.normpath(sf_dir))
    m = re.match(r"sf([0-9.]+)$", base)
    if m:
        parent = os.path.dirname(os.path.normpath(sf_dir))
        sf = float(m.group(1))
        # consult EVERY available sibling SF, not just the adjacent
        # ones: documents holds 500 rows at BOTH sf0.001 and sf0.01
        # (fixture floor size), so an sf0.001 audit comparing only
        # against sf0.01 called doc_id "intrinsically flat" and
        # false-flagged every doc-partitioned window — the sf0.1
        # sibling shows it scaling
        sibs = []
        for d in os.listdir(parent) if os.path.isdir(parent) else []:
            sm = re.match(r"sf([0-9.]+)$", d)
            if sm and float(sm.group(1)) != sf and \
                    os.path.isdir(os.path.join(parent, d)):
                sibs.append((float(sm.group(1)), os.path.join(parent, d)))
        for ssf, sib_dir in sorted(sibs):
            if not card:
                break
            sib = _distinct_counts(spark, sib_dir)
            lo, hi = ((sib, card) if ssf < sf else (card, sib))
            card = {c: n for c, n in card.items()
                    if c in sib and hi.get(c, 0) <= 1.3 * lo.get(c, 0) + 5}
    return card


def window_flags(plan: str, card: dict[str, int] | None) -> set[str]:
    """global_window / low_card_window flags for a formatted plan."""
    found: set[str] = set()
    for parts in _window_partition_specs(plan):
        if not parts:
            found.add("global_window")
            continue
        if card is None:
            continue
        prod = 1
        for p in parts:
            m = _COLREF.match(p)
            if not m or m.group(1) not in card:
                prod = None          # derived/unknown key → unknowable
                break
            prod *= max(1, card[m.group(1)])
        if prod is not None and prod <= LOW_CARD_MAX:
            found.add("low_card_window")
    return found


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def df_flags(df, card: dict[str, int] | None = None) -> set[str]:
    """All audit flags for a DataFrame's physical plan (importable —
    tests seed synthetic bad plans through this)."""
    plan = _plan_text(df)
    found = {name for name, rx in FLAGS.items() if rx.search(plan)}
    found |= window_flags(plan, card)
    return found


def audit(spec, spark, sf_dir: str,
          card: dict[str, int] | None = None) -> tuple[set[str], str]:
    df = spec.fn(spark, sf_dir)
    plan = _plan_text(df)
    found = {name for name, rx in FLAGS.items() if rx.search(plan)}
    found |= window_flags(plan, card)
    return found, plan


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("explain_audit")
    card = column_cardinalities(spark, sf_dir)
    bad = 0
    for spec in all_specs():
        if only and spec.name not in only:
            continue
        found, plan = audit(spec, spark, sf_dir, card)
        allowed = ALLOW.get(spec.name, set())
        # "pandas" is never a failure by itself when allowed; row-UDFs never pass
        unexpected = {f for f in found if f not in allowed}
        unexpected.discard("pandas") if "pandas" in allowed else None
        if "python_udf_row" in found:
            unexpected.add("python_udf_row")
        if unexpected:
            bad += 1
            print(f"FLAG {spec.name}: {sorted(unexpected)}")
            if only:  # show detail when auditing specific queries
                print(plan[:4000])
        else:
            tag = f" ({'+'.join(sorted(found))})" if found else ""
            print(f"ok   {spec.name}{tag}")
    print(f"\n{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Generate docs/PLANS.md: annotated physical plans for representative
queries, proving the Catalyst behaviors the engine is designed around
(scan pruning + filter pushdown, broadcast joins, partial aggregation,
single-shuffle windows). Re-run after plan-affecting changes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from etl_evm_chain_spark.catalog import load_table  # noqa: E402
from etl_evm_chain_spark.plans.registry import all_specs  # noqa: E402
from etl_evm_chain_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

SHOWCASE = {
    "q01_pricing_summary": (
        "Scan pruning & pushdown",
        "The parquet scan reads only the 7 referenced columns "
        "(ReadSchema) and ships the shipdate predicate to the reader "
        "(PushedFilters) — at 100 TB this is the difference between "
        "scanning 7 columns of matching row groups and the whole table. "
        "HashAggregate appears twice: partial (map-side combine) before "
        "the exchange, final after — the shuffle carries 6 groups, not "
        "600k rows."),
    "q03_local_supplier_revenue": (
        "Broadcast star join",
        "Every dimension side is BroadcastExchange/BroadcastHashJoin — "
        "only the lineitem⋈orders edge shuffles. On a 1000-executor "
        "cluster the dims ship once per executor; the fact table never "
        "moves except for its single join key."),
    "q20_rolling_zscore": (
        "Window pipeline",
        "One Exchange per window partitioning key, then consecutive "
        "Window operators pipeline within the same sort order — the "
        "consensus (bucket) and rolling (event_type) stages each "
        "shuffle exactly once."),
    "q35_lsh_near_dups": (
        "LSH bucket join (no cross join)",
        "The candidate generation is a SortMergeJoin/ShuffledHashJoin "
        "on (band, key) — pair space never materializes; exact Jaccard "
        "runs only on the joined candidates."),
    "q95_dynamic_abi": (
        "Dynamic ABI decode via staged tail positions",
        "Dynamic types (string, uint32[]) decode with NO word array "
        "and NO regex over the blob: the staged projection computes "
        "each tail's char position once (conv of a fixed head slot — "
        "kept separate by CollapseProject because it is non-cheap and "
        "referenced twice), then payloads are single substring(data, "
        "pos, n*2) expressions; arrays slice a region substring so "
        "regex cost scales with the array body. The top projection "
        "(scalars + transform lambdas) is CodegenFallback by engine "
        "rule — measured a wash vs forcing a codegen split with a "
        "barrier, because the HOF machinery dominates."),
    "q44_decode_transfers": (
        "Native ABI decode",
        "The full decode (topic filter, address slicing, two-limb "
        "uint256 to decimal) stays inside WholeStageCodegen — no "
        "Python row boundary; the enrichment join is a "
        "BroadcastHashJoin against the blocks dim."),
    "q24_ewm_bias": (
        "Stateful recursion as window algebra",
        "The EWM recursion y=(1-α)y+αx runs with NO Python stage: the "
        "closed form is two Window operators (row_number, cumulative "
        "sum) sharing one Exchange on the series key and one sort — "
        "compare the grouped-map pandas alternative, which pays an "
        "Arrow round-trip per key. Whole-stage codegen spans the "
        "rescale arithmetic."),
    "q94_range_frame_hourly": (
        "Event-time RANGE frame",
        "The trailing-1h mean uses a value-based frame "
        "(RANGE BETWEEN 3600 PRECEDING) over the irregular stream — "
        "specified_window_frame(RangeFrame) in the Window operator, "
        "one Exchange on event_type, no resample/grid stage at all."),
    "q114_copurchase_triangles": (
        "Degree-oriented triangle census",
        "Every step is an equi-join: degrees attach by key, the wedge "
        "enumeration is a self-join of the ORIENTED edge relation on "
        "its source (out-degree bounded by O(sqrt E), so wedge "
        "fan-out is bounded no matter how skewed the hubs), and the "
        "close is a join back onto the edge relation on computed "
        "(least, greatest) keys — Catalyst extracts them as join "
        "keys, so there is no cartesian anywhere. Per-node credit is "
        "one explode, one aggregation."),
    "q115_kmv_distinct": (
        "Mergeable sketch via the ranking kit",
        "The k smallest distinct hashes per (group, kind) come from "
        "the two-phase bucketed-rank machinery — per-bucket local "
        "sorts plus a broadcast prefix join, NO window whose "
        "partition count is O(1) in the input — and both key columns "
        "share one dedup shuffle and one ranking pass under a kind "
        "discriminator. The estimator itself is pure arithmetic on "
        "the k-th array element."),
    "q116_zorder_cells": (
        "Z-order key census (multi-dim clustering math)",
        "Integer quantization against broadcast (min, max) bounds, "
        "then the Morton interleave as pure shifts/ORs inside the "
        "scan's own codegen stage — one exchange for the final cell "
        "aggregation and nothing else. land_zordered writes this key "
        "as the file/row-group order, which is what makes range "
        "predicates on EITHER dimension prunable from footer stats."),
    "q117_cm_heavy_hitters": (
        "Count-min sketch (bounded-memory frequency summary)",
        "One Expand/explode fans each token-count row into depth "
        "(depth, cell) pairs and ONE map-side-combined shuffle folds "
        "them to <= depth*width counter rows — the reduce side is "
        "bounded by the sketch size, never the vocabulary. The probe "
        "side broadcasts that tiny counter relation back onto the "
        "exact top-k (TakeOrderedAndProject), so the estimate join "
        "moves 60 rows; a 1-row geometry assertion crossJoins in as "
        "a scalar subquery so a sketch built with other parameters "
        "fails loudly instead of undercounting. Merging sketches "
        "across shards/epochs is cell-wise addition: union + the "
        "same bounded re-aggregate."),
    "q118_expectations": (
        "Compiled data-quality gate (rules → one scan)",
        "All five row-level/uniqueness rules compile into ONE "
        "HashAggregate pass over orders — the plan shows a single "
        "parquet scan feeding count(1) plus one conditional sum per "
        "rule (and an Expand for the distinct-tuple rule), partial "
        "map-side combine, 1-row result exploded to long form. The "
        "referential rule is its own scan: BroadcastHashJoin "
        "LeftOuter against the deduped customer keys with the miss "
        "count and total folded in the SAME aggregate. Adding rules "
        "adds expressions, not scans: a k-rule gate costs "
        "1 + |FK rules| fact scans at any data size."),
    "q119_incremental_mv": (
        "Incremental matview fold (state rows cross the shuffle)",
        "Each arrival epoch is one partially-aggregated "
        "HashAggregate of its own slice (the three date-cut scans "
        "stand in for three real ingest batches); what the merge "
        "union + re-fold shuffles afterwards is |groups|-sized "
        "STATE rows, never fact rows. Decimal sums make the monoid "
        "combine order-insensitive bit-for-bit, so AQE/Catalyst can "
        "re-associate the folds freely — and the DuckDB oracle "
        "computing the same answer in one shot proves "
        "incremental == one-shot at every driver round."),
    "q120_budget_mix": (
        "Sampled-quantile (equi-depth) two-phase prefix sum",
        "The running-cost order key is a HASH STRING, so the "
        "equi-width numeric bucketing can't apply: phase 1 is "
        "repartitionByRange on the full (hash, id) order tuple — "
        "sampled-quantile boundaries keep buckets balanced under any "
        "corpus skew — materialized once (localCheckpoint) so the "
        "census job and the output job consume the SAME assignment. "
        "The per-source totals ride the census's own prefix relation "
        "(total_name), so the corpus is scanned once and the budget "
        "comparison is a row-local expression — no budgets "
        "side-relation, no window partitioned by the 20-value "
        "source column ever sees the corpus."),
    "q131_neardup_envelope": (
        "Estimate-envelope gate: two candidate joins, never all-pairs",
        "Both sides of the confusion matrix stay equi-joins: the "
        "ESTIMATE side explodes signatures into banded keys and "
        "self-joins on (band, key); the EXACT side self-joins the "
        "inverted shingle-hash index (pairs only inside posting "
        "lists). The full-outer join of the two pair relations "
        "collapses into one 5-counter aggregate row — at 100 TB the "
        "pair space is never materialized, only the two candidate "
        "sets are."),
    "q65_quantize_embeddings": (
        "Scalar-subquery broadcast (corpus re-encoded in place)",
        "The per-dimension stats reduce to d rows (posexplode + "
        "map-side-combined min/max), collapse to ONE row of two "
        "d-length arrays, and return to the corpus as a "
        "BroadcastNestedLoopJoin with a 1-row build side — the "
        "scalar-subquery shape, not a pair explosion. The corpus "
        "itself is never shuffled: encode + error audit are array "
        "lambdas in the scan's own stage."),
}


def main() -> None:
    spark = get_spark("gen_plans_doc")
    by_name = {s.name: s for s in all_specs()}
    out = [
        "# Physical plans (annotated)",
        "",
        "Generated by `python tools/gen_plans_doc.py` at sf0.01.",
        "What to look for in each plan is noted above it; "
        "`tools/explain_audit.py` enforces the red-flag absence "
        "(cartesian joins, row-at-a-time Python UDFs) across ALL "
        "queries on every run.",
        "",
    ]
    for name, (title, note) in SHOWCASE.items():
        spec = by_name[name]
        df = spec.fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + a trimmed detail section
        tree, _, details = plan.partition("\n\n")
        kept = [b for b in details.split("\n\n")
                if any(k in b.split("\n", 1)[0]
                       for k in ("Scan", "BroadcastHashJoin", "SortMergeJoin",
                                 "HashAggregate", "Window", "Exchange"))]
        out += [f"## {name} — {title}", "", note, "", "```",
                tree.strip()]
        out += ["", "\n\n".join(kept[:8]).strip()] if kept else []
        out += ["```", ""]
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()

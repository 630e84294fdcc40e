"""Generate docs/COVERAGE.md: SURVEY.md §2 operator ids → where each
is implemented (module) and proven (query / test), so the inventory
check is a table lookup. Query rows come from the registry's survey
tags; non-query surfaces are the static table below.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_evm_chain_spark.plans.registry import all_specs  # noqa: E402

# SURVEY §2 ids with no (or not only) a registry query: where they live.
STATIC = {
    "A1": "sources/evm_logs.py fetch_logs/read_raw_logs + sources/rpc.py JsonRpcClient (eth_getLogs, 3x1500ms retry); tests/test_rpc.py end-to-end HTTP",
    "A2": "sources/evm_logs.py latest_block + rpc.JsonRpcClient.latest_block (eth_blockNumber); tests/test_rpc.py",
    "A3": "sources/abi.py enrich(blocks) broadcast join (q44); live dim via rpc.get_block + evm_logs.fetch_blocks (tests/test_rpc.py)",
    "A4": "sources/abi.py enrich(transactions) broadcast join; live path rpc.get_transaction + transaction_sender (legacy + EIP-2930/1559)",
    "A5": "not needed (reference helper unused; pre-landed tables subsume it)",
    "A6": "sources/sinks.py write_event_csv (partitioned); tests/test_evm.py",
    "A7": "sources/sinks.py write_event_jdbc; roundtrip-tested against embedded Derby",
    "A8": "platform: spark.task.maxFailures / streaming foreachBatch retries",
    "A9": "sources/csv_source.py read_swap_csvs (schema + DROPMALFORMED); tests/test_pipelines_cli.py",
    "A10": "sources/csv_source.py filename-regex discovery via input_file_name",
    "A11": "sources/sinks.py export_signals_csv; cli feebot --out",
    "B1": "evm_logs fetcher pushdown + Catalyst PushedFilters (docs/PLANS.md)",
    "B2": "sources/abi.py AbiEvent.topic0 (keccak, driver-side constants)",
    "B10": "sources/csv_source.py normalize_polarity sign convention (pair canon analog)",
    "E1": "operators/backtest.meanrevert_fsm_pct (q25; golden tests)",
    "E2": "operators/backtest.meanrevert_fsm_zscore (q26; golden tests)",
    "E5": "operators/mlplane.train_and_eval (q29)",
    "E6": "operators/mlplane.train_and_eval scoring (q29)",
    "E7": "operators/mlplane.train_and_eval metrics (q29)",
    "E8": "operators/mlplane.now_signals (q29); cli feebot",
    "G1": "sources/keccak.py (public vectors tested); abi.AbiEvent.topic0",
    "G2": "sources/abi.py decode: native ≤63-bit + two-limb decimal + Arrow UDF (q44); dynamic string/bytes/T[] via staged tail positions, no word array (q95)",
    "G3": "sources/abi.py indexed-topic decode (q44)",
    "G4": "sources/abi.py route_events broadcast map (q45)",
    "G5": "sources/secp256k1.py + rlp.py + abi.recover_sender (EIP-155 spec golden; q98); dim-join remains the bulk path",
    "G6": "sources/csv_source.tick_to_price expressions (q08)",
    "H1": "streaming/pipeline.stream_raw_logs (file-source offsets); evm_logs chunks",
    "H2": "streaming/pipeline.write_decoded checkpoint resume; tests/test_streaming.py; batch twin sources/progress.py + reorg-safe cursor sources/reorg.py (confirmation lag, hash anchors, generation rewind; tests/test_reorg.py)",
    "H3": "streaming/pipeline.windowed_counts + session_stats (session_window); tests/test_streaming.py",
    "H4": "streaming/pipeline.live_signal_fsm (applyInPandasWithState); tests/test_streaming.py",
    "H5": "streaming/pipeline.dedup_stream (watermark + dropDuplicates); tests/test_streaming.py",
    "H6": "exactly-once: checkpoint + idempotent parquet append (test_stream_decode_with_checkpoint_resume)",
    "F10": "not needed (Spark UI / queryExecution metrics replace pandas RAM prints)",
    "P2-multimodal": "operators/multimodal.py: binary columns, mapInPandas decode (REAL stdlib PNG/WAV codecs + pluggable), frame sample, resize, content-addressed chunking; tests/test_multimodal_jobs.py",
    "P2-skew": "functions/skew.py salted_agg / replicated_skew_join; tests/test_skew.py",
    "P2-jobs": "jobs.py + api.py REST lifecycle; tests/test_multimodal_jobs.py, test_pipelines_cli.py",
    "C5": "operators/asof.py asof_join (true event-time form; q54) + timeseries kit grid form (q17)",
    "P2-bucketing": "functions/bucketing.py write_bucketed/colocated_join (0-Exchange joins); tests/test_bucketing.py",
    "P2-graph": "operators/graph.py pagerank (Pregel-by-join, checkpointed supersteps) (q74); triangle_counts (degree-oriented wedge join, q114)",
    "P2-dedup": "incremental: dedup.update_near_dup_index (landed LSH band index) + stream_near_dups (foreachBatch ingest-time near-dedup) + dedup.update_exact_dedup_index / stream_exact_dedup (cross-history EXACT dedup vs a band-partitioned landed fingerprint index); tests prove increment-union == one-shot for both",
    "P2-sim": "incremental: similarity.update_ann_index (frozen-quantizer IVF, cell-partitioned parquet index); equivalence-tested vs one-shot assignment",
    "P2-text": "exact BPE: functions/bpe.py (merges trained on the word-frequency table, batch=k disjoint variant; q103)",
    "P2-curation": "mlplane.train_quality_filter model-based filter (q102); merge.snapshot_diff corpus versioning (q104)",
    "A12": "sources/files.read_jsonl/write_jsonl (schema'd PERMISSIVE, corrupt-line quarantine; blank lines skipped, non-object lines quarantined); streaming twin streaming/pipeline.stream_jsonl[_ingest] (epoch-ledger clean/quarantine split); tests/test_ingest.py + property round-trip",
    "A13": "sources/files.read_orc/write_orc (native pushdown, parallelism-landed export); tests/test_ingest.py",
    "A14": "sources/files.read_text_lines (raw corpus lines + source-file lineage)",
    "P1-ingest": "non-parquet ingest plane round-trips (q111 JSONL, q112 ORC) — lossless vs the parquet fixtures by driver hash",
    "P2-layout": "functions/layout.py range-sorted + Morton (Z-order) clustered parquet layout, interleave_bits oracle-proven (q116); scan_metrics prune proofs in tests/test_bucketing.py; compact_parquet maintenance",
    "P2-sketch": "operators/sketches.py KMV distinct sketches (portable order-statistic estimator, expression-level merge; q115)",
    "P2-ranking": "functions/ranking.py bucketed_rank/bucketed_prefix_sum two-phase kit (scaled_buckets derives bucket count from shuffle parallelism; null-safe group joins; q53/q87/q15/q59 consume it); tests/test_ranking.py incl. non-default shuffle.partitions",
    "P2-quality": "operators/expectations.py declarative rules compiled to ONE fact scan + broadcast FK anti-checks (q118) + stream_expectations per-epoch reports; operators/matview.py incremental materialized aggregate — (n,sum,sumsq,min,max) monoid state (finalize derives avg/var/std), merge == one-shot proven by the q119 DuckDB hash + fold-order property tests; epoch ledgers bounded by compact_epoch_ledger log compaction",
}


def main() -> None:
    by_id: dict[str, list[str]] = defaultdict(list)
    for spec in all_specs():
        for sid in spec.survey:
            by_id[sid].append(spec.name)

    lines = [
        "# SURVEY §2 coverage map",
        "",
        "Generated by `python tools/gen_coverage_doc.py`. Every operator id",
        "from SURVEY.md §2 (and the P2 extension groups) with its",
        "implementation and its correctness surface. Queries listed are",
        "oracle-hash-checked unless marked rows-only in the registry.",
        "",
        "| SURVEY id | proven by queries | implementation / notes |",
        "|---|---|---|",
    ]
    ids = sorted(set(by_id) | set(STATIC),
                 key=lambda s: (s[0], s[1:].zfill(8)))
    for sid in ids:
        qs = ", ".join(sorted(by_id.get(sid, []))) or "—"
        note = STATIC.get(sid, "")
        lines.append(f"| {sid} | {qs} | {note} |")
    with open(os.path.join(ROOT, "docs", "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/COVERAGE.md ({len(ids)} ids)")


if __name__ == "__main__":
    main()

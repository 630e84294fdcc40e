"""Isolated per-query bench: time named registry queries outside the
full-suite loop (idle reproduce-or-clear runs for flagged deltas).

Usage: python tools/bench_one.py q60_ngram_jaccard [more...] [--reps N]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default *)

Mirrors bench.py's measurement contract: a noop write forces the full
distributed plan (no driver collect), the JVM is warmed with the same
representative stages first, and caches/localCheckpoint blocks are
dropped between reps so one rep cannot subsidize the next. Prints one
JSON line: {"query": {"reps": [...], "min": s, "median": s}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_evm_chain_spark.plans.registry import all_specs
from etl_evm_chain_spark.session import get_spark


def _drop_blocks(spark) -> None:
    spark.catalog.clearCache()
    try:
        it = (spark.sparkContext._jsc.sc()
              .getPersistentRDDs().toList().iterator())
        while it.hasNext():
            it.next()._2().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def main() -> None:
    argv = sys.argv[1:]
    reps = 2
    args: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            if i + 1 >= len(argv):
                sys.exit("usage: bench_one.py <query...> [--reps N]")
            reps = int(argv[i + 1])
            i += 2
            continue
        if not argv[i].startswith("--"):
            args.append(argv[i])
        i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-one")

    # Same warm-up family as bench.py's generic prefix: parquet scan +
    # hash agg + exchange, Arrow grouped-map, interpreted HOFs (the
    # shingle path is transform/aggregate-heavy).
    from etl_evm_chain_spark.catalog import load_table
    spark.range(1000).selectExpr("sum(id)").collect()
    load_table(spark, sf_dir, "lineitem").groupBy(
        "l_returnflag").count().collect()
    warm = spark.range(256).withColumn("g", F.col("id") % 8)
    warm.groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").count()
    warm.withColumn("a", F.expr(
        "aggregate(transform(sequence(1, 32), x -> CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")).agg(
        F.sum("a")).collect()

    def _n_jobs(group: str) -> int:
        # counted per job group: the status store keeps only the last
        # spark.ui.retainedJobs jobs, so a running count over the
        # session stops moving after ~1,000 jobs. Diagnostics only.
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            return len(spark.sparkContext.statusTracker()
                       .getJobIdsForGroup(group))
        except Exception:  # noqa: BLE001 — diagnostics only
            return -1

    specs = {s.name: s for s in all_specs()}
    out: dict[str, dict] = {}
    for name in args:
        spec = specs[name]
        times = []
        jobs = []
        for rep in range(reps):
            group = f"{name}#{rep}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            times.append(round(time.time() - t0, 3))
            jobs.append(_n_jobs(group))
            _drop_blocks(spark)
        out[name] = {"reps": times, "min": min(times),
                     "median": round(statistics.median(times), 3),
                     # sequential Spark jobs per invocation — each is a
                     # driver round trip, the overhead unit that
                     # dominates sub-second queries at bench scale
                     "jobs": jobs}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Measure the driver-job count + wall of the CC-heavy queries.

The round-3 verdict quantified a F ~= 32 s per-run driver-side
job-submit constant dominated by connected-components paying one Spark
job per propagation round per query (VERDICT.md Next #5). This tool
counts ACTUAL jobs (via a SparkListener-free proxy: the status tracker's
job IDs) and wall for the CC-shaped queries, so per-round driver cost
in operators/components.py is measured, not asserted.

Usage: python tools/bench_cc_jobs.py [sf_dir]
Prints one JSON line per query: {"query", "wall_sec", "jobs", "rows"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bench-cc-jobs")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from imageduplicatefinder_spark import queries as Q

    tracker = spark.sparkContext.statusTracker()

    def measure(name, fn) -> None:
        all_before = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.time()
        rows = fn()
        wall = time.time() - t0
        all_after = set(tracker.getJobIdsForGroup(None) or [])
        print(
            json.dumps(
                {
                    "query": name,
                    "wall_sec": round(wall, 2),
                    "jobs": len(all_after - all_before),
                    "rows": rows,
                },
            ),
            flush=True,
        )

    for name in ("simhash_radius_clusters", "near_dup_clusters_exact"):
        fn = getattr(Q, f"q_{name}")
        measure(name, lambda fn=fn: fn(spark, sf_dir).count())

    # the flagship pipeline leg (same workload bench.py times)
    import tempfile

    from bench import build_replicated_documents
    from imageduplicatefinder_spark.config import DedupConfig
    from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

    docs = build_replicated_documents(spark, sf_dir, 8).cache()
    docs.count()
    measure(
        "dedup_pipeline_x8_replica",
        lambda: DedupPipeline(
            spark,
            DedupConfig(),
            checkpoint_dir=tempfile.mkdtemp(prefix="ccjobs_ckpt_"),
        )
        .run(docs)
        .plan.count(),
    )
    docs.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()

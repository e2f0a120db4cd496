"""spark-submit entry point: run the full rule suite over stored tables.

Usage (cluster):
    spark-submit --py-files dist/anomaly_detection_spark.zip \
        anomaly_detection_spark/run.py \
        --docs /path/documents_parquet --catalog /path/asset_catalog \
        --commits /path/commits --store /path/dq_store \
        --eval-time "2025-08-16 00:00:00"

With --synthetic N, generates the deterministic synthetic inputs
instead of reading paths (smoke/bench mode). The session is created by
spark-submit's conf on a cluster; local defaults apply otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="anomaly_detection_spark rule-suite runner")
    p.add_argument("--docs", help="documents table path (parquet/Iceberg)")
    p.add_argument("--catalog", help="asset catalog path")
    p.add_argument("--commits", help="commit-log table path")
    p.add_argument("--events", help="event-stream table path (partition_id, event_ts) for event-latency freshness")
    p.add_argument("--lineage-edges", help="lineage edges path (src, dst) for blast-radius impact")
    p.add_argument("--queries-per-table", help="query counts path (table, num_queries) for blast-radius impact")
    p.add_argument("--store", default="/tmp/adspark_store", help="lineage/violations store dir")
    p.add_argument("--eval-time", default="2025-08-16 00:00:00")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic docs instead of reading --docs")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument(
        "--rules",
        default="profile,uniqueness,referential,spans,completeness,freshness,event_freshness,drift",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from anomaly_detection_spark.plans.suite import Rule, RuleSuite
    from anomaly_detection_spark.sources.catalog import LocalParquetCatalog

    spark = SparkSession.builder.appName("anomaly_detection_spark").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.synthetic:
        from anomaly_detection_spark.sources.synthetic import (
            asset_catalog,
            commits_log,
            documents_interleaved,
            events_log,
            lineage_edges,
            queries_per_table,
        )

        docs = documents_interleaved(spark, args.synthetic, n_partitions=args.partitions)
        catalog = asset_catalog(spark, 4096)
        commits = commits_log(spark, args.partitions)
        events = events_log(spark, args.partitions)
        edges = lineage_edges(spark, args.partitions)
        qpt = queries_per_table(spark)
    else:
        if not args.docs:
            p.error("--docs required unless --synthetic")
        docs = spark.read.parquet(args.docs)
        catalog = spark.read.parquet(args.catalog) if args.catalog else None
        commits = spark.read.parquet(args.commits) if args.commits else None
        events = spark.read.parquet(args.events) if args.events else None
        edges = spark.read.parquet(args.lineage_edges) if args.lineage_edges else None
        qpt = spark.read.parquet(args.queries_per_table) if args.queries_per_table else None

    rules = [Rule(k.strip()) for k in args.rules.split(",") if k.strip()]
    if events is None:
        rules = [r for r in rules if r.kind != "event_freshness"]
    suite = RuleSuite(rules, eval_time=args.eval_time)
    store = LocalParquetCatalog(args.store)

    t0 = time.time()
    res = suite.run(
        spark,
        docs,
        catalog,
        commits,
        store=store,
        events=events,
        lineage_edges=edges,
        queries_per_table=qpt,
    )
    summary = {
        "run_id": res.run_id,
        "config_hash": res.config_hash,
        "resumed_pairs": res.skipped_pairs,
        "verdicts": res.verdicts.count(),
        "violations": res.violations.count(),
        "unhealthy": res.verdicts.filter("status = 'Unhealthy'").count(),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())

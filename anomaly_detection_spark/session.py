"""SparkSession factory with scale-oriented defaults.

All engine entry points accept an externally-built session; this factory
is for tests / benchmarks / the driver harness. The confs mirror what a
1000-executor deployment would set: AQE on (runtime coalesce + skew-join
splitting), shuffle partitions sized to the parallelism level, Arrow for
every pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "anomaly_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard confs.

    ``shuffle_partitions`` defaults to 2x the local core count — small
    enough to avoid tiny-task overhead at test scale, and AQE coalesces
    further at runtime. On a real cluster this should be set to
    ~2-3x total executor cores; AQE's ``advisoryPartitionSizeInBytes``
    then governs the effective post-shuffle partition count.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            cores = os.cpu_count() or 8 if inner == "*" else int(inner)
        else:
            cores = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE partition coalescing is DISABLED inside cached plans by
        # default; this engine persists intermediates deliberately
        # (caching.py's bounded per-label caches and guarded broadcasts,
        # the pre-sort result caches), and event-log profiling showed their
        # materialization jobs running full-width non-coalesced shuffle
        # stages. Allowing AQE to change cached-plan output partitioning
        # is safe here by construction: every order-sensitive aggregate
        # in the engine is array_sort-ed or group-constant (audited r8),
        # and the two-phase top-k's spark_partition_id pre-filter is
        # partitioning-invariant. Scale-independent: it only lets cached
        # stages obey the same advisory sizing as uncached ones.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split sizing: the synthetic interleaved docs dictionary-compress
        # ~60x, so default 128MB splits leave a 32-core local run with a
        # handful of skewed scan tasks. 32MB compressed splits keep scan
        # stages saturated locally AND bound per-task decompressed size;
        # on a real cluster with normally-compressible data revisit via
        # SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Generated-class cache sized to the engine's working set: one
        # default_suite() run compiles ~240-250 distinct whole-stage-codegen
        # classes and an operator_queries pass ~290. Spark's default of 100
        # evicts them mid-run, so a repeated run recompiles (and re-JITs)
        # them all: 239 compiles on a repeated tier-1 suite run at 100, 4
        # at 2000. Static conf: it applies only when this builds the JVM's
        # first session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

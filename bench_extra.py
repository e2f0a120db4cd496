"""Per-query isolation bench (guide §1.4): times a SUBSET of declared
queries with exactly bench.py's methodology (same session confs, same
noop sink, same sf dir) so optimization iterations don't need a full
bench run. bench.py stays the frozen driver artifact; numbers cited in
OPTIMIZATION_r08.md name which harness produced them.

Usage: python bench_extra.py [-r repeats] query [query ...]
Prints one JSON line {"queries": {name: [sec, ...]}, "codegen_compiles":
{name: [n, ...]}, "jit_s": {name: [sec, ...]}, ...}, one entry per
repeat. The codegen layer: ``codegen_compiles`` counts the generated
classes the query compiled (CodegenMetrics; ~0 on a repeat whose classes
are still in the session's codegen cache) and ``jit_s`` is the JVM's JIT
compile time meanwhile (CompilationMXBean, all JVM threads).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from anomaly_detection_spark.session import get_spark


def main() -> None:
    loadavg = [round(x, 2) for x in os.getloadavg()]
    args = sys.argv[1:]
    repeats = 1
    if args and args[0] == "-r":
        repeats = int(args[1])
        args = args[2:]
    qs = entrymod.all_queries()
    unknown = [n for n in args if n not in qs]
    if unknown or not args:
        sys.exit(f"unknown queries {unknown}; choose from {sorted(qs)}" if unknown else __doc__)
    args = list(dict.fromkeys(args))  # each query once, in the order given
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="adspark-bench-extra", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    timings: dict[str, list[float]] = {n: [] for n in args}
    codegen: dict[str, list[int]] = {n: [] for n in args}
    jit_s: dict[str, list[float]] = {n: [] for n in args}
    for _ in range(repeats):
        for name in args:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0, j0, t0 = compiles.getCount(), jit.getTotalCompilationTime(), time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name].append(round(time.time() - t0, 3))
            codegen[name].append(compiles.getCount() - c0)
            jit_s[name].append(round((jit.getTotalCompilationTime() - j0) / 1000, 3))
            spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(
        json.dumps(
            {
                "queries": timings,
                "codegen_compiles": codegen,
                "jit_s": jit_s,
                "sf_dir": sf_dir,
                "cpus": cpus,
                "loadavg_at_start": loadavg,
            }
        )
    )


if __name__ == "__main__":
    main()

"""Task-second occupancy probe: where local-mode scaling efficiency
actually goes.

Runs the full default rule suite (or one rule) on a given docs dir at a
given parallelism with the Spark event log enabled, then reports, from
the task-level metrics:

- total task-seconds executed (the host-delivered work),
- wall seconds and core-occupancy = task_seconds / (wall * cores),
- the top stages by wall with per-stage task sums/max/median.

Run it at two parallelism levels on the SAME input and compare:

- If occupancy is high (>90%) at BOTH levels, the software is fully
  parallel — no serial stage, no straggler tail. Any gap to ideal-Nx
  scaling then shows up as task-second INFLATION (the same stages cost
  more CPU-seconds at higher concurrency): shared memory-bandwidth /
  LLC / SMT contention on the host. Inflation linear in concurrency is
  algebraically identical to an Amdahl serial term (W(1+ac)/c =
  W/c + aW), but it is host physics, not software serialization — a
  real cluster adds executor NODES with their own memory channels, so
  per-task time stays flat there.
- If occupancy DROPS at the higher level, there is a genuine software
  bottleneck (serial stage, skewed task, undersized partitioning) —
  the top-stage table shows which.

Usage: python scripts/stage_occupancy.py <cores> <docs_dir> [rule_kind]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_suite(cores: int, docs_dir: str, rule_kind: str | None, evdir: str) -> float:
    sys.path.insert(0, REPO)
    from anomaly_detection_spark.plans.suite import Rule, RuleSuite, default_suite
    from anomaly_detection_spark.session import get_spark
    from anomaly_detection_spark.sources.catalog import LocalParquetCatalog
    from anomaly_detection_spark.sources.synthetic import (
        asset_catalog,
        commits_log,
        events_log,
        lineage_edges,
        queries_per_table,
    )

    spark = get_spark(
        app_name=f"occupancy-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    docs = spark.read.parquet(docs_dir)
    suite = (
        RuleSuite([Rule(rule_kind)], eval_time="2025-08-16 00:00:00")
        if rule_kind
        else default_suite()
    )
    store = LocalParquetCatalog(tempfile.mkdtemp(prefix=f"occ{cores}_"))
    t0 = time.time()
    res = suite.run(
        spark,
        docs,
        asset_catalog(spark, 4096),
        commits_log(spark, 32),
        store=store,
        events=events_log(spark, 32),
        lineage_edges=lineage_edges(spark, 32),
        queries_per_table=queries_per_table(spark),
    )
    res.verdicts.count()
    res.violations.count()
    wall = time.time() - t0
    spark.stop()
    return wall


def parse(evdir: str) -> tuple[list, float]:
    stages: dict[int, dict] = {}
    for path in glob.glob(f"{evdir}/**/*", recursive=True):
        if not os.path.isfile(path) or path.endswith(".zstd"):
            continue
        with open(path, errors="ignore") as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(e, dict):
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    sub, comp = si.get("Submission Time"), si.get("Completion Time")
                    stages.setdefault(si["Stage ID"], {}).update(
                        name=si["Stage Name"].split()[0],
                        wall=(comp - sub) / 1000.0 if sub and comp else None,
                    )
                elif ev == "SparkListenerTaskEnd":
                    ti = e["Task Info"]
                    stages.setdefault(e["Stage ID"], {}).setdefault("task_ms", []).append(
                        ti["Finish Time"] - ti["Launch Time"]
                    )
    rows = []
    total_task_s = 0.0
    for sid, d in stages.items():
        tm = sorted(d.get("task_ms", []))
        if not tm:
            continue
        s = sum(tm) / 1000.0
        total_task_s += s
        if d.get("wall") is not None:
            rows.append(
                (d["wall"], sid, d.get("name", "?"), len(tm), s, tm[-1] / 1000.0, tm[len(tm) // 2] / 1000.0)
            )
    rows.sort(reverse=True)
    return rows, total_task_s


def main() -> None:
    cores = int(sys.argv[1])
    docs_dir = sys.argv[2]
    rule_kind = sys.argv[3] if len(sys.argv) > 3 else None
    evdir = tempfile.mkdtemp(prefix=f"occlog{cores}_")
    wall = run_suite(cores, docs_dir, rule_kind, evdir)
    rows, total_task_s = parse(evdir)
    occ = total_task_s / (wall * cores)
    print(
        json.dumps(
            {
                "cores": cores,
                "rule": rule_kind or "default_suite",
                "wall_s": round(wall, 1),
                "task_seconds": round(total_task_s, 1),
                "occupancy": round(occ, 3),
            }
        )
    )
    print(f"{'stage_wall':>10} {'sid':>4} {'name':<20} {'n':>5} {'sum_task_s':>10} {'max_task':>8} {'med_task':>8}")
    for w, sid, name, n, s, mx, md in rows[:12]:
        print(f"{w:>10.1f} {sid:>4} {name:<20} {n:>5} {s:>10.1f} {mx:>8.1f} {md:>8.1f}")


if __name__ == "__main__":
    main()

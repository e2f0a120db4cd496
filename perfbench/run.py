"""Closed-loop benchmark of the anomaly_detection_spark engine.

    python3 perfbench/run.py --workload suite_bulk --seed 1 --seconds 10 --trace 0

One client, one operation at a time, in one process on local[4]. The
seed makes the inputs. The untraced run (--trace 0) runs the
workload's operation once cold and, on a workload that measures warm
operations, then repeats it warm until --seconds have passed (at least
once); it checks every output. The traced run (--trace 1) traces the
operation the untraced run measures, then runs the workload's per-layer
probes, with the Spark event log on (--seconds does not apply).
Human-readable lines come first; the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. --size smoke
shrinks the inputs (see smoke.py). Workloads and metrics are described
in BENCHMARK.json and perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    CORES,
    ROOT,
    Scratch,
    Tracer,
    attribute,
    jvm_pid,
    peak_rss_mb,
    read_event_log,
    start_spark,
    stop_spark,
)

SIZES = {
    "full": {"suite_docs": 100_000, "query_docs": 500, "query_embeddings": 500},
    "smoke": {"suite_docs": 20_000, "query_docs": 200, "query_embeddings": 200},
}
WORKLOADS = ("suite_bulk", "operator_queries")


def make_workload(name: str, size: str):
    s = SIZES[size]
    if name == "suite_bulk":
        from suite_bulk import SuiteBulk

        return SuiteBulk(s["suite_docs"])
    from operator_queries import SMOKE_FAMILIES, OperatorQueries

    return OperatorQueries(
        s["query_docs"], s["query_embeddings"], SMOKE_FAMILIES if size == "smoke" else None
    )


def say(*parts) -> None:
    print(*parts, flush=True)


class Loop:
    """Runs operations, checks each output and counts failures."""

    def __init__(self, workload, spark, self_test: bool):
        self.workload = workload
        self.spark = spark
        self.self_test = self_test
        self.attempted = 0
        self.failed = 0

    def once(self, tracer: Tracer, label: str) -> tuple[float, dict] | None:
        """(wall seconds, seconds per unit) of one operation, or None if
        it raised."""
        self.attempted += 1
        try:
            wall, outputs, units = self.workload.operation(self.spark, tracer)
        except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
            self.failed += 1
            traceback.print_exc()
            say(f"op {self.attempted - 1} {label}: raised")
            return None
        problems = self.workload.check(outputs)
        if self.self_test and not self.workload.check(self.workload.degraded(outputs)):
            problems.append("the output check accepted degraded outputs")
        if problems:
            self.failed += 1
        say(f"op {self.attempted - 1} {label}: {wall:.3f} s", "ok" if not problems else f"FAILED {problems}")
        return wall, units


def family_seconds(workload, units: dict) -> dict[str, float]:
    fams = getattr(workload, "families", None) or {}
    return {f: sum(units[q] for q in qs) for f, qs in fams.items()}


def end_to_end(workload, loop: Loop, seconds: float, setup_s: float) -> dict:
    cold = loop.once(Tracer(False), "cold")
    if cold is None:
        raise RuntimeError("the cold operation raised")
    measured = [cold]
    if workload.warm:
        measured = []
        t0 = time.perf_counter()
        while True:
            measured.append(loop.once(Tracer(False), "warm"))
            if time.perf_counter() - t0 >= seconds:
                break
        measured = [m for m in measured if m is not None]
        if not measured:
            raise RuntimeError("no warm operation completed")
    kind = "warm" if workload.warm else "cold"
    walls = [wall for wall, _ in measured]
    median = statistics.median(walls)
    # too few samples for a percentile: the maximum is the highest one
    say(f"op_s median {median:.3f} s, max {max(walls):.3f} s over {len(walls)} {kind} operations")
    for fam in family_seconds(workload, cold[1]):
        vals = [family_seconds(workload, units)[fam] for _, units in measured]
        say(f"{fam}_s median {statistics.median(vals):.3f} s over {len(vals)} {kind} passes")
    for q in cold[1]:
        say(f"q.{q}_s median {statistics.median(u[q] for _, u in measured):.3f} s over {len(measured)} {kind} passes")
    return {
        "op_s": (median, "s"),
        "op_cold_s": (cold[0], "s"),
        "rows_per_s": (workload.rows / median, "1/s"),
        "setup_s": (setup_s, "s"),
    }


def traced(workload, loop: Loop, spark, scratch: Scratch, session_s: float, inputs_s: float):
    """The operation end_to_end measures, traced (after an untraced cold
    one when it measures warm operations), and the workload's probes;
    returns (per-layer JSON metrics, report-only layer breakdown, spans)."""
    if workload.warm:
        loop.once(Tracer(False), "cold")
    tracer = Tracer(True)
    with tracer.span("op"):
        traced_op = loop.once(tracer, "traced")
    if traced_op is None:
        raise RuntimeError("the traced operation raised")
    bookkeeping_s = tracer.bookkeeping_s
    report = workload.layer_probes(spark, tracer)
    rss = peak_rss_mb(jvm_pid(spark))
    stop_spark(spark)

    wall = traced_op[0]
    stats = attribute(tracer.spans, read_event_log(scratch.events))
    op = stats["op"]
    metrics = {
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (inputs_s, "s"),
        "op.call_s": (sum(s.end - s.start for s in tracer.spans if s.name.endswith(".call")), "s"),
        "op.result_s": (sum(s.end - s.start for s in tracer.spans if s.name.endswith(".result")), "s"),
        "op.jobs": (op.jobs, "count"),
        "op.stages": (op.stages, "count"),
        "op.tasks": (op.tasks, "count"),
        "op.task_cpu_s": (op.task_cpu_s, "s"),
        "op.shuffle_write_mb": (op.shuffle_write_mb, "MB"),
        "op.spill_mb": (op.spill_mb, "MB"),
        "op.occupancy": (op.task_run_s / (wall * CORES), "ratio"),
        "jvm.peak_rss_mb": (rss, "MB"),
        # traced ÷ untraced wall of the operation, the untraced one
        # estimated as the traced one less the tracer's own bookkeeping
        "trace.overhead": (wall / (wall - bookkeeping_s), "ratio"),
    }
    for s in tracer.spans:
        st = stats[s.name]
        if s.name.startswith("q.") and not s.name.endswith((".call", ".result")):
            report[f"{s.name}_s"] = (s.end - s.start, "s")
            report[f"{s.name}.jobs"] = (st.jobs, "count")
        elif s.name.startswith("rule.") or s.name == "suite.empty":
            report[f"{s.name}.jobs"] = (st.jobs, "count")
            report[f"{s.name}.shuffle_mb"] = (st.shuffle_write_mb, "MB")
            report[f"{s.name}.task_cpu_s"] = (st.task_cpu_s, "s")
    for f, v in family_seconds(workload, traced_op[1]).items():
        report[f"{f}_s"] = (v, "s")
    return metrics, report, tracer.spans


def write_trace(path: str, metrics: dict, report: dict, spans) -> None:
    for name, (v, unit) in sorted(report.items()):
        say(f"layer {name} {v:.4f} {unit}" if isinstance(v, float) else f"layer {name} {v} {unit}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [s.__dict__ for s in spans],
                "metrics": {k: v for k, (v, _) in metrics.items()},
                "layers": {k: v for k, (v, _) in report.items()},
            },
            f,
            indent=1,
        )
    say(f"spans and layer metrics written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "anomaly_detection_spark", "__init__.py")):
        print(f"no engine sources under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    say(
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"
        f" size={args.size} nproc={len(os.sched_getaffinity(0))}"
        f" loadavg={[round(x, 2) for x in os.getloadavg()]} master=local[{CORES}]"
    )
    workload = make_workload(args.workload, args.size)
    say(f"inputs: {workload.describe()}")
    scratch = Scratch(os.path.join(ROOT, ".perfbench", "scratch"))
    scratch.export_env()
    try:
        t0 = time.perf_counter()
        spark = start_spark(scratch, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        loop = Loop(workload, spark, self_test=args.size == "smoke")
        try:
            # both generators take a non-negative seed below 2**31
            inputs_s = workload.setup(spark, scratch, args.seed % 2**31)
            say(f"setup: session {session_s:.3f} s, inputs {inputs_s:.3f} s")
            if args.trace:
                metrics, report, spans = traced(workload, loop, spark, scratch, session_s, inputs_s)
                path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
                write_trace(path, metrics, report, spans)
            else:
                metrics = end_to_end(workload, loop, args.seconds, session_s + inputs_s)
        finally:
            stop_spark(spark)
    finally:
        scratch.close()
    say(f"error_rate {loop.failed}/{loop.attempted}")
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

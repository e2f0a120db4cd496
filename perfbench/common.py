"""Shared pieces of the benchmark: the per-run scratch root, the Spark
session, spans, and the event-log reader.

Nothing here reaches into the engine's internals: the session comes from
``anomaly_detection_spark.session.get_spark`` and every number is taken
around calls the benchmark itself makes.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4  # local[4]: the host class this benchmark was calibrated on


class Scratch:
    """One directory per run for everything the run writes: TMPDIR, Spark
    local dirs, the event log, input tables and stores. Removed by
    :meth:`close`, so nothing of a run outlives it."""

    def __init__(self, parent: str):
        os.makedirs(parent, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=parent)
        self.tmp = self.path("tmp")
        self.local = self.path("spark-local")
        self.events = self.path("events")
        self._n = 0

    def path(self, name: str) -> str:
        p = os.path.join(self.root, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, prefix: str) -> str:
        """A new empty directory (one per store, one per input build)."""
        self._n += 1
        return self.path(f"{prefix}-{self._n:03d}")

    def export_env(self) -> None:
        # before the JVM and any tempfile user start: Python workers,
        # the engine's mkdtemp calls and Spark's block manager all land
        # under this run's root
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp
        # Spark's Python workers are separate processes: they find the
        # package only through PYTHONPATH, never through sys.path edits
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(scratch: Scratch, trace: bool):
    """local[4] session with the engine's standard confs. The traced run
    also writes a Spark event log into the scratch root."""
    from anomaly_detection_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch.tmp} -XX:-UsePerfData",
        "spark.local.dir": scratch.local,
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + scratch.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    check_workers_import(spark)
    return spark


def check_workers_import(spark) -> None:
    """Fail the set-up when Python workers cannot import the engine: a
    worker-side ModuleNotFoundError would otherwise degrade rules to
    Unknown verdicts and look like a faster run."""

    def probe(_):
        import anomaly_detection_spark

        return anomaly_detection_spark.__name__

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    if got != ["anomaly_detection_spark"]:
        raise RuntimeError(f"Python workers cannot import the engine: {got}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def peak_rss_mb(pid: int) -> float:
    """VmHWM of a process, in MiB (0.0 where /proc is unavailable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (its Python
    worker daemons exit with it). A second call does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


@dataclass
class Tracer:
    """Spans recorded around the benchmark's calls into each layer, kept
    in memory (run.py writes them out once at the end). A disabled tracer
    records nothing. ``bookkeeping_s`` is the time the tracer itself
    spent inside its spans, outside the traced calls: what tracing adds
    to an operation's wall time."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        c1 = time.perf_counter()
        try:
            yield
        finally:
            c2 = time.perf_counter()
            t1 = time.time()
            self._stack.pop()
            self.spans.append(Span(name, t0, t1, parent))
            self.bookkeeping_s += (c1 - c0) + (time.perf_counter() - c2)


# ------------------------------------------------------------- event log


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(events_dir: str) -> list[tuple[float, JobStats]]:
    """(submission time in epoch seconds, stats) per Spark job, from the
    event log of a stopped session. Task metrics are summed per stage and
    charged to the job that submitted the stage (a stage shared by two
    jobs counts once, for the first)."""
    files = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {files}")
    jobs: dict[int, tuple[float, JobStats]] = {}
    stage_job: dict[int, int] = {}
    mb = 1024.0 * 1024.0
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                st = JobStats(jobs=1)
                jobs[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, st)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is not None:
                    jobs[job][1].stages += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                st = jobs[job][1]
                st.tasks += 1
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                st.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
                st.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
    return sorted(jobs.values(), key=lambda x: x[0])


def attribute(spans: list[Span], jobs: list[tuple[float, JobStats]]) -> dict[str, JobStats]:
    """Totals per span name of the jobs submitted while the span was open
    (inclusive: a job counts for a span and all its ancestors)."""
    out = {s.name: JobStats() for s in spans}
    for t, st in jobs:
        for s in spans:
            if s.start <= t <= s.end:
                out[s.name].add(st)
    return out

"""Workload ``suite_bulk``: the scheduled full-suite scan.

One operation is ``default_suite().run(...)`` over a seeded
``documents_interleaved`` table written once to partitioned parquet, on a
fresh empty store, until the verdicts are collected and the violation
keys are fetched. Every operation's output is checked against an
expectation computed in set-up without Spark or the engine's rule code
(see :func:`expected_outputs`).
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Scratch, Tracer

N_PARTITIONS = 16

MONOTONE = "spans.monotone_offset"
KIND = "spans.valid_kind"
PAYLOAD = "spans.payload_presence"
UNIQUE = "unique.doc_id"
RI = "ri.media_ref"
DOC_RULES = (MONOTONE, KIND, PAYLOAD, UNIQUE, RI)

# The commit log, event log and asset catalog do not depend on the
# workload seed (they hold the planted freshness/volume scenarios), so
# the verdicts of the three commit-history rules are the same for every
# seed. Recorded from default_suite() at 16 partitions: partition 1 is
# the stopped stream, 2 the volume drop, 3 the static table; 4 and 13
# have planted gaps (filtered operations and empty writes) long enough
# to read as stale. Every other pair is Healthy.
COMMIT_VERDICTS = {
    ("completeness.volume", 2): "Unhealthy",
    ("completeness.volume", 3): "Unknown",
    ("freshness.commit", 1): "Unhealthy",
    ("freshness.commit", 4): "Unhealthy",
    ("freshness.commit", 13): "Unhealthy",
}
COMMIT_RULES = ("completeness.volume", "freshness.commit", "freshness.event")
FOLD_ORDER = ("Unhealthy", "Unknown", "Skipped", "Healthy")  # worst first

# single-rule suites timed in the traced run ("docscan" is the fused
# spans + uniqueness pass the full suite uses on <= 4 cores)
RULE_PROBES = {
    "docscan": ("spans", "uniqueness"),
    "spans": ("spans",),
    "uniqueness": ("uniqueness",),
    "referential": ("referential",),
    "profile": ("profile",),
    "drift": ("drift",),
    "completeness": ("completeness",),
    "freshness": ("freshness",),
    "event_freshness": ("event_freshness",),
}


@dataclass
class Inputs:
    docs_dir: str
    docs: object
    catalog: object
    commits: object
    events: object
    edges: object
    queries_per_table: object


@dataclass
class Expected:
    verdicts: frozenset
    n_violations: int
    digest: str


def build_inputs(spark, scratch: Scratch, seed: int, n_docs: int) -> tuple[Inputs, float]:
    """Write the documents table once; returns the inputs and the build
    time."""
    from anomaly_detection_spark.sources.synthetic import (
        asset_catalog,
        commits_log,
        documents_interleaved,
        events_log,
        lineage_edges,
        queries_per_table,
    )

    docs_dir = scratch.fresh("docs")
    t0 = time.perf_counter()
    documents_interleaved(spark, n_docs, n_partitions=N_PARTITIONS, seed=seed).write.mode(
        "overwrite"
    ).partitionBy("partition_id").parquet(docs_dir)
    build_s = time.perf_counter() - t0
    inputs = Inputs(
        docs_dir=docs_dir,
        docs=spark.read.parquet(docs_dir),
        catalog=asset_catalog(spark, 4096),
        commits=commits_log(spark, N_PARTITIONS),
        events=events_log(spark, N_PARTITIONS),
        edges=lineage_edges(spark, N_PARTITIONS),
        queries_per_table=queries_per_table(spark),
    )
    return inputs, build_s


def _digest(keys) -> str:
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(repr(k).encode())
    return h.hexdigest()


def expected_outputs(inputs: Inputs) -> Expected:
    """Expected verdicts and violation keys, from the parquet files read
    with pyarrow and the rule definitions restated over the flattened
    spans with numpy."""
    refs = [r.media_ref for r in inputs.catalog.select("media_ref").collect()]
    table = pq.read_table(inputs.docs_dir, columns=["doc_id", "partition_id", "spans"])
    doc_ids = table.column("doc_id").to_pylist()
    pids = np.array([int(p) for p in table.column("partition_id").to_pylist()])
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    row = pc.list_parent_indices(spans).to_numpy()

    def flag(arr) -> np.ndarray:
        return arr.fill_null(False).to_numpy(zero_copy_only=False)

    kind, text, ref = flat.field("kind"), flat.field("text"), flat.field("media_ref")
    is_text = flag(pc.equal(kind, "text"))
    is_media = flag(pc.equal(kind, "media"))
    blank_text = flag(pc.equal(text, "")) | flag(pc.is_null(text))
    blank_ref = flag(pc.equal(ref, "")) | flag(pc.is_null(ref))
    offset = flat.field("offset")
    off = offset.fill_null(0).to_numpy(zero_copy_only=False)
    off_null = flag(pc.is_null(offset))
    # a span breaks monotonicity when it follows a span of the same doc
    # and has no offset, or an offset not above a non-null previous one
    follows = np.zeros(len(row), bool)
    follows[1:] = row[1:] == row[:-1]
    nonmono = np.zeros(len(row), bool)
    nonmono[1:] = off_null[1:] | (~off_null[:-1] & (off[1:] <= off[:-1]))
    dangling = pc.filter(ref, pa.array(is_media & ~blank_ref & ~flag(pc.is_in(ref, pa.array(refs)))))
    in_dangling = flag(pc.is_in(ref, pc.unique(dangling)))
    dup = {d for d, n in Counter(doc_ids).items() if n > 1}

    bad_rows = {
        KIND: row[~(is_text | is_media)],
        PAYLOAD: row[(is_text & blank_text) | (is_media & blank_ref)],
        MONOTONE: row[follows & nonmono],
        RI: row[in_dangling],
        UNIQUE: [i for i, d in enumerate(doc_ids) if d in dup],
    }
    keys = {(doc_ids[i], rule, int(pids[i])) for rule, rows in bad_rows.items() for i in set(rows)}

    bad = {(rule, p) for _, rule, p in keys}
    verdicts = set()
    for p in sorted(set(pids.tolist())):
        statuses = {r: ("Unhealthy" if (r, p) in bad else "Healthy") for r in DOC_RULES}
        statuses["profile.doc_id"] = statuses["profile.n_spans"] = "Healthy"
        statuses["drift.distribution"] = "Unknown"  # fresh store: no baseline
        for r in COMMIT_RULES:
            statuses[r] = COMMIT_VERDICTS.get((r, p), "Healthy")
        statuses["overall"] = min(statuses.values(), key=FOLD_ORDER.index)
        verdicts.update((p, r, s) for r, s in statuses.items())
    return Expected(frozenset(verdicts), len(keys), _digest(keys))


def check(expected: Expected, verdicts, keys) -> list[str]:
    problems = []
    errors = [v for v in verdicts if v.error_message is not None]
    if errors:
        problems.append(f"{len(errors)} verdicts carry an error, e.g. {errors[0]}")
    got = {(v.partition_id, v.rule_id, v.status) for v in verdicts}
    if len(verdicts) != len(got) or got != expected.verdicts:
        missing = sorted(expected.verdicts - got)[:3]
        extra = sorted(got - expected.verdicts)[:3]
        problems.append(f"verdicts differ: missing {missing}, unexpected {extra}")
    tuples = [tuple(k) for k in keys]
    if len(tuples) != expected.n_violations or _digest(tuples) != expected.digest:
        problems.append(f"violations differ: {len(tuples)} rows, expected {expected.n_violations}")
    return problems


def run_suite(spark, inputs: Inputs, store_dir: str, tracer: Tracer, kinds=None, collect=True):
    """One suite run on a fresh store: ``default_suite()``, or a suite of
    only ``kinds``. Returns (wall seconds, verdict rows, violation key
    rows); with ``collect=False`` the wall covers the run() call alone."""
    from anomaly_detection_spark.plans.suite import Rule, RuleSuite, default_suite
    from anomaly_detection_spark.sources.catalog import LocalParquetCatalog

    suite = default_suite() if kinds is None else RuleSuite([Rule(k) for k in kinds])
    store = LocalParquetCatalog(store_dir)
    t0 = time.perf_counter()
    with tracer.span("suite.call"):
        res = suite.run(
            spark,
            inputs.docs,
            inputs.catalog,
            inputs.commits,
            store=store,
            events=inputs.events,
            lineage_edges=inputs.edges,
            queries_per_table=inputs.queries_per_table,
        )
    if not collect:
        return time.perf_counter() - t0, None, None
    with tracer.span("suite.result"):
        verdicts = res.verdicts.select("partition_id", "rule_id", "status", "error_message").collect()
        keys = res.violations.select("doc_id", "rule_id", "partition_id").collect()
    return time.perf_counter() - t0, verdicts, keys


def store_stats(spark, store_dir: str) -> dict:
    """Appends, files and MiB the run left in its store, and the time to
    read and count both tables back."""
    from anomaly_detection_spark.plans.suite import LINEAGE_SCHEMA, VIOLATIONS_SCHEMA
    from anomaly_detection_spark.sources.catalog import LocalParquetCatalog

    appends = files = size = 0
    for table in ("_dq_lineage", "_dq_violations"):
        tdir = os.path.join(store_dir, table)
        for sub in os.listdir(tdir) if os.path.isdir(tdir) else ():
            appends += 1
            for f in os.listdir(os.path.join(tdir, sub)):
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(tdir, sub, f))
    store = LocalParquetCatalog(store_dir)
    t0 = time.perf_counter()
    for table, schema in (("_dq_lineage", LINEAGE_SCHEMA), ("_dq_violations", VIOLATIONS_SCHEMA)):
        store.read(spark, table, schema).count()
    return {
        "store.appends": (appends, "count"),
        "store.files": (files, "count"),
        "store.mb_written": (size / 1024.0 / 1024.0, "MB"),
        "store.read_s": (time.perf_counter() - t0, "s"),
    }


class SuiteBulk:
    warm = True  # op_s is the warm suite run, as in a long-lived session

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.rows = n_docs

    def setup(self, spark, scratch: Scratch, seed: int) -> float:
        self.scratch = scratch
        self.inputs, build_s = build_inputs(spark, scratch, seed, self.n_docs)
        self.expected = expected_outputs(self.inputs)
        return build_s

    def operation(self, spark, tracer: Tracer) -> tuple[float, tuple, dict]:
        self.last_store = self.scratch.fresh("store")
        wall, verdicts, keys = run_suite(spark, self.inputs, self.last_store, tracer)
        return wall, (verdicts, keys), {}

    def check(self, outputs) -> list[str]:
        return check(self.expected, *outputs)

    @staticmethod
    def degraded(outputs):
        """The outputs a run with broken worker imports produces: rules
        turned Unknown with an error message (for the smoke self-test)."""
        from pyspark.sql import Row

        verdicts, keys = outputs
        bad = [
            Row(partition_id=v.partition_id, rule_id=v.rule_id, status="Unknown",
                error_message="ModuleNotFoundError: No module named 'anomaly_detection_spark'")
            if v.rule_id == RI else v
            for v in verdicts
        ]
        return bad, [k for k in keys if k.rule_id != RI]

    def layer_probes(self, spark, tracer: Tracer) -> dict:
        """Per-layer numbers only the traced run takes: the store left by
        the last operation, the empty suite, and one suite per rule kind."""
        out = store_stats(spark, self.last_store)
        with tracer.span("suite.empty"):
            wall, _, _ = run_suite(spark, self.inputs, self.scratch.fresh("store"), Tracer(False), kinds=())
        out["suite.empty_s"] = (wall, "s")
        for probe, kinds in RULE_PROBES.items():
            with tracer.span(f"rule.{probe}"):
                wall, _, _ = run_suite(
                    spark, self.inputs, self.scratch.fresh("store"), Tracer(False), kinds=kinds, collect=False
                )
            out[f"rule.{probe}_s"] = (wall, "s")
        return out

    def describe(self) -> str:
        return f"{self.n_docs} docs in {N_PARTITIONS} partitions, default_suite(), fresh store per operation"


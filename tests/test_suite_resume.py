"""End-to-end rule-suite + checkpoint/resume tests (SURVEY.md §5 item 4)."""

import pyspark.sql.functions as F
import pytest

from anomaly_detection_spark.plans.suite import Rule, RuleSuite, default_suite
from anomaly_detection_spark.sources.catalog import LocalParquetCatalog
from anomaly_detection_spark.sources.synthetic import (
    asset_catalog,
    commits_log,
    documents_interleaved,
    events_log,
)


@pytest.fixture()
def inputs(spark):
    docs = documents_interleaved(spark, 4000, n_partitions=4, seed=42)
    return docs, asset_catalog(spark, 1024), commits_log(spark, 4), events_log(spark, 4)


def test_full_suite_and_resume_no_recompute(spark, inputs, tmp_path):
    docs, cat, commits, events = inputs
    store = LocalParquetCatalog(str(tmp_path / "store"))
    suite = default_suite()
    r1 = suite.run(spark, docs, cat, commits, store=store, events=events)
    v1 = sorted(
        (r["partition_id"], r["rule_id"], r["status"]) for r in r1.verdicts.collect()
    )
    assert r1.skipped_pairs == 0
    assert len(v1) > 0

    r2 = suite.run(spark, docs, cat, commits, store=store, events=events)
    v2 = sorted(
        (r["partition_id"], r["rule_id"], r["status"]) for r in r2.verdicts.collect()
    )
    # zero recompute: every (rule, partition) pair skipped, verdicts identical
    assert r2.skipped_pairs > 0
    assert v1 == v2
    # no duplicate lineage rows for the same (partition, rule)
    lineage = store.read(spark, "_dq_lineage")
    dupes = (
        lineage.groupBy("partition_id", "rule_id", "config_hash")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dupes == 0


def test_resume_after_partial_run(spark, inputs, tmp_path):
    """Simulated kill after k rules: pre-populate the store with the
    lineage of a prefix of the suite (same config hash — the prefix run
    writes under the FULL suite's hash, exactly what a crashed full run
    leaves behind), then run the full suite → completed pairs skipped,
    final verdicts identical to an uninterrupted fresh run."""
    docs, cat, commits, events = inputs
    full = default_suite()

    # crashed run: execute only the first two rules, writing lineage
    # under the full suite's config hash
    store = LocalParquetCatalog(str(tmp_path / "store"))
    crashed = RuleSuite(full.rules[:2], eval_time=full.eval_time)
    crashed.config_hash = full.config_hash  # same config identity
    c = crashed.run(spark, docs, cat, commits, store=store, events=events)
    n_completed = (
        store.read(spark, "_dq_lineage").select("partition_id", "rule_id").distinct().count()
    )
    assert n_completed > 0

    # resumed full run on the crashed store
    r = full.run(spark, docs, cat, commits, store=store, events=events)
    assert r.skipped_pairs > 0

    # uninterrupted reference run on a fresh store
    rf = full.run(spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / "fresh")), events=events)
    a = sorted((x["partition_id"], x["rule_id"], x["status"]) for x in r.verdicts.collect())
    b = sorted((x["partition_id"], x["rule_id"], x["status"]) for x in rf.verdicts.collect())
    assert a == b


def test_violations_match_plants_exactly(spark, tmp_path):
    """Property check: every planted violation produces exactly one
    violation row; plants are recomputed independently in Python."""
    import pandas as pd

    n = 5000
    docs = documents_interleaved(spark, n, n_partitions=4, seed=42)
    pdf = docs.toPandas()

    # independent recompute of expected violating doc_ids from the data
    # itself (not the generator's plant logic)
    exp_kind, exp_payload, exp_mono = set(), set(), set()
    for _, row in pdf.iterrows():
        prev = None
        for j, s in enumerate(row["spans"]):
            if s["kind"] not in ("text", "media"):
                exp_kind.add(row["doc_id"])
            elif s["kind"] == "text" and (s["text"] is None or s["text"] == ""):
                exp_payload.add(row["doc_id"])
            elif s["kind"] == "media" and (s["media_ref"] is None or s["media_ref"] == ""):
                exp_payload.add(row["doc_id"])
            if prev is not None and s["offset"] <= prev["offset"]:
                exp_mono.add(row["doc_id"])
            prev = s

    from anomaly_detection_spark.operators.spans import (
        RULE_KIND,
        RULE_MONOTONE,
        RULE_PAYLOAD,
        span_violations,
    )

    got = span_violations(docs).toPandas()
    got_by_rule = {r: set(g["doc_id"]) for r, g in got.groupby("rule_id")}
    assert got_by_rule.get(RULE_KIND, set()) == exp_kind
    assert got_by_rule.get(RULE_PAYLOAD, set()) == exp_payload
    assert got_by_rule.get(RULE_MONOTONE, set()) == exp_mono
    assert len(exp_kind) > 0 and len(exp_payload) > 0 and len(exp_mono) > 0


def test_drift_rule_across_runs(spark, tmp_path):
    """Drift rule: first run Unknown (baseline stored), same-distribution
    rerun Healthy, shifted-distribution rerun Unhealthy."""
    import pyspark.sql.functions as F

    store = LocalParquetCatalog(str(tmp_path / "drift_store"))
    docs = documents_interleaved(spark, 4000, n_partitions=4, seed=42)

    r1 = RuleSuite([Rule("drift")], eval_time="2025-08-15 00:00:00").run(
        spark, docs, store=store
    )
    s1 = {r["partition_id"]: r["status"] for r in r1.verdicts.collect()}
    assert set(s1.values()) == {"Unknown"}

    r2 = RuleSuite([Rule("drift")], eval_time="2025-08-16 00:00:00").run(
        spark, docs, store=store
    )
    s2 = {r["partition_id"]: r["status"] for r in r2.verdicts.collect()}
    assert set(s2.values()) == {"Healthy"}

    shifted = docs.withColumn("spans", F.slice("spans", 1, 2))  # span-count dist collapses
    r3 = RuleSuite([Rule("drift")], eval_time="2025-08-17 00:00:00").run(
        spark, shifted, store=store
    )
    s3 = {r["partition_id"]: r["status"] for r in r3.verdicts.collect()}
    assert set(s3.values()) == {"Unhealthy"}


def test_suite_json_roundtrip(spark):
    suite = default_suite()
    suite2 = RuleSuite.from_json(suite.to_json())
    assert suite2.config_hash() == suite.config_hash()
    assert [r.kind for r in suite2.rules] == [r.kind for r in suite.rules]
    s3 = RuleSuite([Rule("profile", {"null_rate_max": 0.5})], eval_time="2025-01-01 00:00:00")
    s4 = RuleSuite.from_json(s3.to_json())
    assert s4.rules[0].params == {"null_rate_max": 0.5}
    assert s4.config_hash() == s3.config_hash()


def test_rule_failure_degrades_to_unknown_and_retries(spark, inputs, tmp_path, monkeypatch):
    """M16 parity: a crashing rule yields Unknown verdicts with an error
    code instead of failing the run; the other rules are unaffected, and
    errored pairs are retried on the next run (error rows don't
    checkpoint)."""
    docs, cat, commits, _events = inputs
    store = LocalParquetCatalog(str(tmp_path / "store"))
    suite = RuleSuite([Rule("spans"), Rule("uniqueness"), Rule("referential")], parallel_rules=1)

    boom = RuntimeError("model failed to converge")
    orig = RuleSuite._compile_referential
    monkeypatch.setattr(
        RuleSuite, "_compile_referential", lambda self, *a, **k: (_ for _ in ()).throw(boom)
    )
    r1 = suite.run(spark, docs, cat, commits, store=store)
    by_rule = {}
    for row in r1.verdicts.collect():
        by_rule.setdefault(row["rule_id"], []).append(row)
    ri = by_rule["ri.media_ref"]
    assert len(ri) == 4
    assert all(v["status"] == "Unknown" for v in ri)
    assert all(v["metrics"]["error_code"] == "MODEL_FIT_FAILED" for v in ri)
    assert all("converge" in v["error_message"] for v in ri)
    # the doc-scan rules still ran normally
    for rid in ("spans.monotone_offset", "unique.doc_id"):
        assert all(v["status"] in ("Healthy", "Unhealthy") for v in by_rule[rid])

    # restore and rerun: referential retries (doc-scan rules skipped),
    # verdicts heal
    monkeypatch.setattr(RuleSuite, "_compile_referential", orig)
    r2 = suite.run(spark, docs, cat, commits, store=store)
    ri2 = [v for v in r2.verdicts.collect() if v["rule_id"] == "ri.media_ref"]
    assert len(ri2) == 4
    assert all(v["status"] in ("Healthy", "Unhealthy") for v in ri2)
    assert r2.skipped_pairs == 8  # spans + uniqueness pairs were checkpointed


def test_violation_cap_downsamples_but_keeps_exact_metrics(spark, tmp_path):
    """Stored violation examples are capped per (rule, partition); the
    verdict metrics keep exact counts."""
    docs = documents_interleaved(spark, 8000, n_partitions=4, seed=42)
    store = LocalParquetCatalog(str(tmp_path / "store"))
    suite = RuleSuite([Rule("uniqueness")], max_violations_per_pair=10)
    r = suite.run(spark, docs, store=store)
    stored = r.violations.groupBy("partition_id").count().collect()
    # partition 0 holds the hot key (~80 dup rows at n=8000) → capped
    per_part = {x["partition_id"]: x["count"] for x in stored}
    assert per_part[0] <= 30  # ~10 expected; hash sampling is approximate
    v = {x["partition_id"]: x for x in r.verdicts.collect() if x["rule_id"] == "unique.doc_id"}
    assert int(v[0]["metrics"]["duplicate_rows"]) > 30  # exact count retained


def _stored_violations(spark, store):
    """The stored violation rows without their run_id, as a multiset."""
    rows = store.read(spark, "_dq_violations").select(
        "doc_id", "rule_id", "partition_id", F.to_json("offending_spans").alias("spans")
    )
    return sorted(tuple(r) for r in rows.collect())


def test_violation_cap_below_every_pair_stores_every_row(spark, inputs, tmp_path):
    """The example cap only cuts pairs above it: with a group total at
    or below the cap, or above it with every (rule, partition) pair at
    or below it, the stored violation rows equal an uncapped run's."""
    docs, cat, commits, _events = inputs
    rules = [Rule("spans"), Rule("uniqueness"), Rule("referential")]

    def stored(cap, name):
        store = LocalParquetCatalog(str(tmp_path / name))
        RuleSuite(rules, max_violations_per_pair=cap).run(spark, docs, cat, commits, store=store)
        return _stored_violations(spark, store)

    want = stored(None, "uncapped")
    per_pair = {}
    for _doc, rid, part, _spans in want:
        per_pair[(rid, part)] = per_pair.get((rid, part), 0) + 1
    ri_total = sum(n for (rid, _), n in per_pair.items() if rid == "ri.media_ref")
    docscan_total = sum(per_pair.values()) - ri_total
    assert max(per_pair.values()) < docscan_total
    assert stored(max(ri_total, docscan_total), "totals_at_cap") == want
    assert stored(max(per_pair.values()), "pairs_at_cap") == want


class _LosesDocscanLineage(LocalParquetCatalog):
    """A store whose doc-scan group lineage append never lands: the
    job dies between that group's violations append and its lineage
    append."""

    def append(self, table, df):
        if table == "_dq_lineage":
            ids = {r.rule_id for r in df.select("rule_id").distinct().collect()}
            if "unique.doc_id" in ids:
                return
        super().append(table, df)


def test_crash_between_a_groups_two_appends_reruns_the_group(spark, inputs, tmp_path):
    """One commit per rule group: a crash after the doc-scan group's
    violations append but before its lineage append leaves orphaned
    violations and no checkpoint for any of its four rule ids. The
    resumed run re-evaluates all four, returns none of the orphans,
    and gives the verdicts and violation keys of an uninterrupted
    run."""
    docs, cat, commits, events = inputs
    suite = default_suite()
    root = str(tmp_path / "store")
    crashed = suite.run(spark, docs, cat, commits, store=_LosesDocscanLineage(root), events=events)
    store = LocalParquetCatalog(root)
    assert store.read(spark, "_dq_violations").filter(
        F.col("rule_id") == "unique.doc_id"
    ).count() > 0

    resumed = suite.run(spark, docs, cat, commits, store=store, events=events)
    fresh = suite.run(
        spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / "fresh")), events=events
    )

    docscan_ids = {"spans.monotone_offset", "spans.valid_kind", "spans.payload_presence", "unique.doc_id"}
    others = [r for r in suite.rules if r.kind not in ("spans", "uniqueness")]
    assert resumed.skipped_pairs == 4 * len(others)
    rows = resumed.verdicts.collect()
    assert {v["run_id"] for v in rows if v["rule_id"] in docscan_ids} == {resumed.run_id}
    assert {v["run_id"] for v in rows if v["rule_id"] not in docscan_ids | {"overall"}} == {
        crashed.run_id
    }

    def verdicts(res):
        return sorted(
            (v["partition_id"], v["rule_id"], v["status"], sorted(v["metrics"].items()))
            for v in res.verdicts.collect()
        )

    def violation_keys(res):
        return sorted((x["doc_id"], x["rule_id"], x["partition_id"]) for x in res.violations.collect())

    assert verdicts(resumed) == verdicts(fresh)
    assert violation_keys(resumed) == violation_keys(fresh)
    assert not resumed.violations.filter(
        F.col("rule_id").isin(list(docscan_ids)) & (F.col("run_id") != resumed.run_id)
    ).count()


def test_jobs_per_suite_run_are_pinned(spark, inputs, tmp_path):
    """Spark jobs of one serial default_suite() run on a fresh store,
    and of fetching its result: a fan-out regression (an extra eager
    action per rule group, a tail computed twice) fails here."""
    docs, cat, commits, events = inputs
    sc = spark.sparkContext
    suite = RuleSuite(default_suite().rules, parallel_rules=1)

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    res, n_run = jobs(
        "pin-suite-run",
        lambda: suite.run(
            spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / "s")), events=events
        ),
    )
    _, n_result = jobs("pin-suite-result", lambda: (res.verdicts.collect(), res.violations.collect()))
    # measured on this fixture
    assert n_run <= 69, n_run
    assert n_result <= 6, n_result


def test_repeated_suite_run_reuses_generated_code(spark, inputs, tmp_path):
    """A second suite run in one session compiles (almost) no new
    whole-stage-codegen classes: the session's codegen class cache holds
    a whole run's working set (~240 classes). With Spark's default of
    100 entries the second run recompiled ~240 of them."""
    docs, cat, commits, events = inputs
    suite = RuleSuite(default_suite().rules, parallel_rules=1)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(name):
        res = suite.run(spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / name)), events=events)
        res.verdicts.collect()
        res.violations.collect()

    run("first")
    before = compiles.getCount()
    run("second")
    n = compiles.getCount() - before
    # measured on this fixture: 239 at 100 entries, 4 at 2000
    assert n <= 16, n


def test_overall_fold_row_with_impact_and_debug(spark, inputs, tmp_path):
    """M10 + M17 wiring: each partition gets exactly one 'overall' fold
    row (worst-of all rule statuses), carrying the downstream-impact
    struct and the per-rule nested debug map; a fully-resumed run reuses
    the stored overall rows without duplicating them."""
    from anomaly_detection_spark.sources.synthetic import lineage_edges, queries_per_table

    docs, cat, commits, events = inputs
    store = LocalParquetCatalog(str(tmp_path / "store"))
    suite = default_suite()
    r1 = suite.run(
        spark, docs, cat, commits, store=store, events=events,
        lineage_edges=lineage_edges(spark, 4), queries_per_table=queries_per_table(spark),
    )
    overall = [v for v in r1.verdicts.collect() if v["rule_id"] == "overall"]
    parts = sorted(v["partition_id"] for v in overall)
    assert parts == [0, 1, 2, 3]
    for v in overall:
        # worst-of fold: planted doc violations exist in every partition
        assert v["status"] == "Unhealthy"
        assert v["downstream_impact"] is not None
        assert 1 <= v["downstream_impact"]["impact_level"] <= 4
        # nested per-rule debug map covers the per-rule verdicts
        assert "unique.doc_id" in v["additional_debug_info"]
        assert "freshness.event" in v["additional_debug_info"]
    # event-freshness rule rows exist and carry latency metrics
    ev = [v for v in r1.verdicts.collect() if v["rule_id"] == "freshness.event"]
    assert len(ev) == 4
    assert all("actual_latency_sec" in v["metrics"] for v in ev)

    # resumed run: no new overall rows (exactly one per partition stays)
    r2 = suite.run(
        spark, docs, cat, commits, store=store, events=events,
        lineage_edges=lineage_edges(spark, 4), queries_per_table=queries_per_table(spark),
    )
    lineage = store.read(spark, "_dq_lineage")
    n_overall = lineage.filter(F.col("rule_id") == "overall").count()
    assert n_overall == 4
    v2 = sorted((x["partition_id"], x["rule_id"], x["status"]) for x in r2.verdicts.collect())
    v1 = sorted((x["partition_id"], x["rule_id"], x["status"]) for x in r1.verdicts.collect())
    assert v1 == v2


def _kernel_expectations(docs):
    """Per-(partition, rule) verdicts and violation triplets of the
    span and uniqueness rules, straight from the operator kernels:
    ``span_violations`` and ``duplicate_keys`` joined back to the docs."""
    from anomaly_detection_spark.operators.spans import span_violations
    from anomaly_detection_spark.operators.uniqueness import duplicate_keys

    span_rules = ("spans.monotone_offset", "spans.valid_kind", "spans.payload_presence")
    sv = {(x["doc_id"], x["rule_id"], x["partition_id"]) for x in span_violations(docs).collect()}
    dup = {x["doc_id"] for x in duplicate_keys(docs, "doc_id").collect()}
    rows = [(x["doc_id"], x["partition_id"]) for x in docs.select("doc_id", "partition_id").collect()]
    uv = {(d, "unique.doc_id", p) for d, p in rows if d in dup}

    def status(n):
        return "Unhealthy" if n > 0 else "Healthy"

    verdicts = {}
    for p in {p for _, p in rows}:
        for rid in span_rules:
            n = sum(1 for _, r, q in sv if (r, q) == (rid, p))
            verdicts[(p, rid)] = (status(n), {"violations": str(n)})
        keys = [d for d, q in rows if q == p]
        dup_keys = {d for d in keys if d in dup}
        verdicts[(p, "unique.doc_id")] = (
            status(len(dup_keys)),
            {
                "total_rows": str(len(keys)),
                "distinct_keys": str(len(set(keys))),
                "duplicate_keys": str(len(dup_keys)),
                "duplicate_rows": str(sum(1 for d in keys if d in dup)),
            },
        )
    return verdicts, sv, uv


def _suite_outputs(res):
    verdicts = {
        (x["partition_id"], x["rule_id"]): (x["status"], dict(x["metrics"]))
        for x in res.verdicts.collect()
        if x["rule_id"] != "overall"
    }
    viol = {(x["doc_id"], x["rule_id"], x["partition_id"]) for x in res.violations.collect()}
    return verdicts, viol


def test_docscan_matches_operator_kernels(spark, inputs, tmp_path):
    """The doc-scan compiler gives the operator kernels' verdicts and
    violation triplets whether spans and uniqueness run as one group,
    alone, or split because a resume left their pending partition sets
    different."""
    docs, cat, commits, _events = inputs
    want_v, want_sv, want_uv = _kernel_expectations(docs)
    assert want_sv and want_uv

    def run(kinds, store_dir, resume=None):
        store = LocalParquetCatalog(str(tmp_path / store_dir))
        suite = RuleSuite([Rule(k) for k in kinds])
        if resume is not None:
            # a crashed run of the same config that finished the span
            # rules for partitions 0 and 1 only
            crashed = RuleSuite([Rule("spans")], eval_time=suite.eval_time)
            crashed.config_hash = suite.config_hash
            crashed.run(spark, docs.filter(F.col("partition_id") < 2), store=store)
        return suite.run(spark, docs, cat, commits, store=store)

    def subset(verdicts, rule_ids):
        return {k: v for k, v in verdicts.items() if k[1] in rule_ids}

    span_ids = {"spans.monotone_offset", "spans.valid_kind", "spans.payload_presence"}
    got_v, got_viol = _suite_outputs(run(["spans", "uniqueness"], "paired"))
    assert got_v == want_v
    assert got_viol == want_sv | want_uv

    resumed = run(["spans", "uniqueness"], "split", resume=True)
    assert resumed.skipped_pairs == 2
    assert _suite_outputs(resumed) == (want_v, want_sv | want_uv)

    got_v, got_viol = _suite_outputs(run(["spans"], "spans_only"))
    assert got_v == subset(want_v, span_ids)
    assert got_viol == want_sv

    got_v, got_viol = _suite_outputs(run(["uniqueness"], "uniqueness_only"))
    assert got_v == subset(want_v, {"unique.doc_id"})
    assert got_viol == want_uv


def test_docscan_failure_degrades_every_rule_id(spark, inputs, tmp_path, monkeypatch):
    """A failure inside the doc scan degrades every rule id of every
    rule in its group (all three span ids and uniqueness) to Unknown
    with an error code; the other rules are unaffected and the overall
    fold counts every rule id."""
    docs, cat, commits, _events = inputs
    monkeypatch.setattr(
        RuleSuite,
        "_compile_docscan",
        lambda self, *a, **k: (_ for _ in ()).throw(RuntimeError("model failed to converge")),
    )
    suite = RuleSuite([Rule("spans"), Rule("uniqueness"), Rule("profile")])
    r = suite.run(spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / "boom")))
    by_rule = {}
    for v in r.verdicts.collect():
        by_rule.setdefault(v["rule_id"], []).append(v)
    for rid in ("spans.monotone_offset", "spans.valid_kind", "spans.payload_presence", "unique.doc_id"):
        assert len(by_rule[rid]) == 4, rid
        assert all(v["status"] == "Unknown" for v in by_rule[rid])
        assert all(v["metrics"]["error_code"] == "MODEL_FIT_FAILED" for v in by_rule[rid])
    for rid in ("profile.doc_id", "profile.n_spans"):
        assert all(v["status"] == "Healthy" for v in by_rule[rid])
    assert all(v["metrics"]["rules_evaluated"] == "6" for v in by_rule["overall"])
    assert r.violations.count() == 0


class _FailsDocscanLineage(LocalParquetCatalog):
    """A store whose doc-scan group lineage append fails once, after
    that group's violations landed: the group degrades under the same
    run_id as its stored violations."""

    failed = False

    def append(self, table, df):
        if table == "_dq_lineage" and not self.failed:
            ids = {r.rule_id for r in df.select("rule_id").distinct().collect()}
            if "unique.doc_id" in ids:
                self.failed = True
                raise RuntimeError("model failed to converge")
        super().append(table, df)


def test_group_failing_after_its_violations_append_returns_none(spark, inputs, tmp_path):
    """A group that fails after its violations append degrades to
    Unknown; its violations, stored under the run's own run_id, are not
    returned next to the Unknown verdicts."""
    docs, cat, commits, _events = inputs
    suite = RuleSuite([Rule("spans"), Rule("uniqueness"), Rule("profile")])
    store = _FailsDocscanLineage(str(tmp_path / "s"))
    r = suite.run(spark, docs, cat, commits, store=store)
    assert store.failed
    orphans = store.read(spark, "_dq_violations").filter(F.col("run_id") == r.run_id)
    assert orphans.count() > 0
    docscan_ids = {"spans.monotone_offset", "spans.valid_kind", "spans.payload_presence", "unique.doc_id"}
    rows = [v for v in r.verdicts.collect() if v["rule_id"] in docscan_ids]
    assert len(rows) == 16 and all(v["status"] == "Unknown" for v in rows)
    assert r.violations.count() == 0


def test_stale_overall_row_never_wins_resume(spark, inputs, tmp_path):
    """A crashed run can leave a stale 'overall' row (folded over fewer
    rules, e.g. Healthy) that ties the real one on evaluated_at — the
    random run_id tiebreak must never surface it. The fold is always
    recomputed from the latest per-rule rows; stored overall rows do not
    participate in the returned result regardless of run_id ordering."""
    from anomaly_detection_spark.plans.suite import LINEAGE_SCHEMA

    docs, cat, commits, _events = inputs
    store = LocalParquetCatalog(str(tmp_path / "store"))
    suite = RuleSuite([Rule("spans"), Rule("uniqueness")])
    r1 = suite.run(spark, docs, cat, commits, store=store)

    # forge stale overall rows whose run_ids sort both below AND above
    # any real uuid hex — if either side of the tiebreak leaked through,
    # one of these Healthy rows would win
    forged = spark.createDataFrame(
        [
            (None, rid, r1.config_hash, p, "overall", "Healthy",
             {"rules_evaluated": "1"}, None, None, None)
            for p in range(4)
            for rid in ("zzzzzzzzzzzz", "000000000000")
        ],
        LINEAGE_SCHEMA,
    ).withColumn("evaluated_at", F.to_timestamp(F.lit(suite.eval_time)))
    store.append(
        "_dq_lineage",
        forged.select(
            "evaluated_at", "run_id", "config_hash", "partition_id", "rule_id",
            "status", "metrics", "error_message", "downstream_impact",
            "additional_debug_info",
        ),
    )

    r2 = suite.run(spark, docs, cat, commits, store=store)
    overall = {
        v["partition_id"]: v for v in r2.verdicts.collect() if v["rule_id"] == "overall"
    }
    assert sorted(overall) == [0, 1, 2, 3]
    # real fold: planted violations exist in every partition → Unhealthy,
    # folded over all 4 rule rows (3 span rules + uniqueness)
    assert all(v["status"] == "Unhealthy" for v in overall.values())
    assert all(v["metrics"]["rules_evaluated"] == "4" for v in overall.values())


def test_docscan_uniqueness_keeps_empty_span_dup_rows(spark, tmp_path):
    """A duplicate-key doc whose spans array is empty or null must yield
    a uniqueness violation row, as the operator kernels give, whether
    the uniqueness rule runs alone or grouped with the span rules."""
    from tests.conftest import make_docs

    rows = [
        ("dup", 0, []),  # empty spans, duplicate key
        ("dup", 1, [("text", "ok", None, 0)]),
        ("dupnull", 0, None),  # null spans, duplicate key
        ("dupnull", 1, [("text", "ok", None, 0)]),
        ("solo", 0, [("text", "ok", None, 0)]),
    ]
    docs = make_docs(spark, rows)
    _want_v, want_sv, want_uv = _kernel_expectations(docs)
    assert want_uv == {
        ("dup", "unique.doc_id", 0),
        ("dup", "unique.doc_id", 1),
        ("dupnull", "unique.doc_id", 0),
        ("dupnull", "unique.doc_id", 1),
    }

    def viol_set(kinds, store_dir: str):
        suite = RuleSuite([Rule(k) for k in kinds])
        r = suite.run(spark, docs, store=LocalParquetCatalog(str(tmp_path / store_dir)))
        return {
            (x["doc_id"], x["rule_id"], x["partition_id"]) for x in r.violations.collect()
        }

    assert viol_set(["spans", "uniqueness"], "paired") == want_sv | want_uv
    assert viol_set(["uniqueness"], "uniqueness_only") == want_uv
    assert viol_set(["spans"], "spans_only") == want_sv


def test_uniqueness_key_param_names_rows_by_key(spark, tmp_path):
    """The uniqueness ``key`` param: duplicates are judged on that
    column and each violation row carries the key as its doc_id."""
    from tests.conftest import make_docs

    ok = [("text", "ok", None, 0)]
    docs = make_docs(spark, [("a", 0, ok), ("b", 0, ok), ("c", 1, ok)]).withColumn(
        "src", F.when(F.col("doc_id") == "c", F.lit("s2")).otherwise(F.lit("s1"))
    )
    suite = RuleSuite([Rule("spans"), Rule("uniqueness", {"key": "src"})])
    r = suite.run(spark, docs, store=LocalParquetCatalog(str(tmp_path / "store")))
    got = {(x["doc_id"], x["rule_id"], x["partition_id"]) for x in r.violations.collect()}
    assert got == {("s1", "unique.doc_id", 0)}
    v = {x["partition_id"]: x for x in r.verdicts.collect() if x["rule_id"] == "unique.doc_id"}
    assert v[0]["status"] == "Unhealthy" and v[0]["metrics"]["duplicate_rows"] == "2"
    assert v[1]["status"] == "Healthy"


def test_violations_come_from_the_latest_run_only(spark, tmp_path):
    """Stored violations of an older eval_time in the same store never
    leak into a later run's result: a T1 run over new docs returns the
    violations of a fresh-store T1 run."""
    docs0 = documents_interleaved(spark, 2000, n_partitions=2, seed=1)
    docs1 = documents_interleaved(spark, 2000, n_partitions=2, seed=2)
    rules = [Rule("spans"), Rule("uniqueness")]

    def triplets(res):
        return sorted(
            (x["doc_id"], x["rule_id"], x["partition_id"]) for x in res.violations.collect()
        )

    store = LocalParquetCatalog(str(tmp_path / "shared"))
    t0 = RuleSuite(rules, eval_time="2025-08-15 00:00:00").run(spark, docs0, store=store)
    t1 = RuleSuite(rules, eval_time="2025-08-16 00:00:00").run(spark, docs1, store=store)
    fresh = RuleSuite(rules, eval_time="2025-08-16 00:00:00").run(
        spark, docs1, store=LocalParquetCatalog(str(tmp_path / "fresh"))
    )
    assert set(triplets(t0)) != set(triplets(fresh))
    assert triplets(t1) == triplets(fresh)


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_missing_input_raises_before_any_work(spark, tmp_path):
    """A missing required input is a config error: run() raises before
    it writes anything or leaves any cache behind."""
    docs = documents_interleaved(spark, 2000, n_partitions=2, seed=1)
    store = LocalParquetCatalog(str(tmp_path / "store"))
    before = _persisted_rdd_ids(spark)
    suite = RuleSuite([Rule("spans"), Rule("uniqueness"), Rule("drift"), Rule("referential")])
    with pytest.raises(ValueError, match="referential.*asset_catalog"):
        suite.run(spark, docs, store=store)
    assert not store.exists("_dq_lineage") and not store.exists("_dq_violations")
    assert _persisted_rdd_ids(spark) <= before


def test_environment_error_raises_and_releases_caches(spark, inputs, tmp_path, monkeypatch):
    """A failed import is an environment error, not a data error: run()
    raises it instead of degrading verdicts to Unknown, and the caches
    of the rules that ran beside it are released."""
    docs, cat, commits, _events = inputs
    before = _persisted_rdd_ids(spark)
    monkeypatch.setattr(
        RuleSuite,
        "_compile_docscan",
        lambda self, *a, **k: (_ for _ in ()).throw(
            ModuleNotFoundError("No module named 'anomaly_detection_spark'")
        ),
    )
    suite = RuleSuite([Rule("profile"), Rule("spans"), Rule("uniqueness"), Rule("referential"), Rule("drift")])
    with pytest.raises(ModuleNotFoundError):
        suite.run(spark, docs, cat, commits, store=LocalParquetCatalog(str(tmp_path / "store")))
    assert _persisted_rdd_ids(spark) <= before


def test_worker_import_failure_is_an_environment_error():
    from pyspark.errors import PythonException

    from anomaly_detection_spark.plans.suite import _is_environment_error

    worker = "An exception was thrown from the Python worker.\nModuleNotFoundError: No module named 'x'"
    assert _is_environment_error(PythonException(message=worker))
    assert _is_environment_error(ImportError("cannot import name 'y'"))
    assert not _is_environment_error(PythonException(message="ZeroDivisionError: division by zero"))
    assert not _is_environment_error(RuntimeError("model failed to converge"))


def test_lineage_store_schema_migration(spark, tmp_path):
    """A lineage store written before LINEAGE_SCHEMA gained
    downstream_impact / additional_debug_info must keep working: the
    declared-schema read backfills the missing columns as typed nulls
    and merges mixed-version appends, and a suite run over such a store
    succeeds (the overall-fold unionByName previously raised)."""
    from anomaly_detection_spark.plans.suite import LINEAGE_SCHEMA

    OLD = (
        "evaluated_at timestamp, run_id string, config_hash string, partition_id int, "
        "rule_id string, status string, metrics map<string,string>, error_message string"
    )
    store = LocalParquetCatalog(str(tmp_path / "store"))
    old_rows = spark.createDataFrame(
        [(None, "r0", "oldcfg", 0, "unique.doc_id", "Healthy", {"total_rows": "1"}, None)],
        OLD,
    ).withColumn("evaluated_at", F.to_timestamp(F.lit("2025-08-15 00:00:00")))
    store.append("_dq_lineage", old_rows)

    back = store.read(spark, "_dq_lineage", LINEAGE_SCHEMA)
    declared = [f.name for f in spark.createDataFrame([], LINEAGE_SCHEMA).schema.fields]
    assert back.columns == declared
    row = back.first()
    assert row["downstream_impact"] is None and row["additional_debug_info"] is None

    # a full suite run appends new-schema rows into the same store and
    # reads the mixed store back without error
    docs = documents_interleaved(spark, 500, n_partitions=2, seed=1)
    r = RuleSuite([Rule("uniqueness")]).run(spark, docs, store=store)
    assert r.verdicts.count() > 0
    merged = store.read(spark, "_dq_lineage", LINEAGE_SCHEMA)
    assert merged.filter(F.col("config_hash") == "oldcfg").count() == 1

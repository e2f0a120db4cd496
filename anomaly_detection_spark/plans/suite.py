"""Declarative rule DAG: compile rules → DataFrame plans → run with
per-partition verdicts, violation rows, and resumable checkpointing.

This replaces the reference's eager per-table driver loop (reference
anomalydetection/anomaly_detector.py:37-67 + 10-thread pools at
completeness_checker.py:153) with a single linear flow of lazy
DataFrame plans: every rule compiles to a plan over ONLY the pending
partitions, verdicts land in the lineage table (generalizing
LOGGING_TABLE_SCHEMA, anomalydetection/utils/logging_table_utils.py:
12-44), violations land in the violations table, and a killed run
resumes by anti-joining pending partitions against completed
(config_hash, partition_id, rule_id) lineage rows (SURVEY.md §3.5).

Crash consistency: each rule group appends its violations BEFORE the
lineage rows that mark its (rule, partition) pairs complete; readers
treat a violation row as authoritative only where the latest lineage
row for its (rule, partition) carries the same run_id, so a crash
between the two appends re-runs the whole group and the orphaned
violations are ignored (and deduplicated on read).
"""

from __future__ import annotations

import hashlib
import json
import uuid
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from anomaly_detection_spark.caching import broadcast_if_small, cached
from anomaly_detection_spark.operators import verdict as V
from anomaly_detection_spark.operators.profile import ProfileSpec, profile_long
from anomaly_detection_spark.operators.referential import ri_violations
from anomaly_detection_spark.operators.spans import (
    RULE_KIND,
    RULE_MONOTONE,
    RULE_PAYLOAD,
    _per_rule_indexes,
    any_span_violation,
)
from anomaly_detection_spark.sources.catalog import LocalParquetCatalog

# Generalizes the reference LOGGING_TABLE_SCHEMA (anomalydetection/
# utils/logging_table_utils.py:12-44): downstream_impact struct and the
# nested additional_debug_info map ride on the per-partition 'overall'
# fold row; per-rule rows leave them null.
IMPACT_STRUCT = (
    "struct<impact_level:int,num_downstream_tables:int,num_queries_on_affected_tables:int>"
)
LINEAGE_SCHEMA = (
    "evaluated_at timestamp, run_id string, config_hash string, partition_id int, "
    "rule_id string, status string, metrics map<string,string>, error_message string, "
    f"downstream_impact {IMPACT_STRUCT}, "
    "additional_debug_info map<string,map<string,string>>"
)
RULE_OVERALL = "overall"
VIOLATIONS_SCHEMA = (
    "doc_id string, rule_id string, partition_id int, "
    "offending_spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "run_id string"
)

RULE_UNIQUE = "unique.doc_id"
RULE_RI = "ri.media_ref"
RULE_DRIFT = "drift.distribution"
SPAN_RULES = (RULE_MONOTONE, RULE_KIND, RULE_PAYLOAD)


@dataclass(frozen=True)
class RuleKind:
    """One rule kind: the rule ids of its verdict rows, the run() inputs
    it reads besides the documents, and the name of the RuleSuite
    method that compiles it. A failed rule degrades every one of its
    rule ids to Unknown."""

    rule_ids: tuple[str, ...]
    compiler: str
    inputs: tuple[str, ...] = ()


# The one rule-kind table: validation, resume bookkeeping, dispatch and
# degrade all read it. Kinds that share a compiler (spans, uniqueness)
# run as one group — one shared doc scan — when their pending partition
# sets match, and through the same compiler one at a time otherwise.
RULE_KINDS: dict[str, RuleKind] = {
    "spans": RuleKind(SPAN_RULES, "_compile_docscan"),
    "uniqueness": RuleKind((RULE_UNIQUE,), "_compile_docscan"),
    "referential": RuleKind((RULE_RI,), "_compile_referential", ("asset_catalog",)),
    "profile": RuleKind(("profile.doc_id", "profile.n_spans"), "_compile_profile"),
    "completeness": RuleKind(("completeness.volume",), "_compile_completeness", ("commits",)),
    "freshness": RuleKind(("freshness.commit",), "_compile_freshness", ("commits",)),
    "event_freshness": RuleKind(
        ("freshness.event",), "_compile_event_freshness", ("commits", "events")
    ),
    "drift": RuleKind((RULE_DRIFT,), "_compile_drift"),
}


@dataclass(frozen=True)
class Rule:
    """One declarative rule. ``kind`` is a key of ``RULE_KINDS``;
    ``params`` are kind-specific and participate in the config hash
    (changing a param = a new run lineage, matching the reference's
    config-driven re-evaluation)."""

    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def canonical(self) -> str:
        return json.dumps({"kind": self.kind, "params": self.params}, sort_keys=True)


@dataclass
class RunResult:
    run_id: str
    config_hash: str
    verdicts: DataFrame
    violations: DataFrame
    skipped_pairs: int  # (rule, partition) pairs resumed from checkpoint


@dataclass
class _Scope:
    """What a compiler reads: the run's inputs pruned to one rule
    group's pending partitions (``spine``), plus run-wide state."""

    spark: SparkSession
    spine: DataFrame
    docs: DataFrame
    commits: DataFrame | None
    events: DataFrame | None
    asset_catalog: DataFrame | None
    store: LocalParquetCatalog
    eval_ts: Column  # the suite's eval_time as a timestamp
    cache: list[DataFrame]  # persisted intermediates, released when run() exits
    lineage_existed: bool  # the lineage store held rows before this run


def _is_environment_error(e: Exception) -> bool:
    """An import failure on the driver or in a Python worker: the
    environment is broken, not the data, so degrading would hide it."""
    from pyspark.errors import PythonException

    return isinstance(e, ImportError) or (
        isinstance(e, PythonException)
        and any(name in str(e) for name in ("ModuleNotFoundError", "ImportError"))
    )


class RuleSuite:
    KNOWN_KINDS = tuple(RULE_KINDS)

    def __init__(
        self,
        rules: list[Rule],
        eval_time: str = "2025-08-16 00:00:00",
        parallel_rules: int = 8,
        max_violations_per_pair: int | None = 100_000,
    ):
        unknown = [r.kind for r in rules if r.kind not in RULE_KINDS]
        if unknown:
            raise ValueError(f"unknown rule kind(s) {unknown}; expected one of {self.KNOWN_KINDS}")
        self.rules = rules
        self.eval_time = eval_time
        # driver-side overlap of independent rule jobs; results are
        # identical at any value (appends are concurrency-safe). Default
        # submits EVERY independent rule concurrently and lets the Spark
        # scheduler arbitrate (commit rules do not queue behind the doc
        # scan) — on 4 vCPUs a warm 200k-doc suite took 27.9 s at 8
        # against 34.8 s serial, identical results.
        self.parallel_rules = parallel_rules
        # cap on WRITTEN violation rows per (rule, partition): at 10^12
        # docs a single pathological key (the skew fixture) would emit
        # billions of example rows. Verdict metrics keep EXACT counts;
        # only the stored examples are deterministically down-sampled.
        # Operational knob — not part of the config hash.
        self.max_violations_per_pair = max_violations_per_pair

    def config_hash(self) -> str:
        payload = json.dumps([r.canonical() for r in self.rules]) + self.eval_time
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    # JSON round-trip for spark-submit job parameters — the analog of the
    # reference's MetricConfig.to_dict/from_dict contract (reference
    # anomalydetection/metric_config.py:9-124, job params detection.py:
    # 96-102; interval-like values are plain seconds in params).
    def to_json(self) -> str:
        return json.dumps(
            {
                "eval_time": self.eval_time,
                "rules": [{"kind": r.kind, "params": r.params} for r in self.rules],
            },
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, payload: str) -> "RuleSuite":
        d = json.loads(payload)
        return cls(
            [Rule(r["kind"], r.get("params", {})) for r in d["rules"]],
            eval_time=d["eval_time"],
        )

    # ---- rule compilers: (scope, rules of one group) → one
    # (verdicts_df, violations_df | None) pair for the whole group ----

    def _span_verdicts(self, viol: DataFrame, partitions: DataFrame) -> DataFrame:
        counts = viol.groupBy("partition_id", "rule_id").agg(F.count(F.lit(1)).alias("n_viol"))
        spine = partitions.crossJoin(
            F.broadcast(
                partitions.sparkSession.createDataFrame([(r,) for r in SPAN_RULES], "rule_id string")
            )
        )
        return spine.join(counts, on=["partition_id", "rule_id"], how="left").select(
            "partition_id",
            "rule_id",
            F.when(F.coalesce(F.col("n_viol"), F.lit(0)) > 0, F.lit(V.UNHEALTHY))
            .otherwise(F.lit(V.HEALTHY))
            .alias("status"),
            F.create_map(
                F.lit("violations"), F.coalesce(F.col("n_viol"), F.lit(0)).cast("string")
            ).alias("metrics"),
        )

    def _uniqueness_parts(
        self, docs: DataFrame, rule: Rule, cache: list[DataFrame]
    ) -> tuple[DataFrame, DataFrame, str]:
        """(per_pk persisted, dk = dup-key set [broadcast-hinted when it
        fits], key). per_pk comes from a 2-column pruned scan with
        map-side partial agg — the skewed hot key reduces to one row per
        task pre-shuffle."""
        key = rule.params.get("key", "doc_id")
        per_pk = (
            docs.groupBy("partition_id", key).agg(F.count(F.lit(1)).alias("n")).persist()
        )
        cache.append(per_pk)
        dup_keys = (
            per_pk.groupBy(key)
            .agg(F.sum("n").alias("dup_count"))
            .filter(F.col("dup_count") > 1)
            .persist()
        )
        cache.append(dup_keys)
        # COUNT-GUARDED broadcast: the dup-key set is data-dependent (at
        # 10^12 docs with the planted dup rate it is ~10^9 rows — an
        # unconditional F.broadcast would OOM the driver). The count is
        # one cheap agg over the already-persisted per_pk; below the
        # bound we broadcast (avoiding a full shuffle WRITE of the big
        # side — AQE's runtime conversion still pays that), above it we
        # fall back to a plain join and let AQE/sort-merge handle it.
        dk, _ = broadcast_if_small(
            dup_keys, int(rule.params.get("broadcast_threshold_rows", 1_000_000))
        )
        return per_pk, dk, key

    def _uniqueness_verdicts(
        self, per_pk: DataFrame, dk: DataFrame, key: str, partitions: DataFrame
    ) -> DataFrame:
        """Per-partition uniqueness metrics/verdicts from the cached
        per-(partition, key) counts — re-aggregated two ways: per-key
        globally for duplicate detection (duplicates MAY span
        partitions), and per-partition for the metrics. The second
        shuffle moves only (key, n) pairs, never the documents."""
        flagged = per_pk.join(
            dk.select(key, F.lit(1).alias("_dup")), on=key, how="left"
        )
        metrics = flagged.groupBy("partition_id").agg(
            F.sum("n").alias("total_rows"),
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias("duplicate_keys"),
            F.sum(F.when(F.col("_dup").isNotNull(), F.col("n")).otherwise(0)).alias("duplicate_rows"),
        )
        verdicts = partitions.join(metrics, on="partition_id", how="left").select(
            "partition_id",
            F.lit(RULE_UNIQUE).alias("rule_id"),
            F.when(F.coalesce(F.col("duplicate_keys"), F.lit(0)) > 0, F.lit(V.UNHEALTHY))
            .otherwise(F.lit(V.HEALTHY))
            .alias("status"),
            F.map_from_arrays(
                F.array(F.lit("total_rows"), F.lit("distinct_keys"), F.lit("duplicate_keys"), F.lit("duplicate_rows")),
                F.array(
                    F.coalesce(F.col("total_rows"), F.lit(0)).cast("string"),
                    F.coalesce(F.col("distinct_keys"), F.lit(0)).cast("string"),
                    F.coalesce(F.col("duplicate_keys"), F.lit(0)).cast("string"),
                    F.coalesce(F.col("duplicate_rows"), F.lit(0)).cast("string"),
                ),
            ).alias("metrics"),
        )
        return verdicts

    def _compile_referential(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
        (rule,) = rules
        viol = ri_violations(
            s.docs,
            s.asset_catalog,
            broadcast_catalog=rule.params.get("broadcast_catalog", True),
            broadcast_threshold_rows=int(rule.params.get("broadcast_threshold_rows", 1_000_000)),
            cache=s.cache,
        ).select(
            "doc_id", F.lit(RULE_RI).alias("rule_id"), "partition_id", "offending_spans"
        )
        counts = viol.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_viol"))
        verdicts = s.spine.join(counts, on="partition_id", how="left").select(
            "partition_id",
            F.lit(RULE_RI).alias("rule_id"),
            F.when(F.coalesce(F.col("n_viol"), F.lit(0)) > 0, F.lit(V.UNHEALTHY))
            .otherwise(F.lit(V.HEALTHY))
            .alias("status"),
            F.create_map(F.lit("violations"), F.coalesce(F.col("n_viol"), F.lit(0)).cast("string")).alias(
                "metrics"
            ),
        )
        return verdicts, viol

    def _compile_docscan(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
        """ONE pass over the spans column for the span-invariant and
        uniqueness-violation rules, whichever of the two are in the
        group.

        The spans column is the dominant bytes of the table. The cheap
        pruned prerequisite still runs (per-key counts on a 2-column
        scan), then a SINGLE spans-reading pass — enriched with the
        count-guarded dup-key broadcast — gates each doc (short-
        circuiting exists / dup flag) and materializes both rules'
        offending span subsequences at once. The group's verdicts are
        the union of both rules' rows and its violations are the one
        scan output, so the group commits as one write.

        Referential integrity deliberately does NOT join this scan: its
        membership test against the data-dependent dangling-ref set is
        only cheap as a broadcast hash JOIN on exploded refs; inlining
        it as an array_contains against a collected ref array costs
        O(|dangling|) per span — quadratic in data size (measured 3-4x
        slower at 1M docs) — so RI keeps its standalone two-phase plan."""
        by_kind = {r.kind: r for r in rules}
        cols = ["doc_id", "partition_id", "spans"]
        gates = []
        branches = []
        if "uniqueness" in by_kind:
            per_pk, dk, key = self._uniqueness_parts(s.docs, by_kind["uniqueness"], s.cache)
            if key not in cols:
                cols.append(key)
            gates.append(F.col("_dup").isNotNull())
        enriched = s.docs.select(*cols)
        if "uniqueness" in by_kind:
            enriched = enriched.join(
                dk.select(F.col(key), F.lit(1).alias("_dup")), on=key, how="left"
            )
        # each branch carries an explicit `keep` flag: span rules keep a
        # row iff it has offending spans; the uniqueness rule keeps every
        # duplicate-key doc even when its spans array is empty or null,
        # and names it by its key (the rule's ``key`` param)
        if "spans" in by_kind:
            gates.append(any_span_violation("spans"))
            for rid in SPAN_RULES:
                idxs = _per_rule_indexes(F.col("spans"), rid)
                off = F.transform(idxs, lambda j: F.element_at(F.col("spans"), j + 1))
                branches.append(
                    F.struct(
                        F.col("doc_id"),
                        F.lit(rid).alias("rule_id"),
                        off.alias("offending_spans"),
                        (F.size(off) > 0).alias("keep"),
                    )
                )
        if "uniqueness" in by_kind:
            branches.append(
                F.struct(
                    F.col(key).cast("string").alias("doc_id"),
                    F.lit(RULE_UNIQUE).alias("rule_id"),
                    F.col("spans").alias("offending_spans"),
                    F.col("_dup").isNotNull().alias("keep"),
                )
            )
        gate = gates[0]
        for g in gates[1:]:
            gate = gate | g
        viol_all = (
            enriched.filter(gate)
            .select("partition_id", F.explode(F.array(*branches)).alias("r"))
            .filter(F.col("r.keep"))
            .select(
                F.col("r.doc_id").alias("doc_id"),
                "partition_id",
                F.col("r.rule_id").alias("rule_id"),
                F.col("r.offending_spans").alias("offending_spans"),
            )
        )

        verdicts = []
        if "spans" in by_kind:
            sv = viol_all.filter(F.col("rule_id").isin(list(SPAN_RULES)))
            verdicts.append(self._span_verdicts(sv, s.spine))
        if "uniqueness" in by_kind:
            verdicts.append(self._uniqueness_verdicts(per_pk, dk, key, s.spine))
        return reduce(DataFrame.unionByName, verdicts), viol_all

    def _compile_profile(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, None]:
        (rule,) = rules
        null_rate_max = rule.params.get("null_rate_max")
        # size via the offset LEAF, not the struct: size(spans) forces the
        # scan to decode every span field including the dominant text
        # payload; size(spans.offset) nested-prunes the ReadSchema to one
        # int leaf (same value — field extraction preserves array length
        # and nullness). At 100 TB this is the difference between a
        # metadata-ish pass and a full-table decode.
        flat = s.docs.select(
            "partition_id",
            F.col("doc_id"),
            F.size("spans.offset").alias("n_spans"),
        )
        specs = [ProfileSpec("doc_id"), ProfileSpec("n_spans", numeric=True)]
        prof = profile_long(flat, specs, by=["partition_id"])
        status = F.lit(V.HEALTHY)
        if null_rate_max is not None:
            status = F.when(
                F.col("metrics").getItem("null_rate").cast("double") > null_rate_max,
                F.lit(V.UNHEALTHY),
            ).otherwise(F.lit(V.HEALTHY))
        verdicts = prof.select(
            "partition_id",
            F.concat(F.lit("profile."), F.col("column_name")).alias("rule_id"),
            status.alias("status"),
            F.col("metrics"),
        )
        return verdicts, None

    def _compile_drift(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, None]:
        """A12: distribution drift of a per-doc expression vs the PREVIOUS
        run's histogram for the same rule, read back from the lineage
        table (latest-row-per-group over past runs, any config hash —
        runs at different eval_times hash differently by design). The
        current histogram is stored in the verdict's metrics as JSON so
        the next run can compare against it. First run → Unknown."""
        from anomaly_detection_spark.operators.drift import histogram_sketch, psi_ks

        (rule,) = rules
        # default reads only the offset leaf (same value as size(spans),
        # nested-prunes away the text payload — see _compile_profile)
        value_expr = rule.params.get("value_expr", "size(spans.offset)")
        lo = float(rule.params.get("lo", 0.0))
        hi = float(rule.params.get("hi", 16.0))
        n_buckets = int(rule.params.get("n_buckets", 16))
        psi_threshold = float(rule.params.get("psi_threshold", 0.2))
        ks_threshold = float(rule.params.get("ks_threshold", 0.2))

        cur = histogram_sketch(
            s.docs.select("partition_id", F.expr(value_expr).cast("double").alias("_v")),
            "_v",
            lo,
            hi,
            n_buckets,
            by=["partition_id"],
        ).persist()
        s.cache.append(cur)

        cur_json = (
            cur.groupBy("partition_id")
            .agg(
                F.to_json(
                    F.map_from_entries(
                        F.sort_array(F.collect_list(F.struct(F.col("bucket"), F.col("count"))))
                    )
                ).alias("hist_json")
            )
        )

        # previous-run read is bounded by a lookback (default 90 days):
        # on a date-partitioned lineage table this partition-prunes to a
        # constant number of runs instead of scanning the full history;
        # a baseline older than the bound degrades to Unknown, which is
        # the honest verdict for a table that hasn't been checked in
        # months anyway. A store that was empty when the run started
        # holds no baseline (this run's rows are not earlier than
        # eval_time), so it is not read — whatever other groups append
        # meanwhile.
        baseline_days = int(rule.params.get("baseline_lookback_days", 90))
        prev = None
        if s.lineage_existed:
            lineage = s.store.read(s.spark, "_dq_lineage", LINEAGE_SCHEMA).filter(
                (F.col("rule_id") == RULE_DRIFT)
                & (F.col("evaluated_at") < s.eval_ts)
                & (F.col("evaluated_at") >= F.date_sub(s.eval_ts, baseline_days))
                & F.col("metrics").getItem("histogram").isNotNull()
            )
            latest = V.latest_per_group(lineage, ["partition_id"], "evaluated_at")
            prev = latest.select(
                "partition_id",
                F.explode(
                    F.from_json(F.col("metrics").getItem("histogram"), "map<string,bigint>")
                ).alias("bucket", "count"),
            ).withColumn("bucket", F.col("bucket").cast("int"))
            if prev.isEmpty():
                prev = None

        if prev is None:
            verdicts = s.spine.join(cur_json, "partition_id", "left").select(
                "partition_id",
                F.lit(RULE_DRIFT).alias("rule_id"),
                F.lit(V.UNKNOWN).alias("status"),
                F.map_from_arrays(
                    F.array(F.lit("error_code"), F.lit("histogram")),
                    F.array(F.lit("NOT_ENOUGH_DATA"), F.coalesce(F.col("hist_json"), F.lit("{}"))),
                ).alias("metrics"),
            )
            return verdicts, None

        scored = psi_ks(prev, cur, by=["partition_id"], n_buckets=n_buckets)
        verdicts = (
            s.spine.join(scored, "partition_id", "left")
            .join(cur_json, "partition_id", "left")
            .select(
                "partition_id",
                F.lit(RULE_DRIFT).alias("rule_id"),
                F.when(
                    (F.col("psi") > psi_threshold) | (F.col("ks") > ks_threshold),
                    F.lit(V.UNHEALTHY),
                )
                .when(F.col("psi").isNull(), F.lit(V.UNKNOWN))
                .otherwise(F.lit(V.HEALTHY))
                .alias("status"),
                F.map_from_arrays(
                    F.array(F.lit("psi"), F.lit("ks"), F.lit("histogram")),
                    F.array(
                        F.round("psi", 6).cast("string"),
                        F.round("ks", 6).cast("string"),
                        F.coalesce(F.col("hist_json"), F.lit("{}")),
                    ),
                ).alias("metrics"),
            )
        )
        return verdicts, None

    def _commit_verdicts(
        self, s: _Scope, rule: Rule, v: DataFrame, metrics: dict[str, str]
    ) -> tuple[DataFrame, None]:
        """Project a commit-history operator's verdict frame to lineage
        shape (``metrics`` maps metric names to its columns).

        Partitions with no usable history inside the window still get a
        verdict row (Unknown / NOT_ENOUGH_DATA — parity with reference
        completeness_utils.py:118: guard failures emit UNKNOWN, not
        silence) so they checkpoint and don't re-run forever."""
        verdicts = v.select(
            "partition_id",
            "rule_id",
            "status",
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in metrics]),
                F.array(*[F.col(c).cast("string") for c in metrics.values()]),
            ).alias("metrics"),
        )
        verdicts = s.spine.join(verdicts, on="partition_id", how="left").select(
            "partition_id",
            F.coalesce(F.col("rule_id"), F.lit(RULE_KINDS[rule.kind].rule_ids[0])).alias("rule_id"),
            F.coalesce(F.col("status"), F.lit(V.UNKNOWN)).alias("status"),
            F.coalesce(
                F.col("metrics"),
                F.create_map(F.lit("error_code"), F.lit("NOT_ENOUGH_DATA")),
            ).alias("metrics"),
        )
        return verdicts, None

    def _compile_completeness(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, None]:
        from anomaly_detection_spark.operators.completeness import completeness_verdicts

        (rule,) = rules
        v = completeness_verdicts(
            s.commits,
            s.eval_ts,
            threshold_override=rule.params.get("threshold_override"),
            lookback_days=rule.params.get("lookback_days", 14),
            num_std=rule.params.get("num_std", 3.0),
        )
        names = ("last_window_row_volume", "predicted_row_volume_lower_bound")
        return self._commit_verdicts(s, rule, v, {n: n for n in names})

    def _compile_freshness(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, None]:
        from anomaly_detection_spark.operators.freshness import freshness_verdicts

        (rule,) = rules
        v = freshness_verdicts(
            s.commits,
            s.eval_ts,
            constant_threshold_sec=rule.params.get("constant_threshold_sec"),
            lookback_days=rule.params.get("lookback_days", 14),
            num_std=rule.params.get("num_std", 3.0),
        )
        return self._commit_verdicts(
            s,
            rule,
            v,
            {
                "last_data_update": "last_data_update",
                "upper_bound": "predicted_upper_bound_next_data_update",
                "staleness_age_seconds": "staleness_age_seconds",
            },
        )

    def _compile_event_freshness(self, s: _Scope, rules: list[Rule]) -> tuple[DataFrame, None]:
        # M4/M5: event-latency freshness — the reference always runs the
        # commit AND event paths together (freshness_utils.py:661-752);
        # the suite mirrors that with a dedicated rule kind.
        from anomaly_detection_spark.operators.freshness import event_freshness_verdicts

        (rule,) = rules
        v = event_freshness_verdicts(
            s.commits,
            s.events,
            s.eval_ts,
            latency_threshold_sec=rule.params.get("latency_threshold_sec"),
            num_std=rule.params.get("num_std", 3.0),
        )
        names = ("last_event", "actual_latency_sec", "predicted_upper_bound_latency_sec")
        return self._commit_verdicts(s, rule, v, {n: n for n in names})

    # ---- runner ----

    def run(
        self,
        spark: SparkSession,
        documents: DataFrame,
        asset_catalog: DataFrame | None = None,
        commits: DataFrame | None = None,
        store: LocalParquetCatalog | None = None,
        run_id: str | None = None,
        events: DataFrame | None = None,
        lineage_edges: DataFrame | None = None,
        queries_per_table: DataFrame | None = None,
    ) -> RunResult:
        # input-contract errors are config bugs: reject them before any
        # Spark job or store write
        given = {"asset_catalog": asset_catalog, "commits": commits, "events": events}
        for rule in self.rules:
            for name in RULE_KINDS[rule.kind].inputs:
                if given[name] is None:
                    raise ValueError(f"rule kind '{rule.kind}' requires the {name} DataFrame")

        run_id = run_id or uuid.uuid4().hex[:12]
        cfg = self.config_hash()
        store = store or LocalParquetCatalog("/tmp/adspark_store")
        eval_ts = F.to_timestamp(F.lit(self.eval_time))

        # Checkpoint state is read ONCE per run and reduced driver-side:
        # it is tiny (one row per partition × rule), and doing the
        # bookkeeping in Python avoids ~4 extra Spark jobs per rule.
        lineage_existed = store.exists("_dq_lineage", spark)
        if lineage_existed:
            # error rows (error_message set) are RETRYABLE — only real
            # verdicts checkpoint; guard-degraded Unknowns (e.g.
            # NOT_ENOUGH_DATA with no error_message) are durable verdicts
            # every row of one config shares evaluated_at == eval_time
            # (eval_time is hashed into the config), so the timestamp
            # predicate is a free partition-pruning filter on a
            # date-partitioned Iceberg lineage table — the read stays
            # O(one run) as the table accumulates thousands of runs
            completed_rows = (
                store.read(spark, "_dq_lineage", LINEAGE_SCHEMA)
                .filter(
                    (F.col("evaluated_at") == eval_ts)
                    & (F.col("config_hash") == cfg)
                    & F.col("error_message").isNull()
                )
                .select("partition_id", "rule_id")
                .distinct()
                .collect()
            )
        else:
            completed_rows = []
        completed_by_rule: dict[str, set] = {}
        for r in completed_rows:
            completed_by_rule.setdefault(r.rule_id, set()).add(r.partition_id)

        # one column-pruned scan for the partition list (partition-key
        # column only → Iceberg/parquet reads metadata + one column)
        all_parts = sorted(
            r.partition_id for r in documents.select("partition_id").distinct().collect()
        )
        commit_parts: list | None = None

        def universe(kind: str) -> list:
            """The partitions a rule kind judges: those of the commit
            log for commit-history kinds, of the documents otherwise."""
            nonlocal commit_parts
            if "commits" not in RULE_KINDS[kind].inputs:
                return all_parts
            if commit_parts is None:
                commit_parts = sorted(
                    r.partition_id for r in commits.select("partition_id").distinct().collect()
                )
            return commit_parts

        # Rules sharing a compiler and a pending partition set run as one
        # group (one rule per kind): on a fresh run spans + uniqueness
        # share one doc scan; a partial resume splits them.
        skipped_total = 0
        groups: list[tuple[list[Rule], list]] = []
        for rule in self.rules:
            kind = RULE_KINDS[rule.kind]
            # A partition is fully done for this rule iff ALL the rule's
            # rule_ids are checkpointed for it.
            parts = universe(rule.kind)
            fully_done_parts = {
                p
                for p in parts
                if all(p in completed_by_rule.get(rid, ()) for rid in kind.rule_ids)
            }
            skipped_total += len(fully_done_parts)
            pending = [p for p in parts if p not in fully_done_parts]
            if not pending:
                continue
            for group, group_pending in groups:
                if (
                    group_pending == pending
                    and RULE_KINDS[group[0].kind].compiler == kind.compiler
                    and all(r.kind != rule.kind for r in group)
                ):
                    group.append(rule)
                    break
            else:
                groups.append(([rule], pending))

        # intermediate persisted DataFrames the compilers cache, released
        # when the rules finish or fail (leaking them across runs in one
        # long-lived session accumulates executor memory)
        cache: list[DataFrame] = []

        def scope(group: list[Rule], pending: list) -> _Scope:
            docs, com, ev = documents, commits, events
            if len(pending) < len(universe(group[0].kind)):
                # partition pruning: on a partition-keyed table this
                # predicate prunes file groups at the scan
                keep = F.col("partition_id").isin(pending)
                docs = docs.filter(keep)
                com = com.filter(keep) if com is not None else None
                ev = ev.filter(keep) if ev is not None else None
            spine = spark.createDataFrame([(p,) for p in pending], "partition_id int")
            return _Scope(
                spark, spine, docs, com, ev, asset_catalog, store, eval_ts, cache, lineage_existed
            )

        def write_outputs(verdicts: DataFrame, viol: DataFrame | None) -> None:
            """One commit per rule group: its violations, then the
            lineage rows that mark its pairs complete."""
            lineage_rows = verdicts.select(
                eval_ts.alias("evaluated_at"),
                F.lit(run_id).alias("run_id"),
                F.lit(cfg).alias("config_hash"),
                F.col("partition_id").cast("int"),
                "rule_id",
                "status",
                "metrics",
                F.lit(None).cast("string").alias("error_message"),
                F.lit(None).cast(IMPACT_STRUCT).alias("downstream_impact"),
                F.lit(None).cast("map<string,map<string,string>>").alias("additional_debug_info"),
            )
            if viol is None:
                store.append("_dq_lineage", lineage_rows.repartition(1))
                return
            # violations feed both the write and the verdict counts:
            # persisted, they are computed once (by the cap count or the
            # violations append) and the lineage rows read the cache
            viol = viol.persist()
            try:
                to_write = viol
                cap = self.max_violations_per_pair
                # a pair can only exceed the cap if the group's total
                # does; below it the cap's filter keeps every row, so
                # the count-by-pair join is not planned at all
                if cap is not None and viol.count() > cap:
                    # deterministic hash-threshold down-sampling per
                    # (rule, partition): no window over a skewed key,
                    # no hot reducer — a broadcast of per-pair counts
                    # plus a row-local hash test
                    counts = viol.groupBy("partition_id", "rule_id").agg(
                        F.count(F.lit(1)).alias("_n")
                    )
                    to_write = viol.join(
                        F.broadcast(counts), ["partition_id", "rule_id"]
                    ).filter(
                        (F.col("_n") <= cap)
                        | (
                            # hash includes the span payload: duplicate-
                            # key violations share doc_id, and a doc_id-
                            # only hash would keep all-or-none of a hot
                            # key. NO run_id in the hash: the sample must
                            # be a pure function of the data so identical
                            # runs (e.g. at two cluster sizes) store
                            # identical example sets — and retries stay
                            # idempotent.
                            F.pmod(
                                F.xxhash64("doc_id", "offending_spans"),
                                F.lit(1_000_000),
                            )
                            < F.lit(1_000_000.0) * F.lit(float(cap)) / F.col("_n")
                        )
                    ).drop("_n")
                # repartition before write: violations are a tiny
                # filtered set — the scan's task count would produce
                # hundreds of near-empty files
                store.append(
                    "_dq_violations",
                    to_write.withColumn("run_id", F.lit(run_id)).repartition(8),
                )
                store.append("_dq_lineage", lineage_rows.repartition(1))
            finally:
                viol.unpersist()

        def degrade(group: list[Rule], pending: list, e: Exception) -> None:
            """M16: write Unknown verdicts with an error code + clipped
            message for every rule id of a failed group's pending
            partitions."""
            from anomaly_detection_spark.functions.errors import (
                clip_error_message,
                match_error_message_to_code,
            )

            code = match_error_message_to_code(str(e)).value
            msg = clip_error_message(str(e))
            rows = spark.createDataFrame(
                [
                    (None, run_id, cfg, int(p), rid, V.UNKNOWN, {"error_code": code}, msg, None, None)
                    for rule in group
                    for rid in RULE_KINDS[rule.kind].rule_ids
                    for p in pending
                ],
                LINEAGE_SCHEMA,
            ).withColumn("evaluated_at", eval_ts)
            store.append("_dq_lineage", rows.repartition(1))

        def execute_safe(group: list[Rule], pending: list) -> None:
            """Reference parity (M16, completeness_checker.py:123-135):
            a failure degrades every rule of its group to Unknown
            verdicts with an error code + clipped message for its
            pending partitions — the run and the other groups proceed,
            and the next run retries them. Config errors (ValueError)
            and environment errors (failed imports) raise instead."""
            try:
                write_outputs(
                    *getattr(self, RULE_KINDS[group[0].kind].compiler)(scope(group, pending), group)
                )
            except ValueError:
                raise
            except Exception as e:  # noqa: BLE001 — by design
                if _is_environment_error(e):
                    raise
                degrade(group, pending, e)

        # Independent rule groups execute as CONCURRENT Spark jobs from a
        # small driver pool (Spark job submission is thread-safe): each
        # group's scans/shuffles AND its store writes run fully in
        # parallel — appends are concurrency-safe (one fresh
        # subdirectory / Iceberg snapshot commit per append). This
        # replaces the reference's per-table driver thread pool
        # (completeness_checker.py:153); correctness never depends on
        # the pool — parallel_rules=1 is identical.
        from concurrent.futures import ThreadPoolExecutor

        try:
            workers = min(self.parallel_rules, len(groups))
            if workers <= 1:
                for group, pending in groups:
                    execute_safe(group, pending)
            else:
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    list(pool.map(lambda gp: execute_safe(*gp), groups))
        finally:
            for df in cache:
                df.unpersist()

        # The tail is computed once: the latest per-rule rows and the
        # overall fold are each held under one cache label (a later run
        # releases them; released, they recompute from the same store
        # read), and the returned verdicts and violations read them.
        lineage_all = store.read(spark, "_dq_lineage", LINEAGE_SCHEMA).filter(
            (F.col("evaluated_at") == eval_ts) & (F.col("config_hash") == cfg)
        )
        # latest verdict per (partition, rule); on evaluated_at ties a
        # healed (non-error) verdict beats a retryable error row
        from pyspark.sql import Window as _W

        w = _W.partitionBy("partition_id", "rule_id").orderBy(
            F.col("evaluated_at").desc(),
            F.col("error_message").isNull().desc(),
            F.col("run_id").desc(),
        )

        def latest_of(df: DataFrame) -> DataFrame:
            return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

        # M10 parity: one 'overall' fold row per partition — worst-of all
        # rule statuses (reference freshness_info.py:103-114), carrying
        # the nested per-rule debug map (logging_table_utils.py:36-39)
        # and the downstream-impact struct (M17, freshness_checker.py:
        # 506) when a lineage graph is provided.
        #
        # The fold is ALWAYS recomputed from the latest per-rule rows and
        # stored overall rows NEVER feed the returned result: a crashed
        # partial run can leave a stale overall row (folded over fewer
        # rules) that ties the fresh one on evaluated_at, where the
        # random run_id tiebreak would pick it ~50% of the time. The
        # store append still happens only when new work ran (or nothing
        # was stored yet), keeping the lineage append rate bounded.
        latest_rules = cached(
            "suite_latest_rules", latest_of(lineage_all.filter(F.col("rule_id") != RULE_OVERALL))
        )
        folded = V.fold_group_status(latest_rules, ["partition_id"])
        by_key = lambda l, r: F.when(l["key"] < r["key"], -1).when(l["key"] > r["key"], 1).otherwise(0)  # noqa: E731
        debug = latest_rules.groupBy("partition_id").agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rule_id").alias("key"), F.col("metrics").alias("value"))),
                    by_key,
                )
            ).alias("additional_debug_info"),
            F.count(F.lit(1)).cast("string").alias("_n_rules"),
        )
        overall = folded.join(debug, "partition_id", "left")
        if lineage_edges is not None and queries_per_table is not None:
            from anomaly_detection_spark.operators.blast_radius import (
                downstream_impact as _impact,
            )

            overall = overall.join(
                _impact(overall.select("partition_id"), lineage_edges, queries_per_table),
                "partition_id",
                "left",
            )
        else:
            overall = overall.withColumn(
                "downstream_impact", F.lit(None).cast(IMPACT_STRUCT)
            )
        overall_rows = overall.select(
            eval_ts.alias("evaluated_at"),
            F.lit(run_id).alias("run_id"),
            F.lit(cfg).alias("config_hash"),
            F.col("partition_id").cast("int"),
            F.lit(RULE_OVERALL).alias("rule_id"),
            F.col("overall_status").alias("status"),
            F.create_map(F.lit("rules_evaluated"), F.col("_n_rules")).alias("metrics"),
            F.lit(None).cast("string").alias("error_message"),
            "downstream_impact",
            "additional_debug_info",
        )
        overall_rows = cached("suite_overall_rows", overall_rows)
        # short-circuit: when work ran this run we append regardless, so
        # only the nothing-pending resume path pays the stored-overall
        # existence probe (an eager isEmpty job)
        if groups or lineage_all.filter(F.col("rule_id") == RULE_OVERALL).isEmpty():
            store.append("_dq_lineage", overall_rows.repartition(1))

        # overall rows are one per partition and latest_rules holds
        # none, so their union is already latest-per-(partition, rule).
        # Impact desc participates in the display sort (reference
        # common_utils.py:35-91); only overall rows carry impact — the
        # null-to-lowest rule keeps per-rule rows stably ordered
        verdicts_sorted = V.sort_verdicts(
            latest_rules.unionByName(overall_rows), impact_col="downstream_impact.impact_level"
        )
        violations = store.read(spark, "_dq_violations", VIOLATIONS_SCHEMA)
        # authoritative violations: only those written by the run whose
        # verdict is the latest for their (rule, partition) — never an
        # older eval_time's or config's, nor a crashed attempt's, nor a
        # group that failed after its violations append (its latest row
        # is an error row of the same run_id) — deduped per doc/rule
        violations = violations.join(
            latest_rules.filter(F.col("error_message").isNull()).select(
                "partition_id", "rule_id", "run_id"
            ),
            on=["partition_id", "rule_id", "run_id"],
            how="left_semi",
        ).dropDuplicates(["doc_id", "rule_id", "partition_id"])
        return RunResult(run_id, cfg, verdicts_sorted, violations, skipped_total)


def default_suite(eval_time: str = "2025-08-16 00:00:00") -> RuleSuite:
    """The full flagship rule suite (SURVEY.md §3.5)."""
    return RuleSuite(
        [
            Rule("profile"),
            Rule("uniqueness"),
            Rule("referential"),
            Rule("spans"),
            Rule("completeness"),
            Rule("freshness"),
            Rule("event_freshness"),
            Rule("drift"),
        ],
        eval_time=eval_time,
    )

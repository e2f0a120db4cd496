"""Physical-plan regression tests (SURVEY.md §4): the scale-critical
plan properties must survive refactors — partition pruning, column
pruning, broadcast anti-join, and two-phase (partial+final) aggregation.
"""

import pyspark.sql.functions as F
import pytest

from anomaly_detection_spark.operators.profile import ProfileSpec, profile
from anomaly_detection_spark.operators.referential import dangling_refs
from anomaly_detection_spark.operators.spans import span_violations
from anomaly_detection_spark.sources.synthetic import asset_catalog, documents_interleaved


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "docs")
    documents_interleaved(spark, 5000, n_partitions=8).write.mode("overwrite").partitionBy(
        "partition_id"
    ).parquet(d)
    return spark.read.parquet(d)


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def tree_nodes(plan: str, name: str) -> int:
    """Count occurrences in the plan TREE (each node also reappears in
    the details section, so a raw substring count double-counts)."""
    import re

    return len(re.findall(rf"[+:]- {name} \(", plan))


def test_partition_pruning_and_column_pruning(spark, docs_parquet):
    plan = formatted_plan(docs_parquet.filter(F.col("partition_id").isin([1, 2])).select("doc_id"))
    assert "PartitionFilters: [partition_id" in plan and "IN (1,2)" in plan
    # column pruning: the scan must read ONLY doc_id
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_ri_join_is_broadcast_anti(spark, docs_parquet):
    plan = formatted_plan(dangling_refs(docs_parquet, asset_catalog(spark, 1024)))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # nested pruning: the dangling-ref pass must read ONLY the
    # kind/media_ref leaves — never the text payload (the dominant
    # bytes of the table; the old F.filter lambda blocked pruning)
    assert "ReadSchema: struct<spans:array<struct<kind:string,media_ref:string>>>" in plan


def test_profile_is_one_scan_two_phase(spark, docs_parquet):
    flat = docs_parquet.selectExpr("partition_id", "doc_id", "size(spans) as n_spans")
    plan = formatted_plan(profile(flat, [ProfileSpec("n_spans", numeric=True)], by=["partition_id"]))
    assert plan.count("Scan parquet  (") == 1
    assert tree_nodes(plan, "Exchange") == 1  # exactly one shuffle: partial → final
    assert "Join" not in plan


def test_uniqueness_count_has_mapside_partial(spark, docs_parquet):
    plan = formatted_plan(docs_parquet.groupBy("doc_id").count())
    # partial + final HashAggregate around a single Exchange
    assert tree_nodes(plan, "HashAggregate") == 2
    assert tree_nodes(plan, "Exchange") == 1
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_no_forced_broadcast_of_data_dependent_sets(spark, docs_parquet):
    """The dup-key set and the dangling-ref set are data-dependent and
    unbounded — at target scale they can reach ~10^9 rows. Broadcasts of
    them must be COUNT-GUARDED: when the measured count exceeds the
    bound (simulated here with bound 0), the plan must contain no
    broadcast HINT — with autoBroadcastJoinThreshold disabled, any
    BroadcastExchange left can only come from a forced F.broadcast."""
    from anomaly_detection_spark.operators.referential import ri_violations
    from anomaly_detection_spark.operators.uniqueness import duplicate_keys, duplicate_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # over-bound dup-key set (bound 0) → plain join, no hint
        plan = formatted_plan(duplicate_rows(docs_parquet, "doc_id", broadcast_threshold_rows=0))
        assert "BroadcastExchange" not in plan
        # under the bound → the guarded broadcast IS taken
        plan = formatted_plan(duplicate_rows(docs_parquet, "doc_id"))
        assert "BroadcastExchange" in plan
        # the guard's edge: a set of exactly `bound` rows is broadcast,
        # one row over the bound is not
        n = duplicate_keys(docs_parquet, "doc_id").count()
        assert n > 0
        plan = formatted_plan(duplicate_rows(docs_parquet, "doc_id", broadcast_threshold_rows=n))
        assert "BroadcastHashJoin" in plan
        plan = formatted_plan(duplicate_rows(docs_parquet, "doc_id", broadcast_threshold_rows=n - 1))
        assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan

        # broadcast_catalog=False isolates the data-dependent side: any
        # remaining hint could only be on the dangling-set joins
        plan = formatted_plan(
            ri_violations(
                docs_parquet,
                asset_catalog(spark, 1024),
                broadcast_catalog=False,
                broadcast_threshold_rows=0,
            )
        )
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_refine_topk_query_broadcast_is_count_guarded(spark):
    """refine_topk's query vectors are broadcast only when the query
    set fits ``max_broadcast_candidates``: at the bound the query_id
    join is a broadcast-hash join, one row over it a plain join (the
    candidate-pair broadcast on neighbor_id stays either way)."""
    from anomaly_detection_spark.caching import release_caches
    from anomaly_detection_spark.operators.similarity import refine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id bigint, embedding array<float>"
    )
    cands = spark.createDataFrame([(0, 1), (1, 2)], "query_id bigint, neighbor_id bigint")

    def plan(bound):
        df = refine_topk(cands, emb, emb, k=1, max_broadcast_candidates=bound)
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        at_bound, over = plan(8), plan(7)
        assert "BroadcastHashJoin [neighbor_id" in at_bound
        assert "BroadcastHashJoin [query_id" in at_bound
        assert "BroadcastHashJoin [neighbor_id" in over
        assert "BroadcastHashJoin [query_id" not in over
        assert "SortMergeJoin [query_id" in over
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        release_caches()


def test_span_violations_stays_in_jvm(spark, docs_parquet):
    plan = formatted_plan(span_violations(docs_parquet))
    assert "Python" not in plan  # no python UDF in the default hot path
    assert "Scan parquet" in plan


def test_repetition_metrics_stays_all_hash_aggregate(spark):
    """The packed-BIGINT argmax exists precisely so the per-doc fold
    never falls back to SortAggregate (string/struct max buffers are
    not HashAggregateExec-mutable) — pin the all-hash, two-exchange
    shape."""
    from anomaly_detection_spark.operators.text import repetition_metrics

    df = spark.createDataFrame([(1, "a b c a b")], "doc_id bigint, text string")
    import re

    plan = formatted_plan(repetition_metrics(df))
    assert "SortAggregate" not in plan, plan
    # formatted plans print each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_assign_split_is_zero_shuffle_projection(spark):
    """Split assignment must stay a pure projection — pushable,
    shuffle-free, no aggregation."""
    from anomaly_detection_spark.operators.sampling import assign_split

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    plan = formatted_plan(assign_split(df))
    for node in ("Exchange", "Aggregate", "Join", "Generate"):
        assert node not in plan, (node, plan)


def test_decontam_benchmark_side_is_broadcast_under_bound(spark):
    """ngram_overlap's benchmark set is count-guard-broadcast: under
    the bound the corpus join must be a BroadcastHashJoin (the corpus
    streams once), never a shuffle of the big side."""
    import pyspark.sql.functions as F

    from anomaly_detection_spark.operators.decontam import ngram_overlap

    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta tail{i}") for i in range(30)],
        "doc_id bigint, text string",
    )
    out = ngram_overlap(docs, docs.filter(F.col("doc_id") % 5 == 0), k=3)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_application_is_one_codegen_projection(spark, docs_parquet):
    """BPE token counting must stay a pure JVM projection: one
    whole-stage-codegen'd Project over the pruned scan — no shuffle,
    no Python eval, at any corpus size (round 7)."""
    import __spark_entry__ as entry
    from anomaly_detection_spark.operators.bpe import bpe_tokens

    merges = entry._bpe_reference_merges(24)
    import re

    plan = formatted_plan(bpe_tokens(docs_parquet, merges, text_col="doc_id"))
    assert tree_nodes(plan, "Exchange") == 0
    assert "EvalPython" not in plan  # neither BatchEvalPython nor ArrowEvalPython
    # exactly one Project node (it is the plan ROOT, so count the
    # numbered details entries, not the +- tree connectors)
    assert len(re.findall(r"\(\d+\) Project", plan)) == 1
    assert "WholeStageCodegen" in plan or "codegen id" in plan


def test_ivfpq_serve_is_cell_equi_join_with_broadcast_luts(spark):
    """The IVFPQ serve path must candidate-restrict through an
    EQUI-join on the coarse cell id with the per-(query, cell) LUTs on
    the broadcast side — a nested-loop join here would scan the whole
    corpus per query (round 7)."""
    from anomaly_detection_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda k: ((F.col("id") * (k + 3)) % 11 - 5).cast("double"),
        ).alias("embedding"),
    )
    cents, cb = ivfpq_train(emb, k_coarse=2, m=2, ksub=4)
    codes = ivfpq_encode(emb, cents, cb, m=2, ksub=4)
    out = ivfpq_topk(codes, emb.filter("vec_id < 4"), cents, cb, k=3, nprobe=1, m=2, ksub=4)
    plan = formatted_plan(out)
    # no full cartesian pairing of corpus x queries (the
    # BroadcastNestedLoopJoin Cross nodes that DO appear are the
    # house-pattern ONE-ROW packed centroid/codebook frames)
    assert tree_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastHashJoin Inner" in plan
    assert "Left keys [1]: [cell#" in plan or "Right keys [1]: [cell#" in plan


def test_mixture_sample_is_zero_shuffle_filter(spark):
    """After the bounded counts collect, mixture membership must be a
    pure literal scan predicate — pushable, shuffle-free, join-free,
    float-free (round 7)."""
    from anomaly_detection_spark.operators.sampling import mixture_sample

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("lang"),
    )
    plan = formatted_plan(mixture_sample(df, {"a": 2, "b": 1}, group_col="lang"))
    for node in ("Exchange", "Aggregate", "Join", "EvalPython"):
        assert node not in plan, (node, plan)
    assert "cast" not in plan.lower() or "double" not in plan.lower().split("filter")[0]


def test_duplicated_passages_shares_doc_exchange(spark):
    """The interval-union window spec and the per-doc aggregate are
    both keyed on the doc id — they must share ONE hash exchange (the
    prev-dup-start running max exists precisely to avoid a second
    per-doc pass), and nothing may fall back to Python."""
    from anomaly_detection_spark.operators.dedup import duplicated_passages

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota") for i in range(5)],
        "doc_id bigint, text string",
    )
    plan = formatted_plan(duplicated_passages(df, window=8))
    assert "EvalPython" not in plan
    assert "SortAggregate" not in plan, plan
    # Window -> partial agg -> final agg on _id with NO exchange between
    # the Window node and the partial HashAggregate
    import re

    assert plan.find("Window") != -1
    # exactly one hash exchange keyed on the doc id in the whole plan
    # (formatted mode prints exchange keys in the details section)
    assert len(re.findall(r"hashpartitioning\(_id", plan)) == 1, plan


def test_semantic_dup_pairs_plan_constant_in_k(spark):
    """SemDeDup's centroid frame must ride the one-row broadcast (plan
    size O(1) in k·d, the IVF/LSH house pattern), and the within-cell
    pair stage must be an equi-join on the cell id — never a cartesian."""
    from anomaly_detection_spark.operators.similarity import semantic_dup_pairs

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(15)), lambda k: (F.col("id") % 7 + k).cast("double")).alias("embedding"),
    )
    cents = [[float(c + j) for j in range(16)] for c in range(256)]
    # the k=256 list input must still ride the one-row broadcast frame
    pairs = semantic_dup_pairs(emb, cents, threshold=0.9)
    plan = formatted_plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert len(plan) < 60_000, f"plan grew with k: {len(plan)} chars"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan

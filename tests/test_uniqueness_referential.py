import pyspark.sql.functions as F

from anomaly_detection_spark.operators.referential import dangling_refs, ri_violations
from anomaly_detection_spark.operators.uniqueness import (
    duplicate_keys,
    duplicate_rows,
    uniqueness_metrics,
)
from tests.conftest import make_docs

T = lambda text, off: ("text", text, None, off)
M = lambda ref, off: ("media", None, ref, off)


def test_duplicate_keys_planted(spark):
    rows = [
        ("a", 0, [T("x", 0)]),
        ("a", 1, [T("y", 0)]),
        ("b", 0, [T("z", 0)]),
        ("c", 0, [T("w", 0)]),
        ("c", 0, [T("v", 0)]),
        ("c", 2, [T("u", 0)]),
    ]
    docs = make_docs(spark, rows)
    dups = {r["doc_id"]: r["dup_count"] for r in duplicate_keys(docs, "doc_id").collect()}
    assert dups == {"a": 2, "c": 3}
    assert duplicate_rows(docs, "doc_id").count() == 5


def test_uniqueness_metrics_per_partition(spark):
    rows = [
        ("a", 0, [T("x", 0)]),
        ("a", 0, [T("y", 0)]),
        ("b", 0, [T("z", 0)]),
        ("d", 1, [T("q", 0)]),
    ]
    m = {r["partition_id"]: r for r in uniqueness_metrics(make_docs(spark, rows), "doc_id", by=["partition_id"]).collect()}
    assert m[0]["total_rows"] == 3 and m[0]["distinct_keys"] == 2
    assert m[0]["duplicate_keys"] == 1 and m[0]["duplicate_rows"] == 2
    assert m[1]["duplicate_keys"] == 0


def test_salted_agg_matches_unsalted_under_skew(spark):
    from anomaly_detection_spark.sources.synthetic import documents_interleaved

    docs = documents_interleaved(spark, 10000, n_partitions=4, seed=42)
    salted = {(r["doc_id"], r["dup_count"]) for r in duplicate_keys(docs, "doc_id", salt_buckets=64).collect()}
    plain = {
        (r["doc_id"], r["n"])
        for r in docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).filter("n > 1").collect()
    }
    assert salted == plain
    # skew fixture present: the hot key dominates
    assert any(k == "doc-hot" for k, _ in salted)


def test_dangling_refs_and_violation_rows(spark):
    rows = [
        ("d1", 0, [M("asset-1", 0), T("a", 16)]),
        ("d2", 0, [M("ghost-1", 0)]),
        ("d3", 1, [M("asset-2", 0), M("ghost-2", 16), M("ghost-1", 32)]),
    ]
    docs = make_docs(spark, rows)
    catalog = spark.createDataFrame([("asset-1",), ("asset-2",)], "media_ref string")
    assert {r["media_ref"] for r in dangling_refs(docs, catalog).collect()} == {"ghost-1", "ghost-2"}
    viol = {r["doc_id"]: r for r in ri_violations(docs, catalog).collect()}
    assert set(viol) == {"d2", "d3"}
    assert [s["media_ref"] for s in viol["d3"]["offending_spans"]] == ["ghost-2", "ghost-1"]  # doc order
    assert viol["d3"]["partition_id"] == 1


def test_guard_caches_are_bounded_per_label_and_releasable(spark):
    """Without a run-local cache list, the guarded sets of duplicate_rows
    and ri_violations are cached under one label each: repeated calls
    hold at most one cache per label, and release_caches() frees them."""
    from anomaly_detection_spark.caching import release_caches

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_caches()
    before = persisted()
    docs = make_docs(
        spark,
        [("a", 0, [M("ghost-1", 0)]), ("a", 1, [T("x", 0)]), ("b", 0, [M("asset-1", 0)])],
    )
    catalog = spark.createDataFrame([("asset-1",)], "media_ref string")
    for _ in range(2):
        assert duplicate_rows(docs, "doc_id").count() == 2
    assert len(persisted() - before) <= 1
    for _ in range(2):
        assert ri_violations(docs, catalog).count() == 1
    assert len(persisted() - before) <= 2
    release_caches()
    assert persisted() == before


def test_clean_docs_have_no_dangling(spark):
    from anomaly_detection_spark.sources.synthetic import asset_catalog, documents_interleaved

    docs = documents_interleaved(spark, 3000, n_partitions=4, seed=9, plant_violations=False)
    cat = asset_catalog(spark, 1024, seed=9)
    assert dangling_refs(docs, cat).count() == 0

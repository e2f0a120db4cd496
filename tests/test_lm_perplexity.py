"""Unit + decisiveness tests for the bigram-LM perplexity operator
(operators/lm.py). The sf-scale value check is the
lm_perplexity_documents gate oracle; here: hand-computed exactness, the
house null/blank/short edge contract, OOV uniform degradation, and the
floor-boundary decisiveness pin for the two transcendental gate columns
(the ulp rule — cross-engine ln/exp may differ in the last ulp, so the
gate is only as strong as the scaled values' distance from integer
boundaries)."""

import math
import re

import pyspark.sql.functions as F

DOCS = "doc_id bigint, text string"


def _py_lm(ref_texts):
    uni, bi = {}, {}
    for t in ref_texts:
        if t is None or not t.strip():
            continue
        ws = re.split(r"\s+", t.strip().lower())
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    return uni, bi


def _py_score(text, uni, bi):
    v = len(uni)
    if text is None or not text.strip():
        return 0, 0, 0, None
    ws = re.split(r"\s+", text.strip().lower())
    if len(ws) < 2:
        return 0, 0, 0, None
    n, scab, sca, nll = 0, 0, 0, 0.0
    for a, b in zip(ws, ws[1:]):
        cab, ca = bi.get((a, b), 0), uni.get(a, 0)
        n += 1
        scab += cab
        sca += ca
        nll += math.log(ca + v) - math.log(cab + 1)
    return n, scab, sca, nll


def test_lm_perplexity_matches_hand_model(spark):
    from anomaly_detection_spark.operators.lm import lm_perplexity

    ref_rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, None),
        (4, "   "),
    ]
    score_rows = [
        (10, "the cat sat"),        # all bigrams in-reference
        (11, "dog ate homework"),   # fully OOV -> uniform 1/V per step
        (12, "single"),             # no bigrams -> zero row
        (13, None),
        (14, "the cat"),
    ]
    ref = spark.createDataFrame(ref_rows, DOCS)
    docs = spark.createDataFrame(score_rows, DOCS)
    out = {r["doc_id"]: r.asDict() for r in lm_perplexity(docs, ref).collect()}
    uni, bi = _py_lm([t for _, t in ref_rows])
    v = len(uni)
    assert all(r["vocab"] == v for r in out.values())
    for d, t in score_rows:
        n, scab, sca, nll = _py_score(t, uni, bi)
        assert out[d]["n_bigrams"] == n, d
        assert out[d]["sum_c_ab"] == scab and out[d]["sum_c_a"] == sca, d
        if n == 0:
            assert out[d]["nll_e4"] == 0 and out[d]["ppl_e2"] == 0
        else:
            assert out[d]["nll_e4"] == math.floor(10000 * nll / n), d
            assert out[d]["ppl_e2"] == math.floor(100 * math.exp(nll / n)), d
    # fully-OOV doc degrades to exactly the uniform model: nll/n = ln V
    assert out[11]["nll_e4"] == math.floor(10000 * math.log(v))
    # every doc comes back, none dropped
    assert len(out) == len(score_rows)


def test_lm_gate_log_columns_decisive(spark):
    """The gate's nll_e4/ppl_e2 floors must sit far from integer
    boundaries for EVERY sf0.01 doc: a last-ulp ln/exp difference
    between Spark and DuckDB shifts the scaled value by ~1e-9 relative,
    so require min boundary distance > 1e-5 absolute — four orders of
    safety."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    uni, bi = _py_lm([r["text"] for r in rows if r["doc_id"] % 2 == 0])
    min_gap = 1.0
    for r in rows:
        n, _, _, nll = _py_score(r["text"], uni, bi)
        if not n:
            continue
        for scaled in (10000 * nll / n, 100 * math.exp(nll / n)):
            gap = min(scaled - math.floor(scaled), math.ceil(scaled) - scaled)
            min_gap = min(min_gap, gap)
    assert min_gap > 1e-5, min_gap


def test_lm_tables_are_guard_broadcast_and_bounded_cached(spark):
    from anomaly_detection_spark.caching import _CAP_CACHES
    from anomaly_detection_spark.operators.lm import lm_perplexity

    ref = spark.createDataFrame([(i, f"w{i % 5} w{(i + 1) % 5} tail") for i in range(20)], DOCS)
    out = lm_perplexity(ref, ref)
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert "lm_unigrams" in _CAP_CACHES and "lm_bigrams" in _CAP_CACHES
    # second call releases and replaces the cached frames (bounded)
    u1 = _CAP_CACHES["lm_unigrams"]
    lm_perplexity(ref, ref)
    assert _CAP_CACHES["lm_unigrams"] is not u1


def test_lm_empty_reference_fails_loudly(spark):
    import pytest

    from anomaly_detection_spark.operators.lm import lm_perplexity

    ref = spark.createDataFrame([(1, None), (2, "   ")], DOCS)
    docs = spark.createDataFrame([(1, "some text")], DOCS)
    with pytest.raises(ValueError, match="no tokens"):
        lm_perplexity(docs, ref)

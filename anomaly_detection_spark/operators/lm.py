"""N-gram language-model perplexity scoring — the CCNet-style quality
signal (Wenzek et al. 2020: filter/bucket web text by the perplexity of
a LM trained on a trusted reference corpus). The reference engine has
no LM path; this is part of the training-data-pipeline extension
surface, same tier as the dedup/decontam operators.

Model: an add-one-smoothed word BIGRAM LM — deliberately the smallest
model with real train/serve structure (CCNet itself uses KenLM 5-gram;
the pipeline shape — distributed count training, per-doc log-prob
scoring through equi-joins — is identical, and a 5-gram variant is the
same plan with longer keys):

    P(b | a) = (c(ab) + 1) / (c(a) + V)

where ``c`` counts over the reference corpus and ``V`` is its unigram
vocabulary size (so unseen contexts degrade to the uniform 1/V, never
zero). Per-doc negative log-likelihood and perplexity follow.

Spark-first shape, designed for the huge-corpus / small-LM asymmetry:

- training is two hash aggregates over the reference (unigram and
  bigram counts — map-side combined, one shuffle each);
- scoring explodes each doc's positional bigrams ONCE and pays two
  equi-joins against the count tables (count-guard-broadcast under the
  house 1M bound — the common case streams the corpus side once);
- everything per-row is a JVM column expression; no Python touches
  data.

Exactness: every count-derived output column (n_bigrams, sum_c_ab,
sum_c_a, V) is INTEGER-exact and pins the join/count machinery against
the DuckDB twin bit-for-bit. The log-sum itself
(``nll_e4 = floor(1e4/n * sum[ln(c(a)+V) - ln(c(ab)+1)])``) is the one
transcendental emission — last-ulp ln() differences across engines are
possible, so its gate decisiveness (distance of the scaled values from
floor boundaries) is pinned in pytest, the same ulp rule the ANN
rank-only oracles use.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from anomaly_detection_spark.caching import broadcast_if_small, cached

from .decontam import _doc_shingles
from .dedup import _ensure_parallelism

__all__ = ["bigram_lm", "lm_perplexity"]


def bigram_lm(
    reference: DataFrame,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Train the count side of the add-one bigram LM: returns
    ``(unigrams, bigrams)`` where ``unigrams`` is ``(_w, c_w)`` and
    ``bigrams`` ``(_bg, c_bg)`` (gram = the two words joined by one
    space, the word_shingles construction; join keys stay raw strings —
    bigrams are two words, not the 13-gram payloads that make decontam
    hash its keys). The vocabulary size V is ``unigrams.count()``.
    Tokenization is the house trim/lower whitespace split; null/blank
    docs contribute nothing."""
    words = reference.select(
        F.explode(_doc_shingles(text_col, 1, distinct=False)).alias("_w")
    )
    unigrams = words.groupBy("_w").agg(F.count(F.lit(1)).alias("c_w"))
    bigrams = (
        reference.select(F.explode(_doc_shingles(text_col, 2, distinct=False)).alias("_bg"))
        .groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("c_bg"))
    )
    return unigrams, bigrams


def lm_perplexity(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood under the
    add-one model trained on ``reference``.

    Returns one row per input doc: ``(id_col, n_bigrams BIGINT,
    sum_c_ab BIGINT, sum_c_a BIGINT, vocab BIGINT, nll_e4 BIGINT,
    ppl_e2 BIGINT)`` where ``sum_c_ab``/``sum_c_a`` are the summed
    reference counts of the doc's bigrams and their context words
    (integer-exact join evidence), ``nll_e4 = floor(1e4 * nll / n)``
    with ``nll = sum[ln(c(a)+V) - ln(c(ab)+1)]`` (the per-bigram
    average negative log-likelihood), and ``ppl_e2 =
    floor(100 * exp(nll / n))``. Docs with no bigrams (null/blank/
    single-word) emit the all-zero row (house edge contract).

    The LM tables are persisted, counted, and broadcast iff under
    ``broadcast_bound`` (house guarded-broadcast pattern; registered
    under bounded cache labels) — at web scale the corpus pays one
    scan, one explode, two broadcast joins, and one per-doc aggregate."""
    unigrams, bigrams = bigram_lm(reference, text_col=ref_text_col)
    # V = |vocab| is the unigram table's guard count
    unigrams, vocab = broadcast_if_small(cached("lm_unigrams", unigrams), broadcast_bound)
    bigrams, _ = broadcast_if_small(cached("lm_bigrams", bigrams), broadcast_bound)
    if vocab == 0:
        # ln(c + V) with V=0 is ln(0) — NULL in Spark, an error in
        # other engines; an LM trained on nothing scores nothing.
        raise ValueError("lm_perplexity: reference corpus has no tokens")

    rows = _ensure_parallelism(docs).select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(_doc_shingles(text_col, 2, distinct=False)).alias("_p", "_bg"),
    ).select(
        "_id",
        "_bg",
        # context word = everything before the single separator space
        F.when(F.col("_bg").isNotNull(), F.substring_index(F.col("_bg"), " ", 1)).alias("_a"),
    )
    joined = (
        rows.join(bigrams, "_bg", "left")
        .join(unigrams, rows["_a"] == unigrams["_w"], "left")
        .select(
            "_id",
            F.col("_bg").isNotNull().alias("_has"),
            F.coalesce(F.col("c_bg"), F.lit(0)).alias("_cab"),
            F.coalesce(F.col("c_w"), F.lit(0)).alias("_ca"),
        )
    )
    nll_term = F.when(
        F.col("_has"),
        F.log(F.col("_ca").cast("double") + F.lit(float(vocab)))
        - F.log(F.col("_cab").cast("double") + F.lit(1.0)),
    )
    agg = joined.groupBy("_id").agg(
        F.count(F.when(F.col("_has"), 1)).cast("bigint").alias("n_bigrams"),
        F.coalesce(F.sum(F.when(F.col("_has"), F.col("_cab"))), F.lit(0))
        .cast("bigint")
        .alias("sum_c_ab"),
        F.coalesce(F.sum(F.when(F.col("_has"), F.col("_ca"))), F.lit(0))
        .cast("bigint")
        .alias("sum_c_a"),
        F.sum(nll_term).alias("_nll"),
    )
    per = F.col("_nll") / F.col("n_bigrams")
    return agg.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        "sum_c_ab",
        "sum_c_a",
        F.lit(int(vocab)).cast("bigint").alias("vocab"),
        F.when(F.col("n_bigrams") > 0, F.floor(per * 10000))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("nll_e4"),
        F.when(F.col("n_bigrams") > 0, F.floor(F.exp(per) * 100))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ppl_e2"),
    )

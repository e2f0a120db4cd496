"""Benchmark decontamination: word n-gram overlap between a training
corpus and a held-out evaluation/benchmark set.

The standard pre-training hygiene step (GPT-3 appendix C / Llama-2
style): a training document is *contaminated* when it shares long word
n-grams with any benchmark document, and contaminated documents are
dropped (or the overlapping spans surgically removed) before training.
The reference engine has no decontamination path — this is part of the
training-data-pipeline extension surface, same tier as the dedup and
ANN operators.

Spark-first shape, designed for the 100 TB corpus / small benchmark
asymmetry:

- benchmark side: explode distinct word k-grams per doc, distinct
  again across docs, optionally hash each gram to a 64-bit key
  (xxhash64 default) so the join ships 8-byte keys instead of
  arbitrarily long strings;
- corpus side: one scan, explode distinct k-grams per doc (JVM
  higher-order functions, no Python);
- ONE equi-join on the gram key. The benchmark side is persisted,
  counted, and broadcast iff the count is under ``broadcast_bound``
  (the round-2 house pattern — guarded, never assumed), so the common
  case costs the corpus exactly one scan plus the final per-doc
  aggregate; past the bound it degrades to a plain shuffle hash join
  that still never materializes all-pairs anything.

Every doc comes back exactly once (gram explode is ``explode_outer``),
so the output is a drop-in filter input: ``.filter(~F.col(
"contaminated"))`` is the decontaminated corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomaly_detection_spark.caching import broadcast_if_small, cached

from .dedup import _ensure_parallelism, word_shingles

__all__ = ["benchmark_ngrams", "ngram_overlap"]


def _doc_shingles(text_col: str, k: int, distinct: bool = True) -> Column:
    """word_shingles with the STRICT decontamination edge contract:
    blank/null text and any doc with fewer than k words have NO grams.
    word_shingles' dedup contract instead gives every short non-null
    doc one whole-text pseudo-shingle (so exact dups always collide) —
    here that pseudo-gram would let a sub-k-word doc match a same-text
    benchmark row under a "long n-gram" rule and would diverge from
    the oracle's generate_series gram construction.

    ``distinct=False`` keeps positional multiplicity (array index ==
    window start offset) — the duplicated_passages contract, whose
    interval-union arithmetic needs TRUE token positions: an
    array_distinct'd index silently stops being an offset the moment a
    doc repeats a window internally."""
    t = F.trim(F.col(text_col))
    n_words = F.size(F.split(F.lower(t), r"\s+"))
    return F.when(
        t.isNull() | (t == "") | (n_words < k), F.array().cast("array<string>")
    ).otherwise(word_shingles(text_col, k, distinct=distinct))


def benchmark_ngrams(
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Distinct word k-grams across the whole benchmark set, as a
    one-column frame ``_bg`` (hashed when ``hash_fn`` is given, the raw
    gram string when ``hash_fn=None`` — the zero-collision mode the
    DuckDB oracle twin uses)."""
    g = F.explode(_doc_shingles(text_col, k)).alias("_g")
    grams = benchmark.select(g).select(
        (hash_fn(F.col("_g")) if hash_fn is not None else F.col("_g")).alias("_bg")
    )
    return grams.distinct()


def ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    hash_fn=F.xxhash64,
    flag_threshold: float = 0.0,
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """Per-document benchmark-overlap stats and contamination flag.

    Returns one row per input doc: ``(id_col, n_ngrams BIGINT,
    n_matched BIGINT, overlap_e6 BIGINT, contaminated BOOLEAN)`` where
    ``n_ngrams`` counts the doc's DISTINCT word k-grams, ``n_matched``
    how many of those appear anywhere in the benchmark, ``overlap_e6 =
    floor(n_matched * 1e6 / n_ngrams)`` (0 for gram-less docs), and
    ``contaminated`` is true when ``n_matched >= 1`` and the overlap
    ratio is ``>= flag_threshold`` (so the default 0.0 flags any hit —
    the conservative long-k contract).

    ``hash_fn=None`` joins on the raw gram strings (bit-exactly
    reproducible in ANSI SQL; used by the oracle twin);
    the default ``xxhash64`` is the production path — 8-byte join keys,
    collision probability ~(#grams²)/2⁶⁴, negligible against the
    flagging use.
    """
    key = (lambda c: hash_fn(c)) if hash_fn is not None else (lambda c: c)

    bench, _ = broadcast_if_small(
        cached(
            "decontam_benchmark",
            benchmark_ngrams(benchmark, k=k, text_col=bench_text_col, hash_fn=hash_fn),
        ),
        broadcast_bound,
    )

    doc_grams = (
        _ensure_parallelism(docs)
        .select(F.col(id_col).alias("_id"), F.explode_outer(_doc_shingles(text_col, k)).alias("_g"))
        # null-preserving key: xxhash64(NULL) is a non-null seed
        # constant (42), which would make a gram-less doc count one
        # phantom gram in hash mode — keep NULL grams NULL so both
        # modes count and join identically.
        .select("_id", F.when(F.col("_g").isNotNull(), key(F.col("_g"))).alias("_dg"))
    )
    joined = doc_grams.join(bench, doc_grams["_dg"] == bench["_bg"], "left")
    n_ngrams = F.count(F.col("_dg"))  # non-null only: gram-less docs -> 0
    n_matched = F.count(F.col("_bg"))
    agg = joined.groupBy("_id").agg(
        n_ngrams.cast("bigint").alias("n_ngrams"),
        n_matched.cast("bigint").alias("n_matched"),
    )
    ratio = F.col("n_matched") / F.col("n_ngrams")
    return agg.select(
        F.col("_id").alias(id_col),
        "n_ngrams",
        "n_matched",
        F.when(F.col("n_ngrams") > 0, F.floor(F.col("n_matched") * 1000000 / F.col("n_ngrams")))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("overlap_e6"),
        ((F.col("n_matched") >= 1) & (F.col("n_ngrams") > 0) & (ratio >= F.lit(float(flag_threshold))))
        .alias("contaminated"),
    )

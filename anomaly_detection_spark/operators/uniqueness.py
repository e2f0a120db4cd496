"""Key-uniqueness check with skew-aware salted aggregation (SURVEY.md §2 A11).

The reference trusts Delta for identity and has no uniqueness check;
the north rule requires global doc_id uniqueness over 10^12 rows where
a single hot key (the skew fixture: one doc_id across ~1% of rows) can
ruin a naive shuffle. Strategy:

- ``duplicate_keys``: two-phase salted hash-aggregate. Phase 1 counts
  per (salt, key) — the hot key's rows spread over ``salt_buckets``
  reducers; phase 2 re-aggregates the (at most salt_buckets) partial
  rows per key. Combined with map-side partial aggregation this bounds
  any single reducer's load regardless of key skew.
- ``duplicate_rows``: joins the (small) duplicate-key set back to the
  table — broadcast, since #duplicate keys << #rows — to emit full
  violation rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from anomaly_detection_spark.caching import broadcast_if_small, cached


def duplicate_keys(df: DataFrame, key: str, salt_buckets: int = 64) -> DataFrame:
    """Keys appearing more than once: (key, dup_count). Salted two-phase."""
    salt = F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.select(F.col(key), salt.alias("_salt"))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy(key)
        .agg(F.sum("_partial").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def duplicate_rows(
    df: DataFrame,
    key: str,
    salt_buckets: int = 64,
    broadcast_threshold_rows: int | None = 1_000_000,
) -> DataFrame:
    """All rows whose key is duplicated (violation rows for the lineage
    sink). The duplicate-key set is USUALLY tiny relative to the table
    but is data-dependent and unbounded (a pathological corpus can have
    ~every key duplicated), so the broadcast is COUNT-GUARDED: persist
    the set, count it, broadcast only under the bound (skipping the full
    shuffle write of the big side); above the bound it is a plain join —
    sort-merge, never an OOM. ``None`` disables the guard (plain join,
    AQE decides). The guarded set is cached under the
    ``uniqueness_dup_keys`` label."""
    right = duplicate_keys(df, key, salt_buckets).select(key, "dup_count")
    if broadcast_threshold_rows is not None:
        right, _ = broadcast_if_small(cached("uniqueness_dup_keys", right), broadcast_threshold_rows)
    return df.join(right, on=key, how="inner")


def uniqueness_metrics(df: DataFrame, key: str, by: list[str] | None = None) -> DataFrame:
    """Aggregate uniqueness verdict inputs per group: total rows, distinct
    keys (exact — itself a salted-style two-phase via partial agg on the
    key), duplicated keys, duplicated rows."""
    by = by or []
    per_key = df.groupBy(*by, key).agg(F.count(F.lit(1)).alias("n"))
    grouped = per_key.groupBy(*by) if by else per_key.groupBy()
    return grouped.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("duplicate_keys"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("duplicate_rows"),
    )

"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — each designed around the
shuffle it implies at 10^12-document scale.

- exact: hash-groupBy on a normalized fingerprint. One shuffle on the
  16-byte digest (never the text itself); map-side partial agg makes
  the shuffle proportional to #distinct docs per task, not #rows.
- MinHash+LSH: one xxhash64 per shingle + a universal-hash family for
  the per-seed mins, aggregated with map-side partial combine; then
  banded; candidate pairs come from a self-join on (band_idx,
  band_hash) — the classic sub-quadratic path — and are verified with
  exact Jaccard so output quality doesn't depend on LSH luck.
- SimHash: 64-bit signature folded per token via higher-order
  aggregate; near-dup candidates bucket on 16-bit chunks (any pair
  within Hamming distance 3 shares ≥1 of 4 chunks — pigeonhole), then
  exact Hamming check via bit_count(xor).
- n-gram Jaccard: shared-shingle self-join with doc_a < doc_b; fully
  SQL-expressible (DuckDB oracle twin in __spark_entry__).
"""

from __future__ import annotations

import logging
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from anomaly_detection_spark.caching import broadcast_if_small, cached
from anomaly_detection_spark.operators.text import fingerprint

_LOG = logging.getLogger("anomaly_detection_spark.dedup")


def portable_hash60(col: Column) -> Column:
    """Dual-dialect 60-bit string hash: the first 15 hex digits of md5,
    parsed base-16 — always positive, < 2^60. DuckDB computes the exact
    same value as ``('0x' || substr(md5(s), 1, 15))::BIGINT``, which is
    what makes the MinHash-LSH and SimHash *pipelines* (collapse →
    signature → banding → bucket self-join → verify/expand) fully
    oracle-checkable end-to-end: pass ``hash_fn=portable_hash60`` to the
    candidate generators and recompute everything in SQL. The default
    ``xxhash64`` stays the production path — one 64-bit mix per value
    vs md5's full digest (~4x cheaper per string at scale)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs often arrive as one file = one partition, which
    serializes every downstream per-doc computation. Repartition up to
    the cluster's default parallelism when the input is backed by fewer
    files (no-op on real multi-file tables). The probe uses
    ``inputFiles()`` — pure metadata, no RDD conversion/analysis. For
    non-file-backed frames (in-memory fixtures, upstream shuffles) it
    falls back to ``getNumPartitions`` — a frame that already carries
    >= defaultParallelism partitions from an upstream exchange must NOT
    pay another full shuffle here."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — metadata probe only
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # Non-file-backed frame. If the analyzed plan already contains a
        # shuffle-introducing node, downstream parallelism is governed by
        # spark.sql.shuffle.partitions — skip the repartition WITHOUT
        # probing getNumPartitions: under AQE, .rdd finalizes the
        # adaptive plan and eagerly EXECUTES the upstream shuffle stages
        # just to count partitions, and that shuffle output is not
        # reused by the real execution (the input would pay its
        # shuffles twice). Plan-string probe only — nothing runs.
        plan = df._jdf.queryExecution().analyzed().toString()
        # Anchor each token to a plan NODE position (start of line after
        # tree-drawing chars) so a column alias or string literal that
        # happens to contain e.g. "Join"/"Distinct" can't false-positive
        # and silently skip the repartition. "Repartition N, true" =
        # shuffle repartition; ", false" is a coalesce — a coalesced-down
        # fixture still NEEDS the spread.
        # [A-Za-z]*Join covers the whole join-node family (Join,
        # LateralJoin, AsOfJoin, ...) — missing one would fall through
        # to the getNumPartitions probe and re-introduce the AQE
        # double-execution this probe exists to avoid.
        node = re.compile(
            r"^[\s+:*-]*(?:[A-Za-z]*Join|Aggregate|Sort|Window|Deduplicate|Distinct"
            r"|RepartitionByExpression|Repartition \d+, true)\b",
            re.M,
        )
        if node.search(plan):
            return df
        # shuffle-free in-memory plan (LocalRelation/Range fixture):
        # finalizing it is free, so the partition-count probe is safe
        if df.rdd.getNumPartitions() >= target:
            return df
    return df.repartition(target)


# ---------- exact ----------

def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for every group of exact dups."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct fingerprints, dup groups,
    redundant docs — the metrics row a pipeline logs per snapshot."""
    per_fp = (
        df.select(fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_fp.agg(
        F.sum("n").cast("bigint").alias("total_docs"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_docs"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("bigint").alias("dup_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).cast("bigint").alias("redundant_docs"),
    )


# ---------- exact-dup collapse (shared by MinHash-LSH and SimHash) ----------

def _fingerprint_members(df: DataFrame, id_col: str, fp: Column) -> DataFrame:
    """(_id, _fp, _rep): exact-duplicate group membership, representative
    = min id per fingerprint. ``fp`` is any deterministic identity
    column (normalized-text md5 for documents, a dual-xxhash64 struct
    for embedding vectors). Plain join (AQE decides broadcast) — the rep
    set is data-dependent."""
    fps = df.select(F.col(id_col).alias("_id"), fp.alias("_fp"))
    reps = fps.groupBy("_fp").agg(F.min("_id").alias("_rep"))
    return fps.join(reps, "_fp")


def _collapse_exact(df: DataFrame, id_col: str, fp: Column) -> tuple[DataFrame, DataFrame | None]:
    """Exact-dup collapse with a clean-corpus fast path: returns
    (rep_docs, members) where members is None when the corpus has NO
    exact-dup groups at all. The probe is one cheap count aggregate with
    map-side partial combine and a LIMIT-1 early-out (``isEmpty``); on a
    dup-free corpus the collapse join AND the member-expansion joins are
    skipped entirely — reclaiming the clean-corpus cost of the skew
    hardening while keeping it armed for duplicate-heavy inputs."""
    fps = df.select(F.col(id_col).alias("_id"), fp.alias("_fp"))
    has_dups = not (
        fps.groupBy("_fp").agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") > 1).isEmpty()
    )
    if not has_dups:
        return df, None
    members = _fingerprint_members(df, id_col, fp)
    return _representative_docs(df, members, id_col), members


def _representative_docs(df: DataFrame, members: DataFrame, id_col: str) -> DataFrame:
    return df.join(
        members.filter(F.col("_id") == F.col("_rep")).select(F.col("_id").alias(id_col)),
        on=id_col,
        how="left_semi",
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, payload_cols: list[str], within_payload
) -> DataFrame:
    """Expand representative-level pairs back to member-level pairs.

    Exact duplicates share normalized text, hence shingle/hash identity:
    every member pair inherits the representative pair's payload, and
    within-group pairs get ``within_payload`` (jaccard 1 / hamming 0 /
    all bands shared). NOTE: a group of m exact dups expands to m(m-1)/2
    TRUE pairs — the output is inherently quadratic in group size; at
    extreme duplication report groups (``exact_duplicate_groups``)
    instead and call with expand_exact=False."""
    ma = members.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ma"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_mb"))
    across = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            *payload_cols,
        )
    )
    x, y = members.alias("x"), members.alias("y")
    within = (
        x.join(y, (F.col("x._fp") == F.col("y._fp")) & (F.col("x._id") < F.col("y._id")))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            *[within_payload[c].alias(c) for c in payload_cols],
        )
    )
    return across.unionByName(within)


def _cap_buckets(
    keyed: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    stats: dict | None = None,
    label: str = "lsh",
) -> DataFrame:
    """Drop bucket groups larger than ``max_bucket_size`` BEFORE the
    self-join: an m-row bucket makes m² candidate pairs, and one
    boilerplate-heavy bucket can dominate the whole job.

    Truncation is never silent: the drop counts are computed EAGERLY
    here (one small aggregate over the persisted per-bucket sizes),
    logged, and written into the caller-supplied ``stats`` dict — the
    drop count lands next to the pair output instead of requiring a
    separate :func:`lsh_bucket_stats` call. When drops exist, the
    filter is a LEFT ANTI join against only the oversized bucket keys —
    a set with ``n_dropped_buckets`` rows, broadcast when small —
    instead of shipping every bucket's size through the join."""
    if max_bucket_size is None:
        return keyed
    # persist the keyed frame itself: the eager stats aggregate below
    # materializes it into the cache (MEMORY_AND_DISK — spills, never
    # OOMs), and the caller's candidate self-join then reads BOTH sides
    # from the cache instead of recomputing the signature pipeline per
    # side. Cached row width varies by pipeline: ids + bucket keys for
    # the text paths, id + bucket + the full vector for the embedding
    # path (the self-join needs the vectors for the cosine verify).
    # Lifetime is bounded: one live cache per pipeline label.
    keyed = cached(label, keyed)
    sizes = keyed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bs"))
    over = F.col("_bs") > max_bucket_size
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).alias("n_dropped_buckets"),
        F.sum(F.when(over, F.col("_bs")).otherwise(0)).alias("n_rows_in_dropped"),
    ).first()
    rec = {
        "n_buckets": int(row["n_buckets"] or 0),
        "n_dropped_buckets": int(row["n_dropped_buckets"] or 0),
        "n_rows_in_dropped": int(row["n_rows_in_dropped"] or 0),
        "max_bucket_size": int(max_bucket_size),
    }
    if stats is not None:
        stats.update(rec)
    if rec["n_dropped_buckets"] == 0:
        _LOG.info("%s bucket cap: %d buckets, none over %d", label, rec["n_buckets"], max_bucket_size)
        return keyed
    _LOG.warning(
        "%s bucket cap: dropping %d/%d buckets over %d rows (%d member rows excluded from pairing)",
        label,
        rec["n_dropped_buckets"],
        rec["n_buckets"],
        max_bucket_size,
        rec["n_rows_in_dropped"],
    )
    oversized = sizes.filter(over).select(*bucket_cols)
    # conservative count-guarded broadcast (round-2 lesson): 1M bucket
    # keys ~ tens of MB on every executor is the ceiling; beyond that
    # let AQE pick the join strategy.
    if rec["n_dropped_buckets"] <= 1_000_000:
        oversized = F.broadcast(oversized)
    return keyed.join(oversized, bucket_cols, "left_anti")


def lsh_bucket_stats(keyed: DataFrame, bucket_cols: list[str], max_bucket_size: int) -> DataFrame:
    """One-row observability summary for a bucketed candidate stage:
    total buckets, oversized (dropped) buckets, rows in dropped buckets —
    the 'logged drop count' a pipeline records next to its pair output."""
    sizes = keyed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bs"))
    over = F.col("_bs") > max_bucket_size
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_dropped_buckets"),
        F.sum(F.when(over, F.col("_bs")).otherwise(0)).cast("bigint").alias("n_rows_in_dropped"),
    )


# ---------- shingles ----------

def word_shingles(text: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """Word k-grams as array<string> (lowercased); distinct by default
    (the dedup/shingle contract), ``distinct=False`` keeps positional
    multiplicity (the repetition-metrics contract).

    Built by zip_with-ing k aligned slices of the word array (each
    shifted by one) instead of transform(sequence, i -> slice(words,
    i+1, k)): the per-index slice variant re-copies k words per
    position and runs ~3x slower in Spark's interpreted higher-order
    evaluation."""
    t = F.lower(F.trim(F.col(text) if isinstance(text, str) else text))
    words = F.split(t, r"\s+")
    n = F.size(words)
    m = n - (k - 1)  # number of k-grams
    grams = F.slice(words, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(words, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= k, grams).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", words))).otherwise(F.array().cast("array<string>"))
    )


# ---------- MinHash + LSH ----------

def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """array<bigint> of per-seed min hashes computed on the array in
    place (no explode). NOTE: nested higher-order lambdas execute
    interpreted, not codegen'd — for large corpora prefer
    :func:`minhash_signatures` (explode + flat aggregates)."""
    return F.array(
        *[F.array_min(F.transform(shingles, lambda s, i=i: F.xxhash64(F.lit(i), s))) for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """(id, sig array<bigint>) via explode + ``num_hashes`` flat min
    aggregates — whole-stage-codegen friendly with map-side partial
    aggregation (the shuffle carries num_hashes longs per doc per task,
    independent of doc size).

    The string is hashed ONCE per shingle (``hash_fn``, default
    xxhash64; :func:`portable_hash60` for the DuckDB-checkable twin);
    the per-seed family is the classic universal mix h_i = (a_i·h + b_i)
    mod p with p = 2^31−1 and deterministic odd constants — string
    hashing dominates cost, so this is ~num_hashes× cheaper than
    hashing the shingle once per seed."""
    P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
    df = _ensure_parallelism(df)
    sh = df.select(F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, k)).alias("_s"))
    rows = sh.select("_id", F.pmod(hash_fn(F.col("_s")), F.lit(P)).alias("_h"))

    # deterministic universal-hash constants (fixed LCG)
    def consts(i: int) -> tuple[int, int]:
        a = (1_103_515_245 * (i + 1) + 12_345) % P or 1
        b = (22_695_477 * (i + 1) + 1) % P
        return a, b

    A = F.array(*[F.lit(consts(i)[0]) for i in range(num_hashes)])
    B = F.array(*[F.lit(consts(i)[1]) for i in range(num_hashes)])
    # explode the seed dimension rather than running num_hashes parallel
    # aggregate buffers: a 64-buffer hash aggregate blows past codegen
    # limits and falls back to interpreted (~2x slower measured); the
    # (doc, seed) min-agg is a single simple codegen'd aggregate with
    # map-side partial combine. a*h + b < 2^31 * 2^31 < 2^63: no overflow.
    seeded = rows.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("_i"),
        F.col("_h"),
    )
    mins = seeded.groupBy("_id", "_i").agg(
        F.min(
            F.pmod(
                F.element_at(A, F.col("_i") + 1) * F.col("_h") + F.element_at(B, F.col("_i") + 1),
                F.lit(P),
            )
        ).alias("_m")
    )
    return mins.groupBy("_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_i"), F.col("_m")))), lambda s: s["_m"]
        ).alias("_sig")
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """(_id, band_idx, band_hash) — the bucketed keying used by the LSH
    self-join and by :func:`lsh_bucket_stats` for drop observability."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes, hash_fn)
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    hash_fn(
                        F.concat_ws("|", F.transform(F.slice("_sig", b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string")))
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("_id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 4096,
    expand_exact: bool = True,
    stats: dict | None = None,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash: (id_a, id_b,
    n_shared_bands). Self-join keyed on (band_idx, band_hash) — the
    join key is 16 bytes/doc/band, so the shuffle is bands×docs rows
    regardless of document size.

    Skew hardening for duplicate/boilerplate-heavy corpora (the 100-TB
    norm):
    1. exact duplicates collapse to one representative per normalized-
       text fingerprint BEFORE signatures — a 10^6-copy boilerplate doc
       contributes ONE row to every band bucket instead of 10^6; on a
       dup-FREE corpus one cheap probe aggregate detects that and skips
       the collapse + expansion joins entirely (clean-corpus fast path);
    2. buckets larger than ``max_bucket_size`` representatives are
       dropped before the self-join (m-row bucket → m² pairs); drop
       counts are computed in-path, logged, and written into ``stats``
       (also queryable via :func:`lsh_bucket_stats`) — never silent;
    3. with ``expand_exact`` the representative pairs expand back to
       member pairs (exact dups share shingle sets, so payloads carry
       over); at extreme duplication prefer ``expand_exact=False`` +
       ``exact_duplicate_groups`` — the expanded pair set is inherently
       quadratic in group size."""
    rep_docs, members = _collapse_exact(df, id_col, fingerprint(text_col))
    banded = _cap_buckets(
        minhash_banded(rep_docs, text_col, id_col, k, num_hashes, bands, hash_fn),
        ["band_idx", "band_hash"],
        max_bucket_size,
        stats=stats,
        label="minhash_lsh",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    if members is None or not expand_exact:
        return rep_pairs
    return _expand_rep_pairs(
        rep_pairs,
        members,
        ["n_shared_bands"],
        {"n_shared_bands": F.lit(bands).cast("long")},
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs: the verify
    step after LSH. Shingles are built ONLY for docs appearing in a
    candidate pair (semi-join first) — both sides small after LSH.
    Candidates are persisted: the (tiny) pair set feeds two plans here,
    and without a cache the whole LSH subtree re-executes for each.
    The cache registers under the ``jaccard_verify`` label — bounded
    like the signature caches (released on the next call or via
    :func:`~anomaly_detection_spark.caching.release_caches`)."""
    candidates = cached("jaccard_verify", candidates)
    cand_ids = candidates.select(F.col("id_a").alias(id_col)).union(
        candidates.select(F.col("id_b").alias(id_col))
    ).distinct()
    involved = df.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
    sh = involved.select(F.col(id_col).alias("_jid"), word_shingles(text_col, k).alias("_sh"))
    out = (
        candidates.join(sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn("_union", F.size(F.array_union("_sh_a", "_sh_b")))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_inter") / F.col("_union"), 6).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------- SimHash ----------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_fn=F.xxhash64
) -> DataFrame:
    """64-bit SimHash per doc: (id, simhash bigint).

    Formulated for scale as explode + hash-aggregate rather than a
    per-row 64-wide array fold: tokens explode to (doc, hash(tok)),
    then 64 flat ``sum(when(bit,1,-1))`` aggregates per doc — all
    whole-stage-codegen-friendly, with map-side partial aggregation so
    the shuffle carries 64 ints per doc regardless of doc length.
    (A previous array-lambda formulation was ~100x slower: the nested
    higher-order expressions defeat codegen.)

    ``hash_fn=portable_hash60`` yields a 60-bit signature (top 4 bits
    always 0 — harmless for Hamming) whose DuckDB twin is exact."""
    df = _ensure_parallelism(df)
    t = F.lower(F.trim(F.col(text_col)))
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(F.split(t, r"\s+")).alias("_tok")
    ).select("_id", hash_fn(F.col("_tok")).alias("_h"))
    bit_sums = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(64)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for i in range(64):
        fp = fp.bitwiseOR(
            F.when(F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return bit_sums.select(F.col("_id"), fp.alias("simhash"))


def simhash_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_fn=F.xxhash64
) -> DataFrame:
    """(_id, _sim, chunk_idx, chunk_val) — the bucketed keying for the
    SimHash candidate self-join (and for :func:`lsh_bucket_stats`)."""
    sig = simhash_signatures(df, text_col, id_col, hash_fn).withColumnRenamed("simhash", "_sim")
    return sig.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("_sim"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("_id", "_sim", "ch.chunk_idx", "ch.chunk_val")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 4096,
    expand_exact: bool = True,
    stats: dict | None = None,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Candidates
    bucket on the 4 16-bit chunks (pigeonhole: hamming<=3 → ≥1 equal
    chunk of 4); exact check via bit_count(xor).

    Same skew hardening as :func:`minhash_lsh_candidates`: exact dups
    collapse to one representative before signatures (identical text →
    identical simhash → every member of a dup group lands in the same
    chunk buckets) with the same clean-corpus fast path, oversized
    chunk buckets are dropped before the self-join with in-path drop
    stats (logged + ``stats`` dict), and representative pairs expand
    back to member pairs (hamming 0 within a group)."""
    rep_docs, members = _collapse_exact(df, id_col, fingerprint(text_col))
    chunks = _cap_buckets(
        simhash_chunks(rep_docs, text_col, id_col, hash_fn),
        ["chunk_idx", "chunk_val"],
        max_bucket_size,
        stats=stats,
        label="simhash",
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sim").bitwiseXOR(F.col("b._sim"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    rep_pairs = cand.filter(F.col("hamming") <= max_hamming)
    if members is None or not expand_exact:
        return rep_pairs
    return _expand_rep_pairs(rep_pairs, members, ["hamming"], {"hamming": F.lit(0)})


# ---------- n-gram Jaccard (SQL-expressible) ----------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold via the
    shared-shingle self-join (explode distinct shingles, join on
    shingle, count shared, |A|+|B|-shared in the denominator).
    Quadratic in the worst case — used at moderate scale or downstream
    of a blocking key; MinHash LSH is the 10^12-scale path."""
    df = _ensure_parallelism(df)
    sh = df.select(F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, k)).alias("shingle"))
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _dup_flagged_windows(
    df: DataFrame,
    window: int,
    id_col: str,
    text_col: str,
    hash_fn,
    min_docs: int,
) -> DataFrame:
    """Shared core of :func:`duplicated_passages` and
    :func:`remove_duplicated_passages`: one positional-window explode
    (``(_id, n_tokens, pos, _dup)`` — pos is the TRUE token offset,
    ``_dup`` true when the window's key appears in >= ``min_docs``
    distinct docs, null row for window-less docs)."""
    from anomaly_detection_spark.operators.decontam import _doc_shingles

    key = (lambda c: hash_fn(c)) if hash_fn is not None else (lambda c: c)
    t = F.trim(F.col(text_col))
    n_words = F.size(F.split(F.lower(t), r"\s+"))
    # TWO selects (ivf_train r8 lesson): the token count shares a select
    # with the window explode, and a non-generator expression next to a
    # generator is evaluated per OUTPUT row — i.e. the text would be
    # re-split once per window, O(words²) per doc.
    pre = _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.when(t.isNull() | (t == ""), F.lit(0)).otherwise(n_words).alias("n_tokens"),
        _doc_shingles(text_col, window, distinct=False).alias("_grams"),
    )
    rows = pre.select(
        "_id",
        "n_tokens",
        # distinct=False: pos must be the TRUE token offset (the union
        # arithmetic and the oracle's generate_series positions depend
        # on it), and a window repeated within one doc must keep its
        # multiplicity.
        F.posexplode_outer("_grams").alias("pos", "_g"),
    )
    keyed = rows.select(
        "_id",
        "n_tokens",
        "pos",
        # null-preserving key (decontam convention): xxhash64(NULL) is a
        # non-null constant; window-less docs must stay keyless.
        F.when(F.col("_g").isNotNull(), key(F.col("_g"))).alias("_wk"),
    )
    marked = (
        keyed.filter(F.col("_wk").isNotNull())
        .groupBy("_wk")
        .agg(F.count_distinct(F.col("_id")).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_wk", F.lit(True).alias("_dup"))
    )
    return keyed.join(marked, "_wk", "left")


def duplicated_passages(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level cross-document duplication (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" passage
    view, at word-window granularity): every ``window``-token sliding
    window that appears in at least ``min_docs`` DISTINCT documents is
    *duplicated*, and each doc reports how much of its text those
    duplicated windows cover. Complements the doc-level near-dup
    pipelines (MinHash/SimHash collapse whole near-identical docs;
    this finds shared boilerplate/quotes INSIDE otherwise-distinct
    docs) and the within-doc repetition filters in operators/text.py
    (same-doc repeats deliberately do NOT count here — ``min_docs``
    is over distinct doc ids).

    Returns one row per input doc: ``(id_col, n_tokens, n_windows,
    n_dup_windows, dup_tokens, dup_frac_e6)`` where ``dup_tokens`` is
    the size of the UNION of the doc's duplicated windows (overlapping
    windows are not double-counted) and ``dup_frac_e6 =
    floor(dup_tokens * 1e6 / n_tokens)``. Null/blank text and docs
    under ``window`` tokens emit the all-zero row (house edge
    contract; no whole-text pseudo-shingle — the strict
    decontamination guard, or a short doc would "duplicate" against
    an unrelated long doc quoting it).

    Spark-first shape, one corpus scan: positional windows come from
    :func:`word_shingles` ``distinct=False`` (array index == start
    position — zip_with of shifted slices, codegen'd, no Python), keys
    are 8-byte ``hash_fn`` hashes (``None`` = raw gram strings, the
    zero-collision mode the DuckDB oracle twin uses); the duplicated
    set is one hash aggregate on the key; the interval union needs no
    per-doc Python — ``max(pos) over (preceding dup rows)`` gives each
    dup window its previous dup start, so coverage is
    ``least(window, pos - prev)`` summed in the SAME per-doc
    aggregation (the window spec and the groupBy share the ``_id``
    partitioning: one exchange). Scale: two shuffles on the window key
    (aggregate + marked join) and one on the doc id — same cost class
    as the decontamination join; no all-pairs anything, skewed
    boilerplate keys are plain aggregate keys, never join fan-outs."""
    flagged = _dup_flagged_windows(df, window, id_col, text_col, hash_fn, min_docs)
    w = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_dup = F.max(F.when(F.col("_dup"), F.col("pos"))).over(w)
    covered = F.when(
        F.col("_dup"),
        F.least(F.lit(window), F.col("pos") - F.coalesce(prev_dup, F.col("pos") - window)),
    )
    agg = flagged.select("_id", "n_tokens", "pos", "_dup", covered.alias("_cov")).groupBy(
        "_id"
    ).agg(
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.count("pos").cast("bigint").alias("n_windows"),
        F.count("_dup").cast("bigint").alias("n_dup_windows"),
        F.coalesce(F.sum("_cov"), F.lit(0)).cast("bigint").alias("dup_tokens"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        "n_windows",
        "n_dup_windows",
        "dup_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.floor(F.col("dup_tokens") * 1000000 / F.col("n_tokens")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dup_frac_e6"),
    )


def remove_duplicated_passages(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate REMOVAL — the cleaning half of
    :func:`duplicated_passages`: every token covered by a cross-doc
    duplicated window (>= ``min_docs`` distinct docs) is dropped from
    every doc, and the surviving tokens are re-joined. This is the
    remove-every-occurrence semantics of shared-boilerplate cleanup
    (headers, license blocks, navigation chrome) — distinct from
    cluster-representative dedup, which keeps one copy of near-identical
    DOCS; composing both (clean, then dedup) is the usual pipeline.

    Returns ``(id_col, clean_text, n_tokens BIGINT, kept_tokens
    BIGINT)``. ``clean_text`` is whitespace-NORMALIZED (single spaces —
    tokenization is whitespace-based, so original spacing is not
    recoverable); original token case is preserved (windows match
    case-insensitively, the shingle convention). NULL text stays NULL;
    blank/short docs come back with every token kept. By construction
    ``n_tokens - kept_tokens`` equals ``duplicated_passages``'s
    ``dup_tokens`` (asserted in tests).

    Spark shape: the shared flagged-window core, then coverage at token
    granularity WITHOUT an interval join — token rows and dup-window
    rows union into one per-doc ordered stream and a running
    ``max(window start)`` marks each token covered iff the latest start
    at or before it is within ``window`` positions (one exchange for
    the window spec; the rebuild is the per-doc sort+concat aggregate
    on the same partitioning)."""
    flagged = _dup_flagged_windows(df, window, id_col, text_col, hash_fn, min_docs)
    dups = flagged.filter(F.col("_dup")).select(
        "_id", "pos", F.lit(0).alias("_kind"), F.lit(None).cast("string").alias("_tok")
    )
    t = F.trim(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(
            F.when(t.isNull() | (t == ""), F.array().cast("array<string>")).otherwise(
                F.split(t, r"\s+")
            )
        ).alias("pos", "_tok"),
    ).select("_id", "pos", F.lit(1).alias("_kind"), "_tok")
    u = toks.unionByName(dups)
    w = (
        Window.partitionBy("_id")
        .orderBy("pos", "_kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_dup = F.max(F.when(F.col("_kind") == 0, F.col("pos"))).over(w)
    kept = (
        (F.col("_kind") == 1)
        & F.col("_tok").isNotNull()
        & (last_dup.isNull() | (last_dup < F.col("pos") - (window - 1)))
    )
    agg = (
        u.select("_id", "pos", "_kind", "_tok", kept.alias("_keep"))
        .groupBy("_id")
        .agg(
            F.count(F.when((F.col("_kind") == 1) & F.col("_tok").isNotNull(), 1))
            .cast("bigint")
            .alias("n_tokens"),
            F.count(F.when(F.col("_keep"), 1)).cast("bigint").alias("kept_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("_keep"), F.struct("pos", "_tok")))
                    ),
                    lambda s: s["_tok"],
                ),
            ).alias("_clean"),
        )
    )
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    return base.join(agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_text").isNotNull(), F.coalesce(F.col("_clean"), F.lit(""))).alias(
            "clean_text"
        ),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("bigint").alias("kept_tokens"),
    )


def _doc_lines(df: DataFrame, id_col: str, text_col: str, hash_fn) -> DataFrame:
    """(_id, _pos, _line, _k): docs split on newlines with original
    order and text preserved; ``_k`` is the dedup key — the
    lower(trim(line)) normalization (case/edge-space-insensitive
    matching, the CCNet paragraph-dedup convention), hashed when a
    ``hash_fn`` is given, NULL for blank lines (blank lines never
    count as duplicates and are always kept — they carry paragraph
    structure, not content)."""
    keyfn = (lambda c: hash_fn(c)) if hash_fn is not None else (lambda c: c)
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    norm = F.lower(F.trim(F.col("_line")))
    return lines.select(
        "_id", "_pos", "_line", F.when(norm != "", keyfn(norm)).alias("_k")
    )


def duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
    min_docs: int = 2,
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """Cross-doc duplicated LINES (CCNet/datatrove-style paragraph
    dedup at line granularity): a line is boilerplate when its
    normalized form appears in >= ``min_docs`` DISTINCT docs (cookie
    banners, navigation chrome, license headers). Returns one row per
    input doc: ``(id_col, n_lines BIGINT, n_dup_lines BIGINT)``.

    Spark shape: one line explode; the duplicated-key set is the
    post-HAVING aggregate (usually tiny — only actually-shared lines
    survive the ``min_docs`` filter) and rides the house count-guarded
    broadcast, so the exploded stream is probed in place instead of
    shuffling by line key a second time. ``hash_fn=None`` keys on the
    raw normalized strings (the bit-exact oracle mode); the default
    ``xxhash64`` is the production path (8-byte keys)."""
    lines = _dup_line_flags(df, id_col, text_col, hash_fn, min_docs, broadcast_bound)
    agg = lines.groupBy("_id").agg(
        F.count(F.col("_line")).cast("bigint").alias("n_lines"),
        F.count(F.when(F.col("_dup"), 1)).cast("bigint").alias("n_dup_lines"),
    )
    base = df.select(F.col(id_col).alias("_id"))
    return base.join(agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce("n_dup_lines", F.lit(0)).cast("bigint").alias("n_dup_lines"),
    )


def _dup_line_flags(
    df: DataFrame, id_col, text_col, hash_fn, min_docs, broadcast_bound
) -> DataFrame:
    """Shared core: the exploded line stream with a ``_dup`` flag per
    line. The dup-key frame is cached under ``line_dedup_keys`` and
    broadcast iff under ``broadcast_bound``."""
    lines = _doc_lines(df, id_col, text_col, hash_fn)
    dup_keys = (
        lines.where(F.col("_k").isNotNull())
        .groupBy("_k")
        .agg(F.count_distinct(F.col("_id")).alias("_nd"))
        .where(F.col("_nd") >= int(min_docs))
        .select(F.col("_k").alias("_dk"))
    )
    dup_keys, _ = broadcast_if_small(cached("line_dedup_keys", dup_keys), broadcast_bound)
    joined = lines.join(dup_keys, lines["_k"] == dup_keys["_dk"], "left")
    return joined.select(
        "_id", "_pos", "_line", F.col("_dk").isNotNull().alias("_dup")
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
    min_docs: int = 2,
    broadcast_bound: int = 1_000_000,
) -> DataFrame:
    """Boilerplate-line REMOVAL — the cleaning half of
    :func:`duplicated_lines`: every line whose normalized form is
    shared by >= ``min_docs`` distinct docs is dropped from EVERY doc
    (remove-every-occurrence, like :func:`remove_duplicated_passages`
    but at line granularity — line structure, original casing and
    blank lines are preserved exactly, only offending lines vanish).

    Returns ``(id_col, clean_text, n_lines BIGINT, kept_lines
    BIGINT)``; NULL text stays NULL, a doc whose every line is
    boilerplate comes back as the empty string."""
    flagged = _dup_line_flags(df, id_col, text_col, hash_fn, min_docs, broadcast_bound)
    agg = flagged.groupBy("_id").agg(
        F.count(F.col("_line")).cast("bigint").alias("n_lines"),
        F.count(F.when(~F.col("_dup") & F.col("_line").isNotNull(), 1))
        .cast("bigint")
        .alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_dup") & F.col("_line").isNotNull(),
                            F.struct("_pos", "_line"),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_clean"),
    )
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    return base.join(agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_text").isNotNull(), F.coalesce("_clean", F.lit(""))).alias(
            "clean_text"
        ),
        F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce("kept_lines", F.lit(0)).cast("bigint").alias("kept_lines"),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS -> duplicate
    CLUSTERS: (doc_id, cluster_rep), where cluster_rep is the minimum
    member id of the doc's component. This is the step a dedup
    pipeline runs AFTER pair generation (minhash_lsh_candidates /
    simhash_near_duplicates / embedding_near_duplicates all emit
    pairs): transitively-linked near-dups must collapse to ONE
    representative, not be removed pairwise (A~B, B~C must keep
    exactly one of {A,B,C}).

    Algorithm: distributed min-label propagation. labels(v) starts at
    min(v, neighbors(v)); each iteration joins labels across the edge
    list and takes the per-node minimum; stop at fixpoint. Every
    iteration is one shuffle-join on the node id plus one hash
    aggregate — no driver-side graph, no collect of nodes or edges.
    Convergence costs O(component diameter) iterations: near-dup
    clusters are short-diameter by construction (members all resemble
    the same content), so this converges in a handful of rounds at any
    corpus size; ``max_iters`` is a loud-failure backstop, not a
    tuning knob. The per-iteration fixpoint probe is a bounded
    bookkeeping count (one scalar per iteration, house pattern).
    Labels propagate as the ids' natural ordering (lexicographic for
    string doc_ids) — deterministic and engine-portable.

    Scale notes: each iteration's label frame is eagerly persisted and
    the previous one released (storage bounded at O(nodes), same
    discipline as ivf_train); edges are persisted once across
    iterations; the fixpoint probe rides the SAME frame that builds the
    new labels (a ``_chg`` flag computed in the label select, probed
    with a limit-1 scan of the cached frame) — no extra new-vs-old join
    per round. The final label frame stays persisted for the caller's
    downstream join and is registered under the ``duplicate_clusters``
    cache label (the next call releases it;
    :func:`~anomaly_detection_spark.caching.release_caches` frees it
    eagerly). For graphs with pathological diameters (not near-dup
    shaped), the alternating large-star/small-star variant cuts rounds
    to O(log n) — out of scope here by the diameter argument above.
    """
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # registering the first round's frame releases the previous call's
    # clusters before this call caches anything
    labels = cached(
        "duplicate_clusters",
        edges.groupBy("src")
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "node"),
    )
    labels.count()
    def _hop(lbl: DataFrame) -> DataFrame:
        """One min-label propagation step over the edge list; extra
        columns (the round's ``_old`` label) pass through untouched."""
        nm = (
            edges.join(lbl.select("node", "label"), edges["dst"] == F.col("node"))
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        return lbl.join(nm, lbl["node"] == nm["src"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias("label"),
            "_old",
        )

    try:
        for _ in range(max_iters):
            # TWO propagation hops per materialized round: labels move two
            # edge-hops per scheduling round for the same shuffle bytes
            # (two joins+aggregates chain inside one job), halving the
            # rounds — and with them the persist/probe barriers — for a
            # given component diameter. The fixpoint is the same
            # transitive minimum whatever the hop batching.
            stepped = _hop(_hop(labels.select("node", "label", F.col("label").alias("_old"))))
            new_labels = stepped.select(
                "node",
                "label",
                # fixpoint flag computed IN the label build: any strict
                # decrease across the round == this node's label moved
                (F.col("label") < F.col("_old")).alias("_chg"),
            ).persist()
            # ONE action per round: counting the changed rows scans (and
            # therefore caches) every partition of the new frame — the
            # materialize-before-release barrier and the fixpoint probe
            # ride the same job.
            changed = new_labels.filter(F.col("_chg")).count()
            labels.unpersist(blocking=False)
            labels = new_labels
            if changed == 0:
                return cached("duplicate_clusters", labels).select(
                    F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep")
                )
        labels.unpersist(blocking=False)
        raise ValueError(
            f"duplicate_clusters did not converge in {max_iters} iterations "
            f"({2 * max_iters} propagation hops) — "
            f"the pair graph has a diameter far beyond near-dup shape; raise "
            f"max_iters or use a star-contraction variant"
        )
    finally:
        edges.unpersist(blocking=False)


def keep_representatives(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Deduplicated corpus: documents minus every near-dup cluster
    member except the cluster representative (minimum id). Docs in no
    pair pass through untouched — only nodes that appear in the pair
    graph join against the cluster table (left_anti on the small
    non-representative set; AQE broadcasts it when it is actually
    small, never forced)."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        F.col("doc_id").alias("_loser")
    )
    return documents.join(
        losers, documents[id_col] == losers["_loser"], "left_anti"
    )

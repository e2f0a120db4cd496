"""Approximate-nearest-neighbor search over an embedding column
(array<float>): brute-force cosine top-k as the exact baseline, a
random-hyperplane LSH-bucketed variant, and an IVF (inverted-file)
variant — the recommended scale path (oracle-measured recall@5: IVF
69.6% vs LSH 4.4% on the uniform sf0.01 corpus at equal scan
fraction; 100% on planted-cluster data at nprobe=1).

Scale design:
- brute force is a broadcast nested loop: the QUERY side is broadcast
  (queries << corpus), the corpus streams once, and top-k runs in TWO
  window phases — first per (query, input partition), then a final
  merge over the surviving ≤ k·P rows per query. One pass of scored
  pairs is shuffled either way, but no single reducer ever receives a
  whole query's corpus (the single-window plan sends ALL N scored rows
  for a query to one reducer — a guaranteed hot task at 10^9 corpus
  rows); phase 1 spreads each query across P reducers and phase 2
  handles only k·P rows per query.
- LSH buckets corpus and queries by sign-pattern of dot products with
  deterministic hyperplanes; candidates only join within a bucket
  (multi-probe = several independent tables to recover recall).
- dot products run as JVM higher-order functions (zip_with +
  aggregate) — vectorized columnar execution, no Python.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from anomaly_detection_spark.caching import broadcast_if_small, cached


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(a, lambda x: (x * x).cast("double")), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cosine_pre(a: Column | str, b: Column | str, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED norms: bit-identical to :func:`cosine`
    (same dot fold, same ``sqrt`` values, same multiply/divide — only
    WHERE the norms are evaluated changes), but the per-pair work drops
    from three interpreted higher-order folds to one. Callers compute
    ``l2_norm`` once per ROW before their pair join (per-pair norm
    recomputation was ~2/3 of the brute-force scoring cost — HOF lambdas
    always run interpreted)."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 1_000_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine_sim, rank).
    Excludes self-matches. Queries are broadcast; ties break on
    neighbor_id for determinism.

    CONTRACT: queries << corpus. The query side is broadcast (that is
    what makes the corpus stream once with no shuffle of the big side),
    so it must fit in executor memory. The broadcast is count-guarded
    like every other caller-supplied broadcast in this repo (house rule
    since the round-2 regression): if the query side exceeds
    ``max_broadcast_queries`` rows the call fails loudly instead of
    OOMing an executor — at that size you want LSH/IVF, not brute force.

    Two-phase top-k: phase 1 ranks within (query, input-partition) so
    each query's scored rows spread over many reducers; phase 2 merges
    the ≤ k rows per (query, partition) — a per-query hot reducer never
    sees more than k·P rows."""
    # norm computed once per QUERY row here (and once per corpus row
    # below) instead of once per scored pair — see _cosine_pre
    q_side = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    q, n_q = broadcast_if_small(cached("brute_force_topk_queries", q_side), max_broadcast_queries)
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"brute_force_topk broadcasts the query side; got > "
            f"{max_broadcast_queries} query rows — use lsh_topk/ivf_topk "
            f"for query sets that large, or raise max_broadcast_queries "
            f"if the executors can hold them"
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre("_qv", "_cv", F.col("_qn"), F.col("_cn")).alias("_sim"),
        )
        .withColumn("_p", F.spark_partition_id())
    )
    w1 = Window.partitionBy("query_id", "_p").orderBy(
        F.col("_sim").desc(), F.col("neighbor_id").asc()
    )
    partial = (
        scored.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= k).drop("_r1", "_p")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded numpy, driver-side
    literals — n_planes×dim floats, tiny)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


# GUARD: _lsh_bucket and _centroid_scores are _-prefixed test twins of the
# broadcast-frame paths and must stay out of __init__ exports — their plans
# grow O(planes·dim) / O(k·d) and will blow up at production dims. Call
# lsh_topk / ivf_topk instead.
def _lsh_bucket(vec: Column, planes: list[list[float]], table: int) -> Column:
    """Sign-pattern bucket id for one LSH table.

    LITERAL path: embeds n_planes×dim floats as plan literals — kept
    only as the bit-equality twin for :func:`_packed_buckets` (asserted
    in tests) and for ad-hoc small-dim use. Production paths
    (``lsh_topk``, ``embedding_near_duplicates``) use the broadcast
    plane frame, whose plan size is O(1) in n_tables·n_planes·dim."""
    bits = []
    for p_idx, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.when(dot(vec, lit_plane) >= 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** p_idx))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket + F.lit(table * (2 ** len(planes)))


def _plane_frame(spark, tables: list[tuple[int, list[list[float]]]]):
    """Pack ALL tables' hyperplanes into a ONE-ROW broadcast DataFrame
    with a single ``_lshp: array<struct<off:bigint,
    planes:array<struct<vec:array<double>, w:bigint>>>>`` column — one
    outer element per LSH table (off = table · 2^n_planes, the bucket
    namespace offset; w = 2^plane_index, the sign bit's weight).

    Same rationale as :func:`_centroid_frame`: the planes travel as
    DATA (one broadcast variable, tables·planes·dim·8 bytes) instead of
    plan literals, so plan compile + codegen cost is O(1) in the plane
    count. At production embedding dims (d = 768-4096) the literal
    design put 10⁴-10⁵ floats in the expression tree — the exact
    plan-compile pathology the IVF centroid frame eliminated.
    ``array_sort`` pins table order by off (collect_list order is
    nondeterministic); offs are distinct by construction."""
    rows = [
        (
            t * (2 ** len(planes)),
            [([float(x) for x in p], 2 ** j) for j, p in enumerate(planes)],
        )
        for t, planes in tables
    ]
    df = spark.createDataFrame(
        rows, "off bigint, planes array<struct<vec:array<double>, w:bigint>>"
    )
    packed = df.agg(F.array_sort(F.collect_list(F.struct("off", "planes"))).alias("_lshp"))
    return F.broadcast(packed)


def _packed_buckets(vec: Column) -> Column:
    """array<bigint> of per-table bucket ids from the packed ``_lshp``
    column — bit-identical to the literal :func:`_lsh_bucket` values:
    the same zip_with/aggregate dot fold decides each sign, and the
    bit weights/table offsets are exact integers."""
    return F.transform(
        F.col("_lshp"),
        lambda tbl: tbl["off"]
        + F.aggregate(
            tbl["planes"],
            F.lit(0).cast("bigint"),
            lambda acc, p: acc
            + F.when(dot(vec, p["vec"]) >= 0, p["w"]).otherwise(F.lit(0).cast("bigint")),
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidates share an LSH bucket in ≥1 of n_tables
    sign-pattern tables; exact cosine re-ranks within candidates.
    Recall < 1 by construction; n_tables/n_planes trade recall vs
    candidate count (the 1000-executor path: bucket join instead of
    full cross product). Hyperplanes ride a one-row broadcast frame
    (:func:`_plane_frame`), so the plan stays O(1) in
    n_tables·n_planes·dim — required at production embedding dims."""
    tables = [(t, _hyperplanes(dim, n_planes, seed + t)) for t in range(n_tables)]
    plane_row = _plane_frame(corpus.sparkSession, tables)

    def bucketize(df: DataFrame, side: str) -> DataFrame:
        # TWO selects (the r8 generator rule): the norm is a sibling of
        # the bucket explode and would otherwise be re-evaluated once per
        # bucket row; computing it (and the bucket array) below the
        # explode evaluates each once per input row
        pre = df.crossJoin(plane_row).select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"_{side}v"),
            l2_norm(F.col(vec_col)).alias(f"_{side}n"),
            _packed_buckets(F.col(vec_col)).alias("_bkts"),
        )
        return pre.select(
            f"{side}_id", f"_{side}v", f"_{side}n", F.explode("_bkts").alias("bucket")
        )

    cq = bucketize(queries, "query")
    cc = bucketize(corpus, "neighbor")
    cand = (
        cq.join(cc, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre("_queryv", "_neighborv", F.col("_queryn"), F.col("_neighborn")).alias(
                "_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


# ---------------------------------------------------------------- IVF


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of per-centroid assignment scores
    dot(vec, c) − |c|²/2 — argmax is the nearest centroid by L2
    (|x|² is constant per row and drops out of the argmin).

    LITERAL path: the k×d centroids are embedded as plan literals.
    Plan size grows O(k·d), so this is only for small interactive k
    (tests, ad-hoc assignment). ``ivf_train``/``ivf_topk`` use the
    broadcast-frame path (:func:`_centroid_frame`) whose plan size is
    O(1) in k; both compute the identical double-fold, so assignments
    agree bit-for-bit."""
    scores = []
    for c in centroids:
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        half_norm = float(sum(x * x for x in c) / 2.0)
        scores.append(dot(vec, lit_c) - F.lit(half_norm))
    return F.array(*scores)


def assign_cluster(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid index; ties break to the lowest index (numpy
    argmax-first == the DuckDB twin's ORDER BY score DESC, idx ASC).
    Small-k literal path — see :func:`_centroid_scores`."""
    scores = _centroid_scores(vec, centroids)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _centroid_frame(spark, centroids: list[list[float]]):
    """Pack the k centroids into a ONE-ROW broadcast DataFrame with a
    single ``_cents: array<struct<idx:int, vec:array<double>,
    hn:double>>`` column (hn = |c|²/2, computed driver-side with the
    same Python float fold as the literal path — bit-identical).

    Centroids travel as DATA (one broadcast variable, k·d·8 bytes)
    instead of k×d plan literals, so plan compile + codegen cost is
    O(1) in k: k = 10⁴-10⁵ cells — what a 10¹²-vector corpus needs for
    sublinear candidates-per-query — stays a few-MB broadcast instead
    of a multi-megabyte expression tree. ``array_sort`` pins struct
    order by idx (collect_list order is nondeterministic)."""
    rows = [
        (i, [float(x) for x in c], float(sum(x * x for x in c) / 2.0))
        for i, c in enumerate(centroids)
    ]
    df = spark.createDataFrame(rows, "idx int, vec array<double>, hn double")
    return _pack_centroid_frame(df)


def _pack_centroid_frame(cent_df: DataFrame):
    """Pack a distributed (idx, vec, hn) centroid table into the one-row
    broadcast frame — the frame-input twin of :func:`_centroid_frame`,
    used by the collect-free train loop and by ``ivf_topk`` when handed
    a centroid DataFrame. The packed row holds k·d doubles, so the
    broadcast ceiling (spark.sql.maxBroadcastTableBytes etc.) is the
    real bound on codebook size — the same bound any broadcast codebook
    design has."""
    packed = cent_df.agg(F.array_sort(F.collect_list(F.struct("idx", "vec", "hn"))).alias("_cents"))
    return F.broadcast(packed)


def _half_norm(vec: Column) -> Column:
    """|v|²/2 as the same left-to-right double fold the driver-side
    literal path uses (``sum(x*x for x in c) / 2.0``) — bit-identical."""
    return F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x) / 2.0


def _packed_scores(vec: Column) -> Column:
    """array<double> of per-centroid scores from the packed ``_cents``
    column — the same dot(vec, c) − |c|²/2 double fold as
    :func:`_centroid_scores`, evaluated against broadcast data."""
    return F.transform(F.col("_cents"), lambda c: dot(vec, c["vec"]) - c["hn"])


def _argmax_idx(scores: Column) -> Column:
    """First index of the max score (ties → lowest index), as int."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _probe_list(scores: Column, nprobe: int) -> Column:
    """The nprobe best cluster ids: sort (−score, idx) ascending ==
    score desc, ties to the lowest index — the oracle's ORDER BY
    mirror."""
    return F.slice(
        F.transform(
            F.array_sort(
                F.transform(scores, lambda s, i: F.struct((-s).alias("neg"), i.alias("idx")))
            ),
            lambda st: st["idx"],
        ),
        1,
        nprobe,
    )


def _finite_vec(vec: Column) -> Column:
    """True iff every element is finite — non-finite embeddings make
    every centroid score NaN and would silently land in cluster 0."""
    return F.forall(vec, lambda x: ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))))


def ivf_train(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_strategy: str = "smallest_ids",
    as_frame: bool = False,
) -> list[list[float]] | DataFrame:
    """Deterministic Lloyd's k-means coarse quantizer for IVF ANN.

    ``seed_strategy``:
    - ``"smallest_ids"`` (default): the vectors of the k smallest ids
      (no RNG; the oracle twin replays this).
    - ``"hashed"``: the k vectors with the smallest xxhash64(id) — a
      deterministic spread over the corpus; prefer this when ids
      correlate with content order (id-ordered seeds on a sorted corpus
      can start every seed in one region).

    Each iteration is one Spark plan: nearest-centroid assignment via
    a broadcast-centroid cross join (plan size O(1) in k — see
    :func:`_centroid_frame`), then per-cluster per-dimension sums via
    posexplode + a single hash aggregate (map-side combine: the
    shuffle carries ≤ k·d rows per task regardless of corpus size).

    The centroid table stays DISTRIBUTED through the whole loop (the
    round-5 verdict's driver-bound fix): the per-iteration update is a
    groupBy(cluster) array re-pack LEFT-JOINED against the previous
    centroids (empty clusters keep their row via the MAX-is-null
    guard), and each iteration's result is eagerly persisted on
    executors with the PREVIOUS iteration's blocks released (storage
    bounded at O(k·d), lineage truncated at the seed checkpoint) —
    NOTHING collected. With ``as_frame=True`` the returned frame stays
    persisted for the caller (feed it to :func:`ivf_topk`; unpersist
    when done).
    The only driver materialization is the single final ``collect``
    when the caller asks for the legacy ``list[list[float]]`` return;
    pass ``as_frame=True`` to get the (idx, vec, hn) centroid
    DataFrame instead and keep k·d off the driver entirely (feed it
    straight to :func:`ivf_topk`). The update arithmetic is
    bit-identical to the old driver-side fold (same Spark sums, same
    double division, same half-norm fold — pinned by
    test_ivf_train_frame_matches_list).

    The (id, vec) projection is persisted across iterations so the
    corpus scan is paid once, not ``iters`` times. Non-finite vectors
    are filtered before training (their scores are all-NaN and would
    corrupt a centroid)."""
    base = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).filter(
        _finite_vec(F.col("_v"))
    )
    if iters > 1:
        base = base.persist()
    try:
        if seed_strategy == "hashed":
            order = [F.xxhash64(F.col("_id")).asc(), F.col("_id").asc()]
        else:
            order = [F.col("_id").asc()]
        # k seed rows: number them 0..k-1 in seed order WITHOUT a driver
        # round-trip (row_number over the k-row limit — a k-row single
        # partition, same cost the old collect paid in shuffle alone)
        w = Window.orderBy(*order)
        cent_df = (
            base.orderBy(*order)
            .limit(k)
            .select(
                (F.row_number().over(w) - 1).cast("int").alias("idx"),
                F.transform("_v", lambda x: x.cast("double")).alias("vec"),
            )
            .select("idx", "vec", _half_norm(F.col("vec")).alias("hn"))
            .localCheckpoint()
        )
        # Executor storage stays BOUNDED at O(k*d) across the loop: each
        # iteration eagerly persists the new centroid frame, then
        # releases the previous iteration's blocks — a localCheckpoint
        # per iteration would pin O(iters*k*d) dead blocks until driver
        # GC + ContextCleaner got around to them (~328MB/iter at the
        # documented k=1e4, d=4096 envelope). Tradeoff: lineage is
        # truncated only at the seed checkpoint, so a lost block during
        # training replays the join chain from the seed — correct,
        # rare, and bounded by iters re-aggregations of the persisted
        # corpus.
        releasable = None
        for it in range(iters):
            # TWO selects, not one: computing the argmax in the SAME
            # projection as the posexplode makes the planner evaluate the
            # (interpreted, nested-HOF) centroid scoring once per EXPLODED
            # row — d times per vector instead of once (measured 15x
            # slower at d=64). Assign first, explode in a second select.
            assigned = (
                base.crossJoin(_pack_centroid_frame(cent_df))
                .select(
                    _argmax_idx(_packed_scores(F.col("_v"))).alias("_c"),
                    F.col("_v"),
                )
                .select("_c", F.posexplode("_v").alias("_j", "_x"))
            )
            sums = assigned.groupBy("_c", "_j").agg(
                F.sum(F.col("_x").cast("double")).alias("_s"), F.count(F.lit(1)).alias("_n")
            )
            # re-pack each non-empty cluster's per-dim means into an
            # array (j is dense 0..d-1 for any non-empty cluster)
            upd = sums.groupBy("_c").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_j", (F.col("_s") / F.col("_n")).alias("_m")))),
                    lambda s: s["_m"],
                ).alias("_newvec")
            )
            new_cent = (
                cent_df.join(upd, cent_df["idx"] == upd["_c"], "left")
                .select("idx", F.coalesce(F.col("_newvec"), F.col("vec")).alias("vec"))
                .select("idx", "vec", _half_norm(F.col("vec")).alias("hn"))
            )
            # Mid-loop iterations eagerly persist + count so the previous
            # frame can be released (storage bounded at O(k·d)); the FINAL
            # iteration defers materialization to whatever consumes the
            # result — the collect below for the list path, the caller's
            # first job for the frame path — saving one scheduling round
            # per call (the r8 job-count audit: every gate use is iters=1,
            # where the old eager count was a pure extra pass).
            if it < iters - 1:
                new_cent = new_cent.persist()
                new_cent.count()  # materialize BEFORE releasing the previous frame
                if releasable is not None:
                    releasable.unpersist(blocking=False)
                releasable = new_cent
            cent_df = new_cent
        if as_frame:
            cent_df = cent_df.persist()
            if releasable is not None:
                cent_df.count()  # materialize BEFORE releasing the frame it reads
                releasable.unpersist(blocking=False)
            return cent_df
        rows = [[float(x) for x in r["vec"]] for r in cent_df.orderBy("idx").collect()]
        if releasable is not None:
            releasable.unpersist(blocking=False)
        return rows
    finally:
        if iters > 1:
            base.unpersist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]] | DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors bucket by nearest centroid (the
    inverted file); each query probes its ``nprobe`` best centroids and
    re-ranks exact cosine ONLY within those clusters — candidates per
    query are ~ nprobe/k of the corpus instead of all of it, and the
    join is a plain equi-join on the cluster id (the 1000-executor
    path). Complements :func:`lsh_topk`: IVF wins when the corpus HAS
    cluster structure (the LSH recall gap quantified by lsh_ann_recall
    is exactly the no-structure regime). A hot Voronoi cell makes the
    cluster id a skewed join key — the session enables AQE skew-join
    splitting, and raising k shrinks the worst cell. Ties break on
    neighbor_id.

    Centroids ride a one-row broadcast frame (:func:`_centroid_frame`)
    rather than plan literals, so the plan survives the k ~ 10⁴-10⁵
    cell counts a 100-TB corpus needs.

    Non-finite vectors are filtered on BOTH sides for consistency with
    :func:`ivf_train`: a NaN/Inf corpus vector gets all-NaN centroid
    scores and would silently land in cluster 0 at serve time, and a
    NaN query would probe undefined cells.

    ``centroids`` may be the legacy ``list[list[float]]`` or the
    (idx, vec, hn) DataFrame from ``ivf_train(as_frame=True)`` — the
    frame path never routes k·d values through the driver."""
    spark = corpus.sparkSession
    if isinstance(centroids, DataFrame):
        cent_row = _pack_centroid_frame(centroids)
    else:
        cent_row = _centroid_frame(spark, centroids)
    # norms computed once per row on each side (see _cosine_pre); the
    # query side explodes its probe list in a SECOND select so neither
    # the norm nor the probe scoring re-evaluates per probe row (the r8
    # generator rule)
    c = corpus.filter(_finite_vec(F.col(vec_col))).crossJoin(cent_row).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        _argmax_idx(_packed_scores(F.col(vec_col))).alias("_c"),
    )
    q = (
        queries.filter(_finite_vec(F.col(vec_col)))
        .crossJoin(cent_row)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            l2_norm(F.col(vec_col)).alias("_qn"),
            _probe_list(_packed_scores(F.col(vec_col)), nprobe).alias("_probes"),
        )
        .select("query_id", "_qv", "_qn", F.explode("_probes").alias("_c"))
    )
    # no dropDuplicates: a neighbor lives in exactly ONE cluster, so a
    # (query, neighbor) pair appears at most once — unlike lsh_topk,
    # where multi-table buckets genuinely duplicate pairs. Skipping the
    # dedup removes a whole shuffle from the candidate path.
    cand = (
        q.join(c, "_c")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre("_qv", "_cv", F.col("_qn"), F.col("_cn")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 6,
    max_bucket_size: int | None = 4096,
    expand_exact: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    via LSH blocking + exact verify — the embedding analog of
    MinHash-LSH text dedup, with the SAME skew hardening (shared
    machinery in operators/dedup.py):

    1. byte-identical vectors collapse to one representative per
       dual-xxhash64 vector fingerprint BEFORE bucketing — a 10^6-copy
       embedding (dup-heavy corpora are the 100-TB norm) contributes
       ONE row per bucket instead of 10^6, so the bucket self-join
       never sees an m-copy group's m² pairs; a dup-free corpus skips
       the collapse via one cheap probe aggregate;
    2. buckets larger than ``max_bucket_size`` representatives are
       dropped before the self-join, with in-path drop stats (logged +
       ``stats`` dict) — truncation is observable, never silent;
    3. representative pairs expand back to member pairs (identical
       vectors ⇒ identical cosine; within-group pairs are cosine 1.0);
       at extreme duplication use ``expand_exact=False`` — the true
       pair set is inherently quadratic in group size."""
    from anomaly_detection_spark.operators.dedup import (
        _cap_buckets,
        _collapse_exact,
        _expand_rep_pairs,
    )

    # two independent 64-bit hashes of the raw vector → 128-bit identity
    # (collision-safe at 10^12 scale, same width as the text md5 path)
    vec_fp = F.struct(
        F.xxhash64(F.lit(0), F.col(vec_col)).alias("h0"),
        F.xxhash64(F.lit(1), F.col(vec_col)).alias("h1"),
    )
    rep_docs, members = _collapse_exact(df, id_col, vec_fp)
    tables = [(t, _hyperplanes(dim, n_planes, 1000 + t)) for t in range(n_tables)]
    plane_row = _plane_frame(df.sparkSession, tables)
    # norm once per representative row, below the bucket explode (r8
    # generator rule + _cosine_pre — the verify cosine then pays one
    # interpreted fold per pair instead of three)
    b = (
        rep_docs.crossJoin(plane_row)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            l2_norm(F.col(vec_col)).alias("_n"),
            _packed_buckets(F.col(vec_col)).alias("_bkts"),
        )
        .select("_id", "_v", "_n", F.explode("_bkts").alias("bucket"))
    )
    b = _cap_buckets(b, ["bucket"], max_bucket_size, stats=stats, label="embedding_near_dups")
    x, y = b.alias("x"), b.alias("y")
    rep_pairs = (
        x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x._id") < F.col("y._id")))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.col("x._v").alias("_va"),
            F.col("y._v").alias("_vb"),
            F.col("x._n").alias("_na"),
            F.col("y._n").alias("_nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(_cosine_pre("_va", "_vb", F.col("_na"), F.col("_nb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    if members is None or not expand_exact:
        return rep_pairs
    return _expand_rep_pairs(rep_pairs, members, ["cosine_sim"], {"cosine_sim": F.lit(1.0)})


def semantic_dup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]] | DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 65536,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023): assign every vector to its nearest coarse k-means cell (the
    same quantizer :func:`ivf_train` builds), then emit within-cell
    pairs with cosine >= ``threshold``. The cells PARTITION the corpus
    — unlike the multi-table LSH blocking of
    :func:`embedding_near_duplicates`, each pair can surface in at most
    one cell, so there is no dropDuplicates shuffle; the price is the
    paper's stated blind spot: near-dup pairs that straddle a Voronoi
    boundary are missed (raise k to shrink cells, or run the LSH
    blocker when cross-cell recall matters more than cost).

    Returns ``(id_a, id_b, cosine_sim)`` with ``id_a < id_b``. Cells
    larger than ``max_cell_size`` are dropped before the self-join with
    in-path drop stats (:func:`~anomaly_detection_spark.operators.dedup._cap_buckets`
    discipline — observable, never silent): a hot cell is exactly the
    all-pairs blowup this operator exists to avoid. Centroids ride the
    one-row broadcast frame (plan O(1) in k·d); non-finite vectors are
    filtered (all-NaN scores would land them in cell 0)."""
    from anomaly_detection_spark.operators.dedup import _cap_buckets

    spark = corpus.sparkSession
    if isinstance(centroids, DataFrame):
        cent_row = _pack_centroid_frame(centroids)
    else:
        cent_row = _centroid_frame(spark, centroids)
    assigned = corpus.filter(_finite_vec(F.col(vec_col))).crossJoin(cent_row).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),  # once per row, not per pair
        _argmax_idx(_packed_scores(F.col(vec_col))).alias("_cell"),
    )
    assigned = _cap_buckets(assigned, ["_cell"], max_cell_size, stats=stats, label="semdedup")
    x, y = assigned.alias("x"), assigned.alias("y")
    return (
        x.join(y, (F.col("x._cell") == F.col("y._cell")) & (F.col("x._id") < F.col("y._id")))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.round(
                _cosine_pre(F.col("x._v"), F.col("y._v"), F.col("x._n"), F.col("y._n")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 16,
    threshold: float = 0.95,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 65536,
    stats: dict | None = None,
) -> DataFrame:
    """End-to-end semantic deduplication: train the coarse quantizer,
    find within-cell cosine near-dup pairs, collapse transitive
    clusters, keep one representative per cluster — the embedding-space
    twin of the MinHash text-dedup endgame, sharing
    :func:`~anomaly_detection_spark.operators.dedup.duplicate_clusters`
    / ``keep_representatives``. Returns the SURVIVING corpus (every
    input column, rows in no pair pass through untouched).

    Representative choice: the minimum id per cluster (the house
    deterministic, engine-portable convention) — the SemDeDup paper
    keeps the member farthest from the cell centroid instead; that
    ranking is a float argmin over distances (not reproducible
    cross-engine to the ulp) and changes WHICH near-identical copy
    survives, not WHAT content survives."""
    from anomaly_detection_spark.operators.dedup import keep_representatives

    cents = ivf_train(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, as_frame=True)
    try:
        pairs = semantic_dup_pairs(
            corpus,
            cents,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            max_cell_size=max_cell_size,
            stats=stats,
        )
        return keep_representatives(corpus, pairs, id_col=id_col)
    finally:
        cents.unpersist(blocking=False)


# ---------- Product quantization (PQ) ----------
#
# The memory-compression scale path for very large corpora (FAISS-style
# IVFPQ without the coarse stage): each d-dim vector is stored as m
# uint8 codes (one per contiguous d/m-dim subspace), and queries score
# candidates by Asymmetric Distance Computation — a per-query lookup
# table of m x ksub partial distances, summed by code. At 10^9+ vectors
# the corpus side shrinks from 4·d bytes/vec to m bytes/vec and the
# scoring join ships codes, never vectors.


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace k-means codebooks as a DISTRIBUTED frame
    ``(sub int, idx int, vec array<double>, hn double)``.

    Each subspace trains with the exact :func:`ivf_train` machinery
    (deterministic smallest-id seeds, broadcast-centroid assignment,
    posexplode + hash-aggregate updates, empty clusters keep their
    seed) on the sliced subvectors — m small passes over a 2-column
    projection; the same DuckDB-replayable recursion, so PQ codebooks
    are oracle-checkable exactly like the IVF quantizer. Nothing is
    collected to the driver; the m per-subspace frames ivf_train leaves
    persisted are released here after the union is materialized (one
    localCheckpoint of m·ksub tiny rows), so repeated pq_train calls
    never accumulate executor storage."""
    # slice bounds must be static per subspace, so the vector width is
    # read with ONE bounded single-row probe (a LIMIT 1 collect); the
    # corpus must carry fixed-width vectors.
    first = corpus.select(F.size(F.col(vec_col)).alias("_d")).limit(1).collect()
    if not first:
        raise ValueError("pq_train: empty corpus")
    d = int(first[0]["_d"])
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m

    # The m per-subspace trainings are INDEPENDENT jobs over disjoint
    # slices of the same input — submit them from a thread pool so their
    # stages overlap (guide-standard back-fill: each training's tail
    # leaves cores idle that the next subspace's stages soak up). Each
    # thread runs the unchanged ivf_train recursion, so per-subspace
    # results are byte-identical to the old sequential loop; pool.map
    # preserves subspace order for the union below.
    def _train_sub(s: int) -> DataFrame:
        sub = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("_sv")
        )
        return ivf_train(sub, k=ksub, iters=iters, id_col=id_col, vec_col="_sv", as_frame=True)

    from concurrent.futures import ThreadPoolExecutor

    # at most 8 concurrent trainings: past that their stages only queue
    # for the same cores, and every thread holds a driver-side job
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        futures = [pool.submit(_train_sub, s) for s in range(m)]
    # every finished subspace leaves a persisted frame, released below
    # also when another subspace failed
    raw_cbs = [f.result() for f in futures if f.exception() is None]
    try:
        if len(raw_cbs) < m:
            raise next(f.exception() for f in futures if f.exception() is not None)
        parts = [
            cb.select(F.lit(s).cast("int").alias("sub"), "idx", "vec", "hn")
            for s, cb in enumerate(raw_cbs)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # cut lineage to the persisted per-subspace frames before the
        # release below — the codebook is m·ksub rows of (sub, idx, vec, hn)
        out = out.localCheckpoint()
    finally:
        for cb in raw_cbs:
            try:
                cb.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — best-effort release
                pass
    return out


def _pack_codebooks(codebooks: DataFrame, m: int, ksub: int):
    """One-row broadcast frame ``_cbs``: array of m elements, element s
    an array of ksub struct(vec, hn) in idx order — the sub-indexed
    twin of :func:`_pack_centroid_frame` (plan size O(1) in m·ksub·d)."""
    per_sub = (
        codebooks.groupBy("sub")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "vec", "hn"))).alias("_c"))
        .select("sub", F.transform("_c", lambda c: F.struct(c["vec"].alias("vec"), c["hn"].alias("hn"))).alias("_c"))
    )
    packed = per_sub.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "_c"))), lambda s: s["_c"]
        ).alias("_cbs")
    )
    return F.broadcast(packed)


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode each vector as m nearest-centroid codes:
    ``(id_col, codes array<int>)``.

    Shape: explode the m subspaces (m rows per vector, each carrying
    one dsub-dim slice), score against the broadcast codebook row with
    a SINGLE-level transform (the accepted `_packed_scores` pattern —
    nested higher-order lambdas run interpreted and are avoided on the
    corpus side), then re-pack codes per id with one hash aggregate.
    Nearest = argmax(dot − |c|²/2), ties to the lowest code — identical
    decision rule to the IVF assignment, hence the same oracle twin.
    ``carry_cols`` pass extra per-row columns (constant per id, e.g.
    the IVFPQ coarse cell) through to the output."""
    carries = list(carry_cols or [])
    # same guard as every IVF path: a NaN/Inf vector scores NaN against
    # every centroid and _argmax_idx would silently encode it as code 0
    corpus = corpus.filter(_finite_vec(F.col(vec_col)))
    subs = corpus.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in carries],
        F.posexplode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_s", "_sdup"),
        F.col(vec_col).alias("_v"),
    ).select(
        "_id",
        *carries,
        "_s",
        F.expr(f"slice(_v, _s * (size(_v) div {m}) + 1, size(_v) div {m})").alias("_sv"),
    )
    scored = subs.crossJoin(_pack_codebooks(codebooks, m, ksub)).select(
        "_id",
        *carries,
        "_s",
        _argmax_idx(
            F.transform(
                F.col("_cbs")[F.col("_s")], lambda c: dot(F.col("_sv"), c["vec"]) - c["hn"]
            )
        ).alias("_code"),
    )
    return scored.groupBy("_id", *carries).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_s", "_code"))), lambda st: st["_code"]
        ).alias("codes")
    ).select(F.col("_id").alias(id_col), *carries, "codes")


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 1_000_000,
) -> DataFrame:
    """ADC top-k over PQ codes: ``(query_id, neighbor_id, rank)``,
    rank 1 = smallest reconstructed L2 distance, ties to the lowest
    neighbor id. Self-matches excluded.

    Scale shape: the per-query m·ksub lookup table (squared distance
    from the query's subvector to every centroid) is computed ONCE per
    query on the small broadcast side; the corpus side then pays one
    flat zip_with(codes, lut) fold per pair — m lookups and adds, no
    vectors shipped, no Python. Two-phase top-k as in
    :func:`brute_force_topk` (no per-query hot reducer). The query side
    is count-guard-broadcast under the house pattern."""
    q_side = queries.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    # LUT build: explode the m subspaces on the SMALL query side (same
    # shape as pq_encode), score each subvector against that sub's
    # centroids with one single-level transform, and re-pack per query
    # — every higher-order lambda stays one level deep, and the
    # corpus-side hot path below is a single flat fold.
    q_subs = q_side.select(
        "query_id",
        F.posexplode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_s", "_sdup"),
        F.col("_qv"),
    ).select(
        "query_id",
        "_s",
        F.expr(f"slice(_qv, _s * (size(_qv) div {m}) + 1, size(_qv) div {m})").alias("_sv"),
    )
    lut_rows = q_subs.crossJoin(_pack_codebooks(codebooks, m, ksub)).select(
        "query_id",
        "_s",
        F.transform(
            F.col("_cbs")[F.col("_s")],
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("_sv"),
                    c["vec"],
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ).alias("_lrow"),
    )
    luts = lut_rows.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_s", "_lrow"))), lambda st: st["_lrow"]
        ).alias("_lut")
    )
    q, n_q = broadcast_if_small(cached("pq_topk_queries", luts), max_broadcast_queries)
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"pq_topk broadcasts the query LUTs; got > {max_broadcast_queries} query rows"
        )
    scored = (
        corpus_codes.select(F.col(id_col).alias("neighbor_id"), "codes")
        .join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("codes"), F.col("_lut"), lambda cd, row: F.element_at(row, cd + 1)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist"),
        )
        .withColumn("_p", F.spark_partition_id())
    )
    w1 = Window.partitionBy("query_id", "_p").orderBy(F.col("_dist").asc(), F.col("neighbor_id").asc())
    partial = scored.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= k).drop("_r1", "_p")
    w2 = Window.partitionBy("query_id").orderBy(F.col("_dist").asc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------- IVF + PQ composition (residual quantization) ----------


def _residuals(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _cell, _rv): nearest coarse cell and the residual vector
    x − centroid[cell] — the quantity IVFPQ's codebooks quantize
    (residuals are far more compressible than raw vectors: the coarse
    quantizer removes the corpus-level spread). Broadcast-centroid
    assignment, plan O(1) in k."""
    packed = _pack_centroid_frame(cents)
    a = corpus.filter(_finite_vec(F.col(vec_col))).crossJoin(packed).select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.col("_cents"),
        _argmax_idx(_packed_scores(F.col(vec_col))).alias("_cell"),
    )
    return a.select(
        id_col,
        "_cell",
        F.zip_with(
            F.col("_v"),
            F.col("_cents")[F.col("_cell")]["vec"],
            lambda x, y: x.cast("double") - y,
        ).alias("_rv"),
    )


def ivfpq_train(
    corpus: DataFrame,
    k_coarse: int = 8,
    m: int = 4,
    ksub: int = 16,
    coarse_iters: int = 1,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """FAISS-style IVFPQ training: a coarse k-means quantizer
    (:func:`ivf_train`, distributed centroid frame) plus per-subspace
    PQ codebooks trained on the coarse RESIDUALS (:func:`pq_train` on
    the residual frame). Returns ``(centroid_frame, codebook_frame)``
    — both distributed, nothing collected."""
    cents = ivf_train(
        corpus, k=k_coarse, iters=coarse_iters, id_col=id_col, vec_col=vec_col, as_frame=True
    )
    # The residual frame feeds pq_train's width probe plus every one of
    # the m per-subspace trainings — without a cache each of those jobs
    # would replay the corpus scan AND the coarse assignment. Persist it
    # once (MEMORY_AND_DISK: spills, never OOMs), materialize before the
    # concurrent subspace trainings fan out, release when the codebook
    # union has been checkpointed.
    resid = _residuals(corpus, cents, id_col, vec_col).persist()
    try:
        resid.count()
        cb = pq_train(
            resid.select(F.col(id_col), F.col("_rv")), m=m, ksub=ksub, iters=pq_iters,
            id_col=id_col, vec_col="_rv",
        )
    finally:
        resid.unpersist(blocking=False)
    return cents, cb


def ivfpq_encode(
    corpus: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes): coarse cell id plus the m residual PQ codes —
    the complete IVFPQ index entry (a few bytes per vector). The cell
    travels with the codes (one equi-join key at serve time), so the
    raw vector is never needed again."""
    resid = _residuals(corpus, cents, id_col, vec_col)
    codes = pq_encode(
        resid.select(F.col(id_col), F.col("_cell"), F.col("_rv")),
        codebooks, m=m, ksub=ksub, id_col=id_col, vec_col="_rv", carry_cols=["_cell"],
    )
    return codes.select(F.col(id_col), F.col("_cell").alias("cell"), "codes")


def ivfpq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 1_000_000,
) -> DataFrame:
    """IVFPQ serve path: each query probes its ``nprobe`` best coarse
    cells, builds one ADC lookup table PER PROBED CELL against the
    query's cell residual (q − centroid), and scores only that cell's
    code rows through an equi-join on the cell id — the candidate set
    is ~nprobe/k_coarse of the corpus and the hot path ships m-byte
    codes, never vectors. Returns (query_id, neighbor_id, rank), rank 1
    = smallest reconstructed residual-L2 distance, ties to the lowest
    neighbor id; self-matches excluded. Query side count-guarded and
    broadcast (house pattern)."""
    packed_cents = _pack_centroid_frame(cents)
    q_probes = (
        queries.filter(_finite_vec(F.col(vec_col)))
        .crossJoin(packed_cents)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.col("_cents"),
            F.explode(_probe_list(_packed_scores(F.col(vec_col)), nprobe)).alias("_cell"),
        )
        .select(
            "query_id",
            "_cell",
            F.zip_with(
                F.col("_qv"), F.col("_cents")[F.col("_cell")]["vec"], lambda x, y: x.cast("double") - y
            ).alias("_qr"),
        )
    )
    # per-(query, cell) LUT: explode subspaces of the residual query
    # (small side), one single-level transform per sub, regroup
    q_subs = q_probes.select(
        "query_id",
        "_cell",
        F.posexplode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_s", "_sdup"),
        F.col("_qr"),
    ).select(
        "query_id",
        "_cell",
        "_s",
        F.expr(f"slice(_qr, _s * (size(_qr) div {m}) + 1, size(_qr) div {m})").alias("_sv"),
    )
    lut_rows = q_subs.crossJoin(_pack_codebooks(codebooks, m, ksub)).select(
        "query_id",
        "_cell",
        "_s",
        F.transform(
            F.col("_cbs")[F.col("_s")],
            lambda c: F.aggregate(
                F.zip_with(F.col("_sv"), c["vec"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ).alias("_lrow"),
    )
    luts = lut_rows.groupBy("query_id", "_cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_s", "_lrow"))), lambda st: st["_lrow"]
        ).alias("_lut")
    )
    q, n_q = broadcast_if_small(cached("ivfpq_topk_queries", luts), max_broadcast_queries)
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"ivfpq_topk broadcasts per-(query, cell) LUTs; got > {max_broadcast_queries} rows"
        )
    scored = (
        corpus_codes.select(F.col(id_col).alias("neighbor_id"), F.col("cell"), "codes")
        .join(q, (F.col("cell") == F.col("_cell")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("codes"), F.col("_lut"), lambda cd, row: F.element_at(row, cd + 1)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist"),
        )
        .withColumn("_p", F.spark_partition_id())
    )
    w1 = Window.partitionBy("query_id", "_p").orderBy(F.col("_dist").asc(), F.col("neighbor_id").asc())
    partial = scored.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= k).drop("_r1", "_p")
    w2 = Window.partitionBy("query_id").orderBy(F.col("_dist").asc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def refine_topk(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_candidates: int = 1_000_000,
) -> DataFrame:
    """FAISS-style refine step: exact-cosine re-rank of an ANN stage's
    candidate set. Ask the quantized stage (pq_topk / ivfpq_topk /
    lsh_topk / ivf_topk) for R = refine_factor × k candidates, then
    keep the exact top-k — recall approaches the R-candidate ceiling
    while the exact scoring touches only |Q|·R vectors instead of the
    corpus. This is THE standard fix for PQ's quantization-limited
    recall (the engine's measured 0.13-0.14 recall@5 on structureless
    uniform data) at a tiny serve cost.

    ``candidates`` needs (query_id, neighbor_id); extra columns are
    ignored. Returns (query_id, neighbor_id, cosine_sim, rank), rank 1
    = highest exact cosine, ties to the lowest neighbor id.

    Scale shape: the id-pair set (≤ |Q|·R rows, two ids wide) rides the
    house count-guarded broadcast, so the corpus streams ONCE through a
    broadcast-hash join that plucks candidate vectors; query vectors
    attach by a second guarded broadcast (a plain join when the query
    set exceeds ``max_broadcast_candidates``); the re-rank window sees
    ≤ R rows per query. No shuffle ever touches the corpus side."""
    pairs, n_pairs = broadcast_if_small(
        cached("refine_topk_pairs", candidates.select("query_id", "neighbor_id")),
        max_broadcast_candidates,
    )
    if n_pairs > max_broadcast_candidates:
        raise ValueError(
            f"refine_topk broadcasts the candidate pair set; got > "
            f"{max_broadcast_candidates} rows — lower the ANN stage's "
            f"candidate count or raise max_broadcast_candidates"
        )
    cand_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).join(pairs, "neighbor_id")
    # query vectors: broadcast within the same bound, a plain join
    # above it (no raise — the pair set already bounds the re-rank)
    qv, _ = broadcast_if_small(
        cached(
            "refine_topk_queries",
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("_qv"),
                l2_norm(F.col(vec_col)).alias("_qn"),
            ),
        ),
        max_broadcast_candidates,
    )
    scored = cand_vecs.join(qv, "query_id").select(
        "query_id",
        "neighbor_id",
        _cosine_pre("_qv", "_cv", F.col("_qn"), F.col("_cn")).alias("_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )

"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``   — exact brute-force top-k: the correctness baseline.
  Query set × corpus join with JVM-side fold arithmetic (F.aggregate /
  F.zip_with — no Python in the hot path), rounded similarity + id
  tie-break for deterministic ranking.
- ``lsh_ann_topk``  — the scale path: random-hyperplane LSH buckets via a
  vectorized pandas UDF (numpy matmul per Arrow batch), candidates from
  bucket equi-joins (multi-probe over H tables), exact rerank on
  candidates only.

At 100 TB the corpus side is partitioned by bucket; each query probes
its buckets only — candidate volume is corpus/2^bits per table instead of
the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot_expr(a: str, b: str) -> F.Column:
    """Deterministic (left-to-right fold) double dot product."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _norm_expr(a: str) -> F.Column:
    return F.sqrt(F.expr(
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))


def with_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    return df.withColumn(out, _norm_expr(vec_col))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                round_digits: int = 4) -> DataFrame:
    """Exact top-k by cosine similarity.

    ``queries``: (query_id, query_vec); ``corpus``: (corpus_id, corpus_vec).
    Similarity is rounded before ranking and ties break on corpus_id, so
    the result is bit-deterministic and oracle-comparable.
    """
    q = with_norm(queries, "query_vec", "q_norm")
    c = with_norm(corpus, "corpus_vec", "c_norm")
    pairs = q.crossJoin(c)
    sim = _dot_expr("query_vec", "corpus_vec") / (F.col("q_norm")
                                                  * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("corpus_id"))
    return (pairs.withColumn("cosine_sim", F.round(sim, round_digits))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "corpus_id", "cosine_sim", "rank"))


def recommended_lsh_bits(n_rows: int, target_occupancy: int = 200,
                         min_bits: int = 5, max_bits: int = 24) -> int:
    """Bucket width that keeps hyperplane-LSH candidate volume LINEAR
    in the corpus.

    With ``b`` fixed, a bucket holds ~n/2^b vectors and the self-join
    emits Σ bucket² ≈ n²/2^b candidates per table — quadratic in n
    (the sf1 rehearsal measured exactly this: dd6 at n_bits=5 ran
    11.9x for 10x vectors, docs/SCALING.md).  Scaling
    ``b = ceil(log2(n / target_occupancy))`` pins expected occupancy
    at ``target_occupancy`` so candidates ≈ n × target per table —
    linear, the posture a 100 TB corpus needs (recall at a given
    threshold is then held by raising ``n_tables``, the standard
    AND/OR construction).  Oracle-checked specs keep a LITERAL n_bits
    (the DuckDB replay must share it); production callers pass
    ``recommended_lsh_bits(corpus_count)``.
    """
    import math
    if n_rows <= target_occupancy:
        return min_bits
    return max(min_bits,
               min(max_bits,
                   math.ceil(math.log2(n_rows / target_occupancy))))


def hyperplane_buckets_all_tables_udf(dim: int, n_bits: int, n_tables: int,
                                      seed0: int = 1000):
    """All ``n_tables`` bucket ids in ONE UDF pass: a single
    (dim, n_tables·n_bits) matmul per Arrow batch, reshaped to per-table
    sign patterns.  One Python crossing per DataFrame instead of one per
    (table, frame) pair — at 8 tables that is 16× fewer Arrow transfers
    of the vector column, which dominates the bucketing stage cost."""
    planes = np.concatenate(
        [np.random.default_rng(seed0 + t).standard_normal((dim, n_bits))
         for t in range(n_tables)], axis=1)       # (dim, T*B)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())           # (batch, dim)
        bits = (mat @ planes) > 0                  # (batch, T*B)
        per_table = bits.reshape(len(mat), -1, len(weights)) @ weights
        return pd.Series(list(per_table))          # (batch, T)

    return _buckets


def _refine_centroids(corpus: DataFrame, centroids: DataFrame,
                      n_iter: int) -> DataFrame:
    """Lloyd's k-means iterations, fully distributed: assign each corpus
    row to its nearest centroid, then recompute each centroid as the
    element-wise mean of its members via the narrow posexplode →
    groupBy(centroid, pos) avg shape (no driver-side vectors).  Empty
    clusters keep their previous centroid."""
    for _ in range(n_iter):
        cent_n = with_norm(centroids, "centroid_vec", "cent_norm")
        sim = _dot_expr("corpus_vec", "centroid_vec") / (F.col("c_norm")
                                                         * F.col("cent_norm"))
        w = Window.partitionBy("corpus_id").orderBy(
            F.desc("__sim"), F.asc("centroid_id"))
        assigned = (with_norm(corpus, "corpus_vec", "c_norm")
                    .crossJoin(F.broadcast(cent_n))
                    .withColumn("__sim", sim)
                    .withColumn("__r", F.row_number().over(w))
                    .filter(F.col("__r") == 1)
                    .select("centroid_id", "corpus_vec"))
        means = (assigned
                 .select("centroid_id",
                         F.posexplode("corpus_vec").alias("pos", "val"))
                 .groupBy("centroid_id", "pos")
                 # rounded: float partial-sum order varies across runs;
                 # 6 decimals collapses that noise so assignments (and
                 # the rows-only stability check) stay deterministic
                 .agg(F.round(F.avg("val"), 6).alias("m"))
                 .groupBy("centroid_id")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("__s"))
                 .select("centroid_id",
                         F.expr("transform(__s, x -> cast(x.m as float))")
                         .alias("new_vec")))
        centroids = (centroids.join(F.broadcast(means), "centroid_id",
                                    "left")
                     .select("centroid_id",
                             F.coalesce("new_vec", "centroid_vec")
                             .alias("centroid_vec")))
    return centroids


def _ivf_probe_topk(queries: DataFrame, corpus: DataFrame,
                    centroids: DataFrame, k: int, n_probe: int,
                    round_digits: int) -> DataFrame:
    """The IVF search both centroid choices share: each corpus row joins
    the list of its nearest centroid, each query probes its ``n_probe``
    nearest lists, and exact cosine ranks the pairs found there."""
    cent_n = with_norm(centroids, "centroid_vec", "cent_norm")

    def nearest(df: DataFrame, vec: str, norm: str, keep: int) -> DataFrame:
        sim = _dot_expr(vec, "centroid_vec") / (F.col(norm)
                                                * F.col("cent_norm"))
        w = Window.partitionBy(df.columns[0]).orderBy(
            F.desc("cent_sim"), F.asc("centroid_id"))
        return (df.crossJoin(F.broadcast(cent_n))
                  .withColumn("cent_sim", F.round(sim, round_digits))
                  .withColumn("__r", F.row_number().over(w))
                  .filter(F.col("__r") <= keep)
                  .drop("centroid_vec", "cent_norm", "cent_sim", "__r"))

    c = nearest(with_norm(corpus, "corpus_vec", "c_norm"),
                "corpus_vec", "c_norm", 1)           # inverted lists
    q = nearest(with_norm(queries, "query_vec", "q_norm"),
                "query_vec", "q_norm", n_probe)      # probe lists
    pairs = q.join(c, "centroid_id")
    sim = _dot_expr("query_vec", "corpus_vec") / (F.col("q_norm")
                                                  * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("corpus_id"))
    return (pairs.withColumn("cosine_sim", F.round(sim, round_digits))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "corpus_id", "cosine_sim", "rank"))


def ivf_ann_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4,
                 round_digits: int = 4, n_kmeans_iter: int = 2) -> DataFrame:
    """IVF-style approximate top-k: corpus rows are assigned to their
    nearest centroid (inverted lists); each query probes its ``n_probe``
    closest centroids and reranks exactly within those lists only.

    Centroids seed from a deterministic corpus sample (lowest ids) and
    are refined with ``n_kmeans_iter`` distributed Lloyd iterations; at
    scale the corpus side is WRITTEN partitioned by ``centroid_id``, so
    a probe reads n_probe/n_centroids of the data (partition pruning
    does the rest).
    """
    w_cent = Window.orderBy("corpus_id")
    centroids = (corpus.orderBy("corpus_id").limit(n_centroids)
                 .select(F.row_number().over(w_cent).alias("centroid_id"),
                         F.col("corpus_vec").alias("centroid_vec")))
    if n_kmeans_iter > 0:
        centroids = _refine_centroids(corpus, centroids,
                                      n_kmeans_iter).localCheckpoint()
    return _ivf_probe_topk(queries, corpus, centroids, k, n_probe,
                           round_digits).distinct()


def _portable_planes(corpus: DataFrame, n_bits: int, n_tables: int,
                     plane_base: int) -> DataFrame:
    """Data-derived hyperplanes for the portable LSH family: plane
    g = corpus_vec(base + 2g) − corpus_vec(base + 2g + 1),
    table = g div n_bits, bit = g mod n_bits (see
    :func:`lsh_ann_topk_portable`)."""
    n_planes = n_bits * n_tables
    ids = (plane_base, plane_base + 2 * n_planes)
    pa = corpus.filter(F.col("corpus_id").between(ids[0], ids[1] - 1)
                       & ((F.col("corpus_id") - plane_base) % 2 == 0)) \
        .select(((F.col("corpus_id") - plane_base) / 2).cast("int")
                .alias("g"), F.col("corpus_vec").alias("__av"))
    pb = corpus.filter(F.col("corpus_id").between(ids[0], ids[1] - 1)
                       & ((F.col("corpus_id") - plane_base) % 2 == 1)) \
        .select(((F.col("corpus_id") - plane_base - 1) / 2).cast("int")
                .alias("g"), F.col("corpus_vec").alias("__bv"))
    return (pa.join(pb, "g")
            .select("g", (F.col("g") / n_bits).cast("int").alias("table"),
                    (F.col("g") % n_bits).alias("bit"),
                    F.expr("zip_with(__av, __bv, (x, y) -> "
                           "CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
                    .alias("plane_vec")))


def _portable_buckets(df: DataFrame, id_col: str, vec: str,
                      planes: DataFrame) -> DataFrame:
    """One narrow |df| × n_planes expansion -> (id, table, bucket)."""
    dot = _dot_expr(vec, "plane_vec")
    return (df.crossJoin(F.broadcast(planes))
            .withColumn("__bv2",
                        F.when(dot > 0, F.expr("shiftleft(1, bit)"))
                        .otherwise(F.lit(0)))
            .groupBy(id_col, "table")
            .agg(F.sum("__bv2").alias("bucket")))


def _exact_rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
                  k: int, round_digits: int) -> DataFrame:
    """Exact cosine top-k over a candidate pair set (the rerank stage
    every ANN variant here shares): touches candidates only."""
    q = with_norm(queries, "query_vec", "q_norm")
    c = with_norm(corpus, "corpus_vec", "c_norm")
    pairs = cand.join(q, "query_id").join(c, "corpus_id")
    sim = _dot_expr("query_vec", "corpus_vec") / (F.col("q_norm")
                                                  * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("corpus_id"))
    return (pairs.withColumn("cosine_sim", F.round(sim, round_digits))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "corpus_id", "cosine_sim", "rank"))


def lsh_ann_topk_portable(queries: DataFrame, corpus: DataFrame,
                          k: int = 5, n_bits: int = 5, n_tables: int = 2,
                          plane_base: int = 10,
                          round_digits: int = 4) -> DataFrame:
    """Hyperplane-LSH approximate top-k with DATA-DERIVED hyperplanes, so
    an independent SQL engine can replay the exact same computation (the
    DuckDB correctness oracle): plane g = corpus_vec(base + 2g) −
    corpus_vec(base + 2g + 1), table = g div n_bits, bit = g mod n_bits.
    Differences of corpus vectors point in data-spread directions — the
    classic "use the data as its own projection pool" trick — and need no
    RNG state.

    Same shape and cost as :func:`lsh_ann_topk`: planes are
    configuration-sized (broadcast); bucketing is one narrow
    |corpus| × n_planes expansion with a map-side-combinable sum keyed on
    the vector id; candidates come from ONE (table, bucket) equi-join;
    exact rerank touches candidates only.
    """
    planes = _portable_planes(corpus, n_bits, n_tables, plane_base)
    qb = _portable_buckets(queries, "query_id", "query_vec", planes)
    cb = _portable_buckets(corpus, "corpus_id", "corpus_vec", planes)
    cand = (qb.join(cb, ["table", "bucket"])
            .select("query_id", "corpus_id").distinct())
    return _exact_rerank(cand, queries, corpus, k, round_digits)


def multiprobe_lsh_ann_topk(queries: DataFrame, corpus: DataFrame,
                            k: int = 5, n_bits: int = 5,
                            n_tables: int = 2, plane_base: int = 10,
                            round_digits: int = 4) -> DataFrame:
    """MULTI-PROBE hyperplane-LSH top-k (Lv et al., VLDB 2007, public):
    each query probes its own bucket PLUS every bucket at Hamming
    distance 1 in the same table (flip each of the n_bits sign bits) —
    a near neighbor that lands one hyperplane away is recovered
    without adding tables.

    Why it matters at 100 TB: LSH recall is bought with tables, and
    every table is a full (id, table, bucket) copy of the corpus index
    — memory/shuffle that scales with the corpus.  Multi-probe buys
    the same recall with QUERY-side fan-out instead: the probe set is
    (n_bits + 1) rows per (query, table) — query-sized, never
    corpus-sized — and the corpus index stays at the same n_tables.
    The candidate superset property is structural (the probe set
    contains the original bucket), so recall can only rise vs
    :func:`lsh_ann_topk_portable` at equal parameters; the planted
    recall-vs-tables trade is pinned in tests/test_llm_ops.py.

    Deterministic and SQL-replayable: same data-derived planes as the
    portable family; the probe expansion is pure integer XOR
    arithmetic, so the DuckDB oracle (NN5_ORACLE) replays bucketing,
    probing, and exact rerank bit-identically.
    """
    planes = _portable_planes(corpus, n_bits, n_tables, plane_base)
    qb = _portable_buckets(queries, "query_id", "query_vec", planes)
    cb = _portable_buckets(corpus, "corpus_id", "corpus_vec", planes)
    probe_set = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << b))
          for b in range(n_bits)])
    probes = (qb.select("query_id", "table",
                        F.explode(probe_set).alias("bucket")))
    cand = (probes.join(cb, ["table", "bucket"])
            .select("query_id", "corpus_id").distinct())
    return _exact_rerank(cand, queries, corpus, k, round_digits)


def lsh_cosine_pairs_portable(vectors: DataFrame, id_col: str,
                              vec_col: str, threshold: float = 0.4,
                              n_bits: int = 5, n_tables: int = 2,
                              plane_base: int = 10,
                              round_digits: int = 4,
                              b_ids: DataFrame | None = None,
                              cache_buckets: bool = True
                              ) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: hyperplane-LSH candidate
    generation (data-derived planes, same construction as
    :func:`lsh_ann_topk_portable`) + exact cosine verification at
    ``threshold`` — the embedding-space sibling of MinHash near-dup.
    Candidates come from one self-equi-join on (table, bucket); work is
    Σ bucket² per table, never the n² cross product.  Recall follows
    the standard LSH curve — production tunes n_bits/n_tables to the
    target threshold; the DuckDB oracle replays the identical bucketing
    so the driver hash-checks the full pipeline independent of recall.

    ``b_ids`` (single ``id`` column) restricts the RIGHT side of the
    bucket join — the asymmetric screening shape (a small slice vs the
    whole corpus, e.g. semantic decontamination): candidate volume is
    bounded by the slice's bucket collisions instead of every
    same-bucket pair corpus-wide, and pairs are emitted as
    (id_a = any, id_b ∈ b_ids) with ``id_a != id_b`` (no ``<``
    ordering, so a partner on either side of the id order is found).
    The symmetric default keeps the de-duplicating ``id_a < id_b``.
    """
    n_planes = n_bits * n_tables
    lo, hi = plane_base, plane_base + 2 * n_planes - 1
    pa = vectors.filter(F.col(id_col).between(lo, hi)
                        & ((F.col(id_col) - plane_base) % 2 == 0)) \
        .select(((F.col(id_col) - plane_base) / 2).cast("int").alias("g"),
                F.col(vec_col).alias("__av"))
    pb = vectors.filter(F.col(id_col).between(lo, hi)
                        & ((F.col(id_col) - plane_base) % 2 == 1)) \
        .select(((F.col(id_col) - plane_base - 1) / 2).cast("int")
                .alias("g"), F.col(vec_col).alias("__bv"))
    planes = (pa.join(pb, "g")
              .select((F.col("g") / n_bits).cast("int").alias("table"),
                      (F.col("g") % n_bits).alias("bit"),
                      F.expr("zip_with(__av, __bv, (x, y) -> "
                             "CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
                      .alias("plane_vec")))
    dot = _dot_expr(vec_col, "plane_vec")
    # cached (r18): both candidate sides read the bucket frame — the
    # plan otherwise recomputes the vectors × planes dot products once
    # PER SIDE.  Bounded at (n_rows × n_tables) numeric rows; callers
    # are one-shot query jobs (no streaming consumer).  The entry is
    # registered for facade-level release (operators.core.
    # release_plan_caches); a repeated/long-running caller passes
    # ``cache_buckets=False`` and recomputes instead (ADVICE r18 —
    # the cache_tokens convention).
    from axonops_schema_registry_spark.operators.core import plan_cache

    buckets = (vectors.crossJoin(F.broadcast(planes))
               .withColumn("__b",
                           F.when(dot > 0, F.expr("shiftleft(1, bit)"))
                           .otherwise(F.lit(0)))
               .groupBy(id_col, "table")
               .agg(F.sum("__b").alias("bucket")))
    if cache_buckets:
        buckets = plan_cache(buckets)
    a = buckets.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b_side = buckets if b_ids is None else buckets.join(
        F.broadcast(b_ids.select(F.col(b_ids.columns[0])
                                 .alias(id_col))), id_col)
    b = b_side.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pair_pred = (F.col("id_a") < F.col("id_b") if b_ids is None
                 else F.col("id_a") != F.col("id_b"))
    # The candidate-pair frame is byte-light (two BIGINTs/row) but
    # feeds the compute-bound exact-cosine verify, so AQE's byte-based
    # partition coalescing (minPartitionSize 1 MB) collapses the
    # verify to ONE task while the rest of the cluster idles — the
    # measured r18 dd6 profile: a 1.2 s single-task stage behind a
    # 1.26 MB shuffle.  An explicit repartition BY THE DEDUP KEYS at
    # the cluster's compute width is the same single exchange the old
    # ``.distinct()`` paid (hash partitioning on the keys satisfies
    # the dedup's clustering requirement at any partition count) but
    # is exempt from AQE coalescing, so verify parallelism follows
    # cores, not bytes.  defaultParallelism = total cluster cores —
    # scale-adaptive, not a local[n] constant.
    par = vectors.sparkSession.sparkContext.defaultParallelism
    cand = (a.join(b, ["table", "bucket"])
            .filter(pair_pred)
            .select("id_a", "id_b")
            .repartition(par, "id_a", "id_b")
            .dropDuplicates())
    v = with_norm(vectors, vec_col, "__n")
    va = v.select(F.col(id_col).alias("id_a"),
                  F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
    vb = v.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
    sim = _dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine_sim", F.round(sim, round_digits))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim"))


def ivf_ann_topk_portable(queries: DataFrame, corpus: DataFrame,
                          k: int = 5, centroid_stride: int = 31,
                          n_probe: int = 4, max_centroids: int = 256,
                          round_digits: int = 4) -> DataFrame:
    """IVF approximate top-k with DETERMINISTIC data-sample centroids
    (corpus rows where ``corpus_id % centroid_stride == 0``) and no Lloyd
    refinement, so the whole computation — assignment, probe lists, exact
    rerank — replays identically in the DuckDB oracle.  The sample is
    CAPPED at the ``max_centroids`` smallest sampled ids (rank-based;
    an absolute id bound would empty out on offset id spaces) — the
    same fix pq_encode needed: an uncapped data-sampled codebook grows
    with the corpus and makes the broadcast assignment O(N²/stride).
    At 100 TB the corpus is written partitioned by ``centroid_id`` and
    a probe prunes to n_probe partitions; list sizes then grow with
    the corpus, which production IVF counters by raising
    ``max_centroids`` (and assignment cost stays N × max_centroids).
    """
    cent_ids = _sampled_ids(corpus.select(F.col("corpus_id")
                                          .alias("__id")),
                            centroid_stride, max_centroids)
    centroids = (corpus.join(
                     F.broadcast(cent_ids),
                     corpus["corpus_id"] == cent_ids["__id"])
                 .select(F.col("corpus_id").alias("centroid_id"),
                         F.col("corpus_vec").alias("centroid_vec")))
    return _ivf_probe_topk(queries, corpus, centroids, k, n_probe,
                           round_digits)


def lsh_ann_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                 n_bits: int = 12, n_tables: int = 8, dim: int = 64,
                 round_digits: int = 4) -> DataFrame:
    """Approximate top-k: per-table bucket-join candidates, exact cosine
    rerank on the candidate set only.

    All tables' buckets come from one UDF pass (array column +
    posexplode), so candidate generation is ONE equi-join on
    (table, bucket) — not a union of per-table joins."""
    udf = hyperplane_buckets_all_tables_udf(dim, n_bits, n_tables)
    qb = (queries.select("query_id", udf("query_vec").alias("__bs"))
          .select("query_id", F.posexplode("__bs").alias("table", "bucket")))
    cb = (corpus.select("corpus_id", udf("corpus_vec").alias("__bs"))
          .select("corpus_id", F.posexplode("__bs").alias("table", "bucket")))
    cand = (qb.join(cb, ["table", "bucket"])
            .select("query_id", "corpus_id").distinct())
    return _exact_rerank(cand, queries, corpus, k, round_digits)


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization report — the compression
    step an embedding store applies before serving (scale = 127 /
    max|x|, q_i = floor(x_i * scale)).

    Returns (id, dim, scale, q_checksum, max_err): the checksum pins
    the exact quantized codes without emitting an array column, and
    max_err (the reconstruction bound) must stay below 1/scale.  Every
    step — float32→double widening, one multiply, floor, one divide —
    is IEEE-exact and order-independent, so an independent SQL engine
    reproduces the codes bit-for-bit (floor, not round: SQL ROUND
    semantics differ between engines, floor does not).

    Scale: pure per-row column arithmetic inside codegen — no shuffle,
    no UDF, runs at scan speed over 100 TB of vectors.
    """
    v = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    mx = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"(CASE WHEN {mx} = 0.0D THEN 1.0D ELSE 127.0D / {mx} END)"
    q = f"transform({v}, x -> CAST(floor(x * {scale}) AS BIGINT))"
    err = (f"array_max(transform({v}, x -> "
           f"abs(x - floor(x * {scale}) / {scale})))")
    return df.select(
        F.col(id_col),
        F.expr(f"size({vec_col})").cast("int").alias("dim"),
        F.expr(scale).alias("scale"),
        F.expr(f"aggregate({q}, CAST(0 AS BIGINT), (a, x) -> a + x)")
        .alias("q_checksum"),
        F.expr(err).alias("max_err"))


def label_cohesion(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Per-label centroid cohesion report — the analysis a
    classifier-bucketed corpus gets (quality/domain classifier labels
    over embeddings): each label's centroid direction and how tightly
    its members cluster around it (mean/min cosine to centroid).

    Float discipline: every cross-row reduction is an exact DECIMAL
    sum of values quantized at a fixed scale (the repo-wide ``psum``
    convention, queries/base.py) — order-independent by construction,
    so the result is bit-identical across engines, runs, and
    partitionings.  Component values are quantized at 1e-9 (embedding
    components are unit-scale), per-member cosines at 1e-4 before the
    mean — both quantizations are part of the operator's contract and
    mirrored exactly by the DuckDB oracle.

    Scale: no per-label member list is ever collected (the r6 shape
    folded EVERY member vector of a label into one aggregation row — a
    multi-TB row for a label covering 30% of a 100 TB corpus).  Instead
    the centroid is a posexplode → groupBy(label, dim) exact sum —
    map-side partial aggregation bounds every task's state at
    (labels × dim), and a label's members never co-locate; then one
    broadcast join of the tiny (labels × dim)-bounded centroid table
    back to members scores cosines row-locally, and the final per-label
    aggregate carries three scalars per member.
    """
    vecs = df.select(F.col(label_col).alias("label"),
                     F.expr(f"transform({vec_col}, "
                            "x -> CAST(x AS DOUBLE))").alias("__v"))
    # centroid-sum per (label, dim): exact decimal sum, order-free
    # round BEFORE the decimal cast: both engines round doubles
    # half-away-from-zero, but their double→DECIMAL casts disagree on
    # representational ties (e.g. 153/1024 = 0.1494140625 → Spark
    # …063, DuckDB …062) — rounding first makes the cast exact
    cent = (vecs.select("label", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("label", "__p")
            .agg(F.sum(F.round(F.col("__x"), 9).cast("decimal(25,9)"))
                 .cast("double").alias("__s")))
    # reassemble the per-label centroid array: bounded by dim per label
    cent = (cent.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("__p", "__s")))
                 .alias("__ps"))
            .select("label",
                    F.expr("transform(__ps, e -> e.__s)").alias("__c")))
    norm_c = ("sqrt(aggregate(transform(__c, x -> x * x), "
              "CAST(0 AS DOUBLE), (acc, x) -> acc + x))")
    cent = cent.select("label", "__c",
                       F.expr(norm_c).alias("__norm_c"))
    dot = ("aggregate(zip_with(__c, __v, (a, b) -> a * b), "
           "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    norm_v = ("sqrt(aggregate(transform(__v, x -> x * x), "
              "CAST(0 AS DOUBLE), (acc, x) -> acc + x))")
    # per-member cosine to the label centroid-sum direction (same
    # direction as the mean): row-local array fold, rounded for
    # portability like the ANN rerank
    scored = (vecs.join(F.broadcast(cent), "label")
              .select("label", "__norm_c",
                      F.expr(f"round(({dot}) / (__norm_c * {norm_v}), 4)")
                      .alias("__cos")))
    return (scored.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.first("__norm_c"), 4)
                 .alias("centroid_sum_norm"),
                 (F.sum(F.col("__cos").cast("decimal(25,6)"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("__mean_raw"),
                 F.min("__cos").alias("min_cos_to_centroid"))
            .select("label", "n_vecs", "centroid_sum_norm",
                    F.round("__mean_raw", 4)
                    .alias("mean_cos_to_centroid"),
                    "min_cos_to_centroid")
            .orderBy("label"))


#: per-pair squared-L2 fold over zipped subvectors — deterministic
#: left-to-right array order, identical in the DuckDB replay
_PQ_D2 = ("aggregate(zip_with(__sv, __cv, (x, c) -> "
          "(x - c) * (x - c)), CAST(0 AS DOUBLE), "
          "(acc, w) -> acc + w)")


def _pq_subvectors(df: DataFrame, id_col: str, vec_col: str,
                   m: int) -> DataFrame:
    """(id, vec) → long-format (``__id``, ``__m``, ``__sv``): the
    vector split into ``m`` equal contiguous subspaces.  A vector whose
    dimension is NOT divisible by ``m`` fails the job loudly — the
    silent alternative (integer-division slicing) would drop the
    trailing dimensions from every code and distance."""
    sub_structs = [
        F.struct(
            F.lit(j).alias("__m"),
            F.expr(f"CASE WHEN size({vec_col}) % {m} = 0 THEN "
                   f"transform(slice({vec_col}, "
                   f"{j} * (size({vec_col}) DIV {m}) + 1, "
                   f"size({vec_col}) DIV {m}), "
                   "x -> CAST(x AS DOUBLE)) ELSE "
                   f"raise_error(concat('PQ: vector dimension ', "
                   f"size({vec_col}), ' not divisible by m={m}')) "
                   "END").alias("__sv"))
        for j in range(m)]
    return (df.select(F.col(id_col).alias("__id"),
                      F.explode(F.array(*sub_structs)).alias("__s"))
            .select("__id", F.col("__s.__m").alias("__m"),
                    F.col("__s.__sv").alias("__sv")))


def _sampled_ids(df_ids: DataFrame, stride: int,
                 max_n: int) -> DataFrame:
    """Deterministic codebook/centroid id sample: every ``stride``-th
    id by congruence, capped to the ``max_n`` SMALLEST sampled ids by
    rank (orderBy + limit = TakeOrdered, scalable).  Rank-based
    capping — not an absolute id bound — so corpora whose ids start at
    an arbitrary offset (sharded id spaces; this repo's replication
    harnesses shift ids by 1e9) still yield a full codebook instead of
    a silently empty one.

    Fails LOUDLY when the congruence sample is empty (corpus with no
    id ≡ 0 mod stride — e.g. fewer than ``stride`` rows over a sparse
    id space): every consumer (pq_encode / pq_adc_topk / IVF) would
    otherwise silently emit an empty frame, the same silent-empty
    failure class rank-based capping was introduced to eliminate.  The
    guard is declarative — a broadcast 1-row count frame whose CASE
    raises at execution time — so the sample stays lazy and no extra
    driver action runs."""
    sampled = (df_ids.filter(F.col("__id") % stride == 0)
               .orderBy("__id").limit(max_n))
    # the raising CASE is the JOIN KEY so column pruning cannot remove
    # it (a plain crossJoin+drop gets the guard projection pruned away
    # and the empty case sails through silently)
    guard = (sampled.agg(F.count(F.lit(1)).alias("__k"))
             .select(F.when(F.col("__k") > 0, F.lit(1))
                     .otherwise(F.expr(
                         f"raise_error('empty codebook/centroid "
                         f"sample: no id divisible by stride={stride}; "
                         f"pass a smaller stride for this corpus')"))
                     .alias("__ok")))
    return (sampled.withColumn("__ok", F.lit(1))
            .join(F.broadcast(guard), "__ok").drop("__ok"))


def _pq_assign(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid assignment per (vector, subspace) against a
    broadcast codebook: (__id, __m, __code, __mind).  Argmin with
    deterministic ties — every candidate at the exact minimum distance
    competes and the smallest centroid id wins (both engines compute
    the identical doubles, so the tie set matches)."""
    scored = (subs.join(F.broadcast(codebook), "__m")
              .withColumn("__d2", F.expr(_PQ_D2)))
    mind = (scored.groupBy("__id", "__m")
            .agg(F.min("__d2").alias("__mind")))
    return (scored.join(mind, ["__id", "__m"])
            .filter(F.col("__d2") == F.col("__mind"))
            .groupBy("__id", "__m")
            .agg(F.min("__cid").alias("__code"),
                 F.min("__mind").alias("__mind")))


def pq_encode(df: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", m: int = 4,
              centroid_stride: int = 31, max_centroids: int = 256,
              round_digits: int = 4) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011, public) with
    DETERMINISTIC data-sample codebooks — the memory-bounded ANN
    representation: each vector becomes ``m`` small centroid codes
    (here 4 codes for a 64-dim vector: a 16x compression at k<=256),
    which is what a 100 TB corpus stores/scans instead of raw floats.

    Codebooks follow the ivf_ann_topk_portable convention: subspace
    ``j``'s centroids are the j-th subvectors of the rows where
    ``id % centroid_stride == 0`` — CAPPED at the ``max_centroids``
    smallest sampled ids (rank-based, orderBy+limit), the way real PQ
    fixes k (typically 256, one byte per code): an uncapped
    data-sampled codebook grows with the corpus and turns the encode
    into O(N²/stride) work — measured as a >1.0 scaling ratio before
    the cap landed (docs/SCALING.md r7 appendix) — while an absolute
    id bound would silently produce an EMPTY codebook on offset id
    spaces.  Deterministic and SQL-replayable either way.

    Output: (id, code_0..code_{m-1}, recon_err) — codes are centroid
    ids; recon_err is the L2 reconstruction distance, subspace
    distances folded in array order and summed exactly (DECIMAL) so
    the result is partitioning- and engine-independent.

    Scale: the codebook broadcasts (centroids x dim); encode is one
    broadcast nested-loop per subspace with a groupBy argmin — rows =
    N x m x K with map-side combine, no shuffle of the vectors
    themselves.
    """
    subs = _pq_subvectors(df, id_col, vec_col, m)
    cb_ids = _sampled_ids(df.select(F.col(id_col).alias("__id")),
                          centroid_stride, max_centroids)
    codebook = (subs.join(F.broadcast(cb_ids), "__id")
                .select("__m", F.col("__id").alias("__cid"),
                        F.col("__sv").alias("__cv")))
    codes = _pq_assign(subs, codebook)
    return (codes.groupBy(F.col("__id").alias(id_col))
            .agg(*[F.max(F.when(F.col("__m") == j, F.col("__code")))
                   .cast("bigint").alias(f"code_{j}")
                   for j in range(m)],
                 F.round(
                     F.sqrt(F.sum(F.round(F.col("__mind"), 9)
                                  .cast("decimal(25,9)"))
                            .cast("double")), round_digits)
                 .alias("recon_err")))


def pq_adc_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                m: int = 4, centroid_stride: int = 31,
                max_centroids: int = 256,
                round_digits: int = 4) -> DataFrame:
    """PQ approximate top-k via Asymmetric Distance Computation (Jégou
    et al. 2011): the corpus is stored as PQ CODES (pq_encode's
    representation, never raw floats), each query precomputes one tiny
    (subspace × centroid) distance table, and a corpus row's distance
    is the sum of m table lookups — the canonical memory-bounded ANN
    search a 100 TB deployment runs over the quantized table.

    ``queries``: (query_id, query_vec); ``corpus``: (corpus_id,
    corpus_vec).  Output: (query_id, corpus_id, adc_dist, rank) — rank
    ascending by rounded ADC distance, ties on corpus_id.

    Scale: codes = corpus × m rows; the query distance tables
    (queries × m × centroids) broadcast, so the scoring join touches
    each code row once per query with no shuffle of vectors; per-pair
    distances sum through DECIMAL (m exact terms) and the final top-k
    is one per-query window over rounded, tie-broken scores.
    """
    c_subs = _pq_subvectors(corpus, "corpus_id", "corpus_vec", m)
    cb_ids = _sampled_ids(corpus.select(F.col("corpus_id")
                                        .alias("__id")),
                          centroid_stride, max_centroids)
    codebook = (c_subs.join(F.broadcast(cb_ids), "__id")
                .select("__m", F.col("__id").alias("__cid"),
                        F.col("__sv").alias("__cv")))
    codes = _pq_assign(c_subs, codebook) \
        .select(F.col("__id").alias("corpus_id"), "__m", "__code")
    q_tab = (_pq_subvectors(queries, "query_id", "query_vec", m)
             .join(F.broadcast(codebook), "__m")
             .select(F.col("__id").alias("query_id"), "__m", "__cid",
                     F.expr(_PQ_D2).alias("__qd2")))
    adc = (codes.join(F.broadcast(q_tab),
                      (codes["__m"] == q_tab["__m"])
                      & (codes["__code"] == q_tab["__cid"]))
           .groupBy("query_id", "corpus_id")
           .agg(F.round(F.sqrt(F.sum(F.round(F.col("__qd2"), 9)
                                     .cast("decimal(25,9)"))
                               .cast("double")), round_digits)
                .alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("corpus_id"))
    return (adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "adc_dist", "rank"))


def cluster_assignments(vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        centroid_stride: int = 61,
                        max_centroids: int = 8,
                        round_digits: int = 4) -> DataFrame:
    """Deterministic nearest-centroid cluster assignment — the
    ivf_ann_topk_portable assignment half exposed as a first-class
    operator, because domain DISCOVERY is its own pipeline stage:
    mixture balancing (DoReMi, Xie et al. 2023; D4, Tirumala et al.
    2023) groups a corpus by embedding cluster when no source/domain
    labels exist, then reweights per discovered cluster.

    Centroids are the data rows at ``id % centroid_stride == 0``,
    rank-capped to the ``max_centroids`` smallest sampled ids (the
    :func:`_sampled_ids` contract — offset id spaces keep a full
    codebook, empty congruence samples raise); every vector joins its
    nearest centroid by ``round(cosine, round_digits)`` with
    centroid-id tie-break, so the whole computation replays exactly
    in a DuckDB oracle (the nn3 convention).

    Returns (id, centroid_id).  Scale shape: centroids collapse to ONE
    broadcast row carrying the whole array (bounded by
    ``max_centroids``); the arg-min is a row-local ``array_max`` over a
    per-row scored struct array — genuinely no shuffle on the corpus
    until a consumer aggregates by cluster.  (The first cut ranked a
    crossJoin with ``row_number() over partitionBy(id)``, which forces
    a corpus-sized exchange+sort by id before the filter — the ADVICE
    r14 finding this row-local form replaces.)  Tie policy is struct
    ordering on (sim, -centroid_id): highest rounded similarity wins,
    then the SMALLEST centroid id — byte-identical to the window form
    and to the DuckDB oracle's arg-min."""
    ids = _sampled_ids(vectors.select(F.col(id_col).alias("__id")),
                       centroid_stride, max_centroids)
    cents = (vectors.join(F.broadcast(ids),
                          vectors[id_col] == ids["__id"])
             .select(F.col(id_col).alias("centroid_id"),
                     F.col(vec_col).alias("centroid_vec")))
    cent_arr = (with_norm(cents, "centroid_vec", "cent_norm")
                .agg(F.collect_list(F.struct("centroid_id",
                                             "centroid_vec",
                                             "cent_norm"))
                     .alias("__cents")))
    v = with_norm(vectors.select(F.col(id_col).alias("id"),
                                 F.col(vec_col).alias("__v")),
                  "__v", "__v_norm")
    # per-centroid (rounded sim, -centroid_id) structs; array_max's
    # lexicographic struct order IS the (sim desc, centroid_id asc)
    # arg-min — evaluated entirely inside the row
    scored = F.expr(
        "transform(__cents, c -> struct("
        "round(aggregate(zip_with(__v, c.centroid_vec, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v) / (__v_norm * c.cent_norm), "
        f"{int(round_digits)}) AS s, "
        "-c.centroid_id AS nc))")
    return (v.crossJoin(F.broadcast(cent_arr))
             .withColumn("__best", F.array_max(scored))
             .select("id",
                     (-F.col("__best.nc")).alias("centroid_id")))

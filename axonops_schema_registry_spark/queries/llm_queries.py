"""LLM-data-pipeline query specs: dedup, similarity search, text analysis,
multimodal plumbing — the north-star operators (BASELINE.json), each
oracle-checked where deterministically SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table
from axonops_schema_registry_spark.llm.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from axonops_schema_registry_spark.llm.multimodal import (
    attach_payload,
    decode_features,
)
from axonops_schema_registry_spark.llm.similarity import (
    cosine_topk,
    ivf_ann_topk_portable,
    lsh_ann_topk_portable,
    multiprobe_lsh_ann_topk,
)
from axonops_schema_registry_spark.llm.text import (
    predict_lang,
    predict_lang_sql,
    rolling_fingerprint,
    rolling_fingerprint_sql,
    token_count_bpe_ish,
    token_count_ws,
)
from axonops_schema_registry_spark.queries.base import QuerySpec


def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint, first-writer-wins (hash-groupBy;
    the 100 TB shape of J7/W3)."""
    ev = load_table(spark, sf_dir, "events")
    return exact_dedup(ev, "event_id", "props")


DD1_ORACLE = """
SELECT sha256(props) AS fingerprint, MIN(event_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM events GROUP BY 1
"""

# Exact all-pairs oracle shared by the MinHash query: LSH + exact verify
# must return the SAME pairs as the exact operator (banding recall ~1 at
# the 0.8 threshold with 16 bands x 4 rows).
_JACCARD_ALLPAIRS_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, n_inter, sa.set_size AS size_a, sb.set_size AS size_b,
       CAST(n_inter AS DOUBLE)
         / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8
"""


def dd2_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection (shingle → minhash → band →
    bucket-join → exact verify) — the scale path for J4/E3."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8, ngram=3)


def dd3_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with chunk-blocked hamming join, in the
    PORTABLE variant: the token hash is a 48-bit md5 prefix both engines
    compute identically, so the full SimHash pipeline — signature, 4-chunk
    pigeonhole blocking, hamming verify — is hash-checked against a DuckDB
    replay.  Pigeonhole makes blocking exact for hamming <= 3, so the
    oracle can simply compute all-pairs hamming over the (tiny) signature
    table; the Spark side never materializes n² pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3, ngram=3,
                         portable=True)


DD3_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
h AS (
  SELECT id, CAST(concat('0x', substr(md5(token), 1, 12)) AS BIGINT) AS th
  FROM toks),
bits AS (
  SELECT id, bb.bit,
         SUM(CASE WHEN (th >> bb.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS bit) bb
  GROUP BY id, bb.bit),
sims AS (
  SELECT id, CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                           ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY id)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dd4_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: MinHash candidate pairs → connected components
    (iterative min-label propagation) → cluster id/size per member.
    cluster_id doubles as the keep-first representative."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8, ngram=3)
    return connected_components(pairs)


DD4_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach AS (
  WITH RECURSIVE r(root, node) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.node)
  SELECT root, node FROM r),
labels AS (SELECT root AS doc_id, MIN(node) AS cluster_id
           FROM reach GROUP BY root)
SELECT l.doc_id, l.cluster_id,
       (SELECT COUNT(*) FROM labels l2
        WHERE l2.cluster_id = l.cluster_id) AS cluster_size
FROM labels l
"""


def dd8_quality_representatives(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters — the
    keep-BEST-copy policy real curation pipelines apply (CCNet /
    RefinedWeb-style keep heuristics) instead of dd4's keep-first:
    clusters come from the same MinHash-pair connected components, and
    each cluster's representative is its most informative member
    (most distinct tokens, then longest, then smallest id — all exact
    integers, so both engines rank identically).  One row per cluster
    with the elected rep and whether it differs from the keep-first
    choice.

    Scale shape: the feature projection is row-local; the
    members↔features join is doc-keyed; the election is one window
    per cluster, bounded by cluster size (near-dup clusters are
    small; a boilerplate mega-cluster is exactly what the upstream
    exact-collapse and max_bucket guards bound).

    Oracle contract (same inherited assumption as dd2/dd4, ADVICE
    r11): DD8_ORACLE computes EXACT all-pairs Jaccard while the Spark
    side verifies only LSH-banding candidates — equality holds
    because banding recall is perfect on the fixture corpus (64
    hashes / 16 bands; a true >=0.8 pair collides in some band with
    overwhelming probability).  A fixture change that plants a >=0.8
    pair whose bands never collide would hash-mismatch here (and in
    dd2/dd4) — diagnose against this note, not the election logic.
    ENFORCED (r13): tests/test_llm_ops.py::
    test_banding_recall_guard_on_oracle_fixtures asserts perfect
    recall by name on both oracle corpora, so that fixture edit now
    fails with its own message before any spec hash-mismatches."""
    from pyspark.sql import Window

    from axonops_schema_registry_spark.llm.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8,
                              ngram=3)
    clusters = connected_components(pairs)
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("bigint")
        .alias("n_distinct"),
        F.size(toks).cast("bigint").alias("n_words"))
    m = clusters.join(feats, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_distinct"), F.desc("n_words"), F.asc("doc_id"))
    return (m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("cluster_id", "cluster_size",
                    F.col("doc_id").alias("rep_id"),
                    F.col("n_distinct").alias("rep_distinct_tokens"),
                    F.col("n_words").alias("rep_n_words"),
                    (F.col("doc_id") != F.col("cluster_id"))
                    .alias("differs_from_first"))
            .orderBy("cluster_id"))


# CTEs referenced more than once are AS MATERIALIZED (the bpe2
# lesson: DuckDB re-inlines the whole upstream chain per reference),
# and cluster_size is a window, not a correlated per-row subquery —
# together these cut the sf1 oracle run (98 s in the r12 appendix;
# VERDICT r12 ask #8) without changing a value.
DD8_ORACLE = """
WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS MATERIALIZED (
  SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach AS (
  WITH RECURSIVE r(root, node) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.node)
  SELECT root, node FROM r),
labels AS MATERIALIZED (
  SELECT root AS doc_id, MIN(node) AS cluster_id
  FROM reach GROUP BY root),
members AS (
  SELECT l.doc_id, l.cluster_id,
         COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
           AS n_distinct,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
SELECT cluster_id, cluster_size, doc_id AS rep_id,
       n_distinct AS rep_distinct_tokens, n_words AS rep_n_words,
       doc_id <> cluster_id AS differs_from_first
FROM members
QUALIFY row_number() OVER (
    PARTITION BY cluster_id
    ORDER BY n_distinct DESC, n_words DESC, doc_id ASC) = 1
ORDER BY cluster_id
"""


def dd6_embedding_cosine_dedup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates + exact
    cosine verify over the embeddings table (the dense-vector sibling of
    dd2's MinHash pipeline).  Candidate generation is the portable
    data-derived-hyperplane bucketing, so the DuckDB oracle replays the
    identical computation and the driver hash-checks the full pipeline;
    recall-vs-threshold is the standard LSH trade documented on the
    operator."""
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_cosine_pairs_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_pairs_portable(emb, "vec_id", "embedding",
                                     threshold=0.4)


def dd6b_embedding_cosine_dedup_scaled(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """dd6's 100 TB form (VERDICT r10 ask #2): the same LSH-bucketed
    cosine near-dup pairs with the bucket width derived from the
    corpus size via ``recommended_lsh_bits`` (occupancy-targeted
    b = ceil(log2(n/200))) instead of dd6's literal n_bits=5 —
    candidate volume stays ~n x 200 per table (linear) instead of
    n²/2^5 (the quadratic the sf1 rehearsal measured at 11.3x wall
    for 10x vectors; the helper restored 3.4x, docs/SCALING.md).

    No DuckDB oracle: the oracle-checked dd6 spec must keep its
    literal bits so the SQL replay shares the bucketing; this spec
    exists so the helper-driven shape gets bench tracking.
    Correctness is pinned in pytest (test_bench_variants.py): exact
    cosine verification means precision is 1.0 by construction
    (asserted against brute force), and at corpora below the
    occupancy target the helper floors to 5 bits, making dd6b's pair
    set IDENTICAL to dd6's (asserted).  The one extra job vs dd6 is
    the corpus count that feeds the helper — the production pattern
    (you size the index from the corpus you're indexing)."""
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_cosine_pairs_portable,
        recommended_lsh_bits,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bits = recommended_lsh_bits(emb.count())
    return lsh_cosine_pairs_portable(emb, "vec_id", "embedding",
                                     threshold=0.4, n_bits=bits)


#: Shared DuckDB replay of ``lsh_cosine_pairs_portable`` — composed
#: into DD6_ORACLE, SEM1_ORACLE and (via the asymmetric variant)
#: CTM3_ORACLE so they can never drift apart.
_LSH_REPLAY_CTES = """v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
           FROM embeddings),
planes AS (
  SELECT CAST(((a.vec_id - 10) // 2) // 5 AS INT) AS tbl,
         CAST(((a.vec_id - 10) // 2) % 5 AS INT) AS bit,
         list_transform(list_zip(a.ev, b.ev), x -> x[1] - x[2]) AS pv
  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id BETWEEN 10 AND 29 AND (a.vec_id - 10) % 2 = 0),
buckets AS (
  SELECT vec_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(ev, pv), x -> x[1] * x[2])),
               (acc, w) -> acc + w) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM v CROSS JOIN planes GROUP BY vec_id, tbl),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
verified AS (
  SELECT id_a, id_b,
         ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(va.ev, vb.ev), x -> x[1] * x[2])),
             (acc, w) -> acc + w)
           / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(va.ev, x -> x * x)), (acc, w) -> acc + w))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(vb.ev, x -> x * x)),
                (acc, w) -> acc + w))), 4) AS cosine_sim
  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)"""


def _lsh_replay_ctes_asym(b_pred: str) -> str:
    """The shared LSH replay with the RIGHT side of the bucket join
    restricted by ``b_pred`` (DuckDB twin of the operator's ``b_ids``
    path): cand pairs are (any, b-side) with ``id_a <> id_b`` instead
    of the symmetric de-duplicating ``<``.  Mirrors _LSH_REPLAY_CTES —
    every other CTE is reused verbatim via string surgery so the two
    replays cannot drift.  If the snippet's formatting ever drifts the
    replace would silently no-op and the oracle would revert to the
    symmetric form — caught only much later by a driver hash mismatch
    with no pointer to the cause — so a failed substitution asserts at
    build time instead."""
    out = _LSH_REPLAY_CTES.replace(
        """cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),""",
        f"""cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket
   AND a.vec_id <> b.vec_id AND ({b_pred.replace('{id}', 'b.vec_id')})),""")
    assert out != _LSH_REPLAY_CTES, (
        "_lsh_replay_ctes_asym: cand-CTE snippet not found in "
        "_LSH_REPLAY_CTES — the shared replay's formatting drifted; "
        "update the replace target")
    return out

DD6_ORACLE = f"""
WITH {_LSH_REPLAY_CTES}
SELECT id_a, id_b, cosine_sim FROM verified WHERE cosine_sim >= 0.4
"""


def sem1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster the embedding space's near-duplicate pairs (dd6's
    portable LSH-bucketed cosine pipeline at threshold 0.4) into
    connected components (dd4's operator) and keep each cluster's
    minimum id — per-vector verdicts with cluster membership.  Both
    constituents are independently driver-verified; this pins the
    composition over the DENSE modality the way rel1 pins the text
    curation chain."""
    from axonops_schema_registry_spark.llm.dedup import (
        connected_components,
    )
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_cosine_pairs_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_cosine_pairs_portable(emb, "vec_id", "embedding",
                                      threshold=0.4)
    comp = connected_components(pairs.select("id_a", "id_b")) \
        .withColumnRenamed("doc_id", "vec_id")
    return (emb.select("vec_id")
            .join(comp, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("cluster_id", F.col("vec_id"))
                    .alias("cluster_id"),
                    F.coalesce("cluster_size", F.lit(1)).cast("bigint")
                    .alias("cluster_size"),
                    (F.coalesce("cluster_id", F.col("vec_id"))
                     != F.col("vec_id")).alias("is_semantic_dup"))
            .orderBy("vec_id"))


SEM1_ORACLE = f"""
WITH {_LSH_REPLAY_CTES},
dup_pairs AS (
  SELECT id_a, id_b FROM verified WHERE cosine_sim >= 0.4),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach AS (
  WITH RECURSIVE r(root, node) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.node)
  SELECT root, node FROM r),
labels AS (SELECT root AS vec_id, MIN(node) AS cluster_id
           FROM reach GROUP BY root),
sz AS (SELECT cluster_id, COUNT(*) AS n FROM labels
       GROUP BY cluster_id)
SELECT e.vec_id,
       COALESCE(l.cluster_id, e.vec_id) AS cluster_id,
       CAST(COALESCE(sz.n, 1) AS BIGINT) AS cluster_size,
       (COALESCE(l.cluster_id, e.vec_id) <> e.vec_id)
         AS is_semantic_dup
FROM embeddings e
LEFT JOIN labels l ON l.vec_id = e.vec_id
LEFT JOIN sz ON sz.cluster_id = COALESCE(l.cluster_id, e.vec_id)
ORDER BY e.vec_id
"""


def sem2_cluster_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced mixture quotas — domain discovery feeding
    mixture reweighting (DoReMi, Xie et al. 2023 / D4, Tirumala et
    al. 2023: when no source labels exist, group by embedding cluster
    and rebalance per discovered domain): every document joins its
    embedding's nearest deterministic centroid
    (llm/similarity.py:cluster_assignments — the nn3 portable
    convention, so assignment replays exactly in the oracle), ONE
    corpus pass aggregates per-cluster doc counts and token mass, and
    the shared temperature-quota math
    (llm/sampling.py:temperature_quotas, mass_col path — same
    integer-exact α=0.5 arithmetic as mix3/mix4) allocates a
    300-document budget across the discovered clusters.  Cluster keys
    are zero-padded centroid ids so string ordering is numeric
    ordering.

    Scale shape: centroids broadcast (≤ 8), assignment is row-local
    off the embeddings scan; the docs⋈assignment join feeds ONE
    aggregate (the mass_col hook exists precisely so the quota math
    does not re-scan); everything after the agg is clusters-sized."""
    from axonops_schema_registry_spark.llm.sampling import (
        cluster_mixture_quotas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return (cluster_mixture_quotas(docs, emb, budget=300,
                                   centroid_stride=61,
                                   max_centroids=8)
            .orderBy("cluster"))


_SEM2_DOT = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
             "list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), "
             "(acc, v) -> acc + v)")
_SEM2_NORM = ("sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
              "list_transform({a}, x -> x * x)), (acc, v) -> acc + v))")
SEM2_ORACLE = f"""
WITH v AS (SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
centids AS (SELECT id FROM v WHERE id % 61 = 0 ORDER BY id LIMIT 8),
cent AS (SELECT id AS centroid_id, vv AS centv
         FROM v WHERE id IN (SELECT id FROM centids)),
assign AS (
  SELECT id, centroid_id FROM (
    SELECT v.id, cent.centroid_id,
           row_number() OVER (PARTITION BY v.id ORDER BY
             ROUND({_SEM2_DOT.format(a="vv", b="centv")}
               / ({_SEM2_NORM.format(a="vv")}
                  * {_SEM2_NORM.format(a="centv")}), 4) DESC,
             cent.centroid_id) AS r
    FROM v CROSS JOIN cent) WHERE r = 1),
sizes AS (
  SELECT lpad(CAST(a.centroid_id AS STRING), 8, '0') AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
           AS token_mass
  FROM documents d JOIN assign a ON d.doc_id = a.id
  GROUP BY 1),
wts AS (SELECT cluster, n_docs, token_mass,
               CAST(FLOOR(SQRT(token_mass)) AS BIGINT) AS weight
        FROM sizes),
tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM wts)
SELECT cluster, n_docs, token_mass, weight,
       CAST((300 * weight) // total AS INT) AS quota
FROM wts, tw ORDER BY cluster
"""


def ctm3_semantic_contamination(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic
    escalation of ctm1's exact n-gram overlap (the public practice of
    dropping training items whose EMBEDDING is near an evaluation
    item's, catching paraphrases exact spans miss): a deterministic
    eval slice (vec_id % 11 = 3) is screened against the corpus with
    the same portable hyperplane-LSH candidate generation dd6/sem1
    use, keeping only cross-side pairs at cosine ≥ 0.35.  Per corpus
    vector: eval-match count, max cosine, contaminated flag.  At
    100 TB the eval side is millions of vectors and the corpus is the
    scan — candidates come from the (table, bucket) equi-join, never
    an eval × corpus product."""
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_cosine_pairs_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # asymmetric candidate generation: the bucket join's RIGHT side is
    # restricted to the eval slice (b_ids), so candidate volume — and
    # the exact-cosine verify — is bounded by the slice's collisions
    # instead of every same-bucket pair corpus-wide (the symmetric
    # form verified corpus×corpus pairs only to throw them away)
    eval_ids = emb.filter(F.col("vec_id") % 11 == 3).select("vec_id")
    pairs = lsh_cosine_pairs_portable(emb, "vec_id", "embedding",
                                      threshold=0.35, b_ids=eval_ids)
    # id_b is always the eval side; drop eval-eval pairs
    flagged = (pairs.filter(F.col("id_a") % 11 != 3)
               .select(F.col("id_a").alias("vec_id"), "cosine_sim"))
    agg = (flagged.groupBy("vec_id")
           .agg(F.count(F.lit(1)).alias("n_eval_matches"),
                F.max("cosine_sim").alias("max_eval_cos")))
    return (emb.filter(F.col("vec_id") % 11 != 3).select("vec_id")
            .join(agg, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("n_eval_matches", F.lit(0))
                    .cast("bigint").alias("n_eval_matches"),
                    "max_eval_cos",
                    F.col("max_eval_cos").isNotNull()
                    .alias("contaminated"))
            .orderBy("vec_id"))


CTM3_ORACLE = f"""
WITH {_lsh_replay_ctes_asym('{id} % 11 = 3')},
cross_pairs AS (
  SELECT id_a AS vec_id, cosine_sim
  FROM verified
  WHERE cosine_sim >= 0.35 AND id_a % 11 <> 3),
agg AS (
  SELECT vec_id, COUNT(*) AS n_eval_matches,
         MAX(cosine_sim) AS max_eval_cos
  FROM cross_pairs GROUP BY vec_id)
SELECT e.vec_id,
       CAST(COALESCE(a.n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
       a.max_eval_cos,
       (a.vec_id IS NOT NULL) AS contaminated
FROM embeddings e LEFT JOIN agg a USING (vec_id)
WHERE e.vec_id % 11 <> 3
ORDER BY e.vec_id
"""


def lab1_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-bucket cohesion report (llm/similarity.py:
    label_cohesion) over the embeddings table's label column: per-label
    centroid-direction norm plus mean/min member cosine to the
    centroid.  Cross-row sums are exact DECIMAL over fixed-scale
    quantized values (the psum convention), so DuckDB replays them
    bit-exactly with no per-label member list on either side."""
    from axonops_schema_registry_spark.llm.similarity import (
        label_cohesion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return label_cohesion(emb)


LAB1_ORACLE = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
expl AS (
  SELECT label, ev, unnest(generate_series(1, len(ev))) AS p FROM v),
dimsum AS (
  SELECT label, p,
         CAST(SUM(CAST(round(ev[p], 9) AS DECIMAL(25,9))) AS DOUBLE)
           AS s
  FROM expl GROUP BY label, p),
cent AS (
  SELECT label, list(s ORDER BY p) AS c FROM dimsum GROUP BY label),
centn AS (
  SELECT label, c,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(c, x -> x * x)),
              (acc, x) -> acc + x)) AS norm_c
  FROM cent),
scored AS (
  SELECT v.label, centn.norm_c,
         round(
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(centn.c, v.ev),
                            pr -> pr[1] * pr[2])),
             (acc, x) -> acc + x)
           / (centn.norm_c
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(v.ev, x -> x * x)),
                  (acc, x) -> acc + x))), 4) AS cos
  FROM v JOIN centn USING (label))
SELECT label, COUNT(*) AS n_vecs,
       round(ANY_VALUE(norm_c), 4) AS centroid_sum_norm,
       round(CAST(SUM(CAST(cos AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_cos_to_centroid,
       MIN(cos) AS min_cos_to_centroid
FROM scored GROUP BY label ORDER BY label
"""


def _emb_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    return queries, corpus


def nn1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 (the ANN correctness baseline)."""
    queries, corpus = _emb_split(spark, sf_dir)
    return cosine_topk(queries, corpus, k=5)


NN1_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10),
pairs AS (
  SELECT query_id, corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(qv, cv), x -> x[1] * x[2])),
             (a, b) -> a + b) AS dot,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qn,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cn
  FROM q CROSS JOIN c)
SELECT query_id, corpus_id, cosine_sim, rank
FROM (
  SELECT query_id, corpus_id, ROUND(dot / (qn * cn), 4) AS cosine_sim,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(dot / (qn * cn), 4) DESC, corpus_id) AS INT)
           AS rank
  FROM pairs)
WHERE rank <= 5
"""


def nn2_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 with exact rerank, portable
    variant: hyperplanes are DIFFERENCES OF FIXED CORPUS VECTORS instead
    of seeded RNG draws, so the DuckDB oracle replays the identical
    bucketing + rerank and the driver hash-checks the full ANN path.
    (The RNG-seeded ``lsh_ann_topk`` remains the BLAS-batched production
    variant; recall is pinned by tests/test_llm_ops.py.)"""
    queries, corpus = _emb_split(spark, sf_dir)
    return lsh_ann_topk_portable(queries, corpus, k=5)


NN2_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10),
planes AS (
  SELECT CAST(((a.corpus_id - 10) // 2) // 5 AS INT) AS tbl,
         CAST(((a.corpus_id - 10) // 2) % 5 AS INT) AS bit,
         list_transform(list_zip(a.cv, b.cv), x -> x[1] - x[2]) AS pv
  FROM c a JOIN c b ON b.corpus_id = a.corpus_id + 1
  WHERE a.corpus_id BETWEEN 10 AND 29 AND (a.corpus_id - 10) % 2 = 0),
cb AS (
  SELECT corpus_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(cv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM c CROSS JOIN planes GROUP BY corpus_id, tbl),
qb AS (
  SELECT query_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(qv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM q CROSS JOIN planes GROUP BY query_id, tbl),
cand AS (
  SELECT DISTINCT qb.query_id, cb.corpus_id
  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket),
pairs AS (
  SELECT query_id, corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(qv, cv), x -> x[1] * x[2])),
             (acc, v) -> acc + v) AS dot,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (acc, v) -> acc + v)) AS qn,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(cv, x -> x * x)), (acc, v) -> acc + v)) AS cn
  FROM cand JOIN q USING (query_id) JOIN c USING (corpus_id))
SELECT query_id, corpus_id, cosine_sim, rank
FROM (
  SELECT query_id, corpus_id, ROUND(dot / (qn * cn), 4) AS cosine_sim,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(dot / (qn * cn), 4) DESC, corpus_id) AS INT)
           AS rank
  FROM pairs)
WHERE rank <= 5
"""


def nn3_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5, portable variant: centroids are a
    DETERMINISTIC corpus sample (corpus_id % 31 == 0, no Lloyd
    refinement), so assignment, probe lists and exact rerank replay
    identically in the DuckDB oracle.  (The Lloyd-refined
    ``ivf_ann_topk`` remains the production variant; planted-recall is
    pinned by tests/test_llm_ops.py.)"""
    queries, corpus = _emb_split(spark, sf_dir)
    return ivf_ann_topk_portable(queries, corpus, k=5)


NN3_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10),
centids AS (SELECT corpus_id FROM c WHERE corpus_id % 31 = 0
            ORDER BY corpus_id LIMIT 256),
cent AS (SELECT corpus_id AS centroid_id, cv AS centv
         FROM c WHERE corpus_id IN (SELECT corpus_id FROM centids)),
cassign AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT c.corpus_id, cent.centroid_id,
           row_number() OVER (PARTITION BY c.corpus_id ORDER BY
             ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(cv, centv), x -> x[1] * x[2])),
                 (acc, v) -> acc + v)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(cv, x -> x * x)), (acc, v) -> acc + v))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(centv, x -> x * x)),
                    (acc, v) -> acc + v))), 4) DESC,
             cent.centroid_id) AS r
    FROM c CROSS JOIN cent) WHERE r = 1),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(qv, centv), x -> x[1] * x[2])),
                 (acc, v) -> acc + v)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(qv, x -> x * x)), (acc, v) -> acc + v))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(centv, x -> x * x)),
                    (acc, v) -> acc + v))), 4) DESC,
             cent.centroid_id) AS r
    FROM q CROSS JOIN cent) WHERE r <= 4),
pairs AS (
  SELECT p.query_id, a.corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(qv, cv), x -> x[1] * x[2])),
             (acc, v) -> acc + v) AS dot,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (acc, v) -> acc + v)) AS qn,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(cv, x -> x * x)), (acc, v) -> acc + v)) AS cn
  FROM probes p JOIN cassign a ON p.centroid_id = a.centroid_id
  JOIN q ON q.query_id = p.query_id
  JOIN c ON c.corpus_id = a.corpus_id)
SELECT query_id, corpus_id, cosine_sim, rank
FROM (
  SELECT query_id, corpus_id, ROUND(dot / (qn * cn), 4) AS cosine_sim,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(dot / (qn * cn), 4) DESC, corpus_id) AS INT)
           AS rank
  FROM pairs)
WHERE rank <= 5
"""


def zf1_zipf_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency diagnostics (new in r14): OLS
    slope of ln(freq) vs ln(rank) over the top-50 ranks plus top-50
    mass concentration — the vocabulary-health dashboard row that
    flags diversity collapse (flat slope = template soup, steep =
    token monoculture) before it poisons a training mix.  Integer
    micro-unit quantization + exact BIGINT OLS sums + one
    BIGINT/BIGINT double division (see
    llm/text.py:zipf_diagnostics for the full float-discipline and
    scale contract)."""
    from axonops_schema_registry_spark.llm.text import zipf_diagnostics

    docs = load_table(spark, sf_dir, "documents")
    return zipf_diagnostics(docs)


ZF1_ORACLE = r"""
WITH toks AS MATERIALIZED (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents),
counts AS MATERIALIZED (
  SELECT source, token, COUNT(*) AS cnt
  FROM toks GROUP BY source, token),
totals AS (
  SELECT source, SUM(cnt) AS mass, COUNT(*) AS vocab_size
  FROM counts GROUP BY source),
ranked AS (
  SELECT source, cnt,
         CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS x,
         CAST(FLOOR(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS y
  FROM (SELECT source, token, cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, token ASC) AS rank
        FROM counts)
  WHERE rank <= 50),
ols AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(cnt) AS BIGINT) AS topk_mass
  FROM ranked GROUP BY source)
SELECT o.source,
       CAST(t.vocab_size AS BIGINT) AS vocab_size,
       o.n AS n_ranks,
       CASE WHEN o.n * o.sxx - o.sx * o.sx <> 0
            THEN CAST(o.n * o.sxy - o.sx * o.sy AS DOUBLE)
                 / CAST(o.n * o.sxx - o.sx * o.sx AS DOUBLE)
            END AS zipf_slope,
       CAST((1000 * o.topk_mass) // t.mass AS BIGINT)
         AS topk_mass_per_mille
FROM ols o JOIN totals t USING (source)
ORDER BY o.source
"""


def nn5_multiprobe_lsh_topk(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH approximate top-5 (new in r14; Lv
    et al., VLDB 2007): nn2's portable LSH with each query probing its
    bucket PLUS all n_bits Hamming-distance-1 buckets per table —
    recall bought with query-side fan-out instead of more tables
    (every extra table is another corpus-sized index copy; the probe
    expansion is query-sized).  The candidate set is a structural
    SUPERSET of nn2's at equal parameters, so recall can only rise;
    the planted recall-vs-tables trade is pinned in
    tests/test_llm_ops.py.  Same data-derived planes and exact rerank
    as nn2, so the DuckDB oracle replays the whole path — probe
    expansion is pure integer XOR."""
    queries, corpus = _emb_split(spark, sf_dir)
    return multiprobe_lsh_ann_topk(queries, corpus, k=5)


NN5_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10),
planes AS (
  SELECT CAST(((a.corpus_id - 10) // 2) // 5 AS INT) AS tbl,
         CAST(((a.corpus_id - 10) // 2) % 5 AS INT) AS bit,
         list_transform(list_zip(a.cv, b.cv), x -> x[1] - x[2]) AS pv
  FROM c a JOIN c b ON b.corpus_id = a.corpus_id + 1
  WHERE a.corpus_id BETWEEN 10 AND 29 AND (a.corpus_id - 10) % 2 = 0),
cb AS (
  SELECT corpus_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(cv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM c CROSS JOIN planes GROUP BY corpus_id, tbl),
qb AS (
  SELECT query_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(qv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM q CROSS JOIN planes GROUP BY query_id, tbl),
probes AS (
  SELECT query_id, tbl, bucket FROM qb
  UNION ALL
  SELECT query_id, tbl, xor(bucket, CAST(1 << b AS BIGINT)) AS bucket
  FROM qb CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS b)),
cand AS (
  SELECT DISTINCT p.query_id, cb.corpus_id
  FROM probes p JOIN cb ON p.tbl = cb.tbl AND p.bucket = cb.bucket),
pairs AS (
  SELECT query_id, corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(qv, cv), x -> x[1] * x[2])),
             (acc, v) -> acc + v) AS dot,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (acc, v) -> acc + v)) AS qn,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(cv, x -> x * x)), (acc, v) -> acc + v)) AS cn
  FROM cand JOIN q USING (query_id) JOIN c USING (corpus_id))
SELECT query_id, corpus_id, cosine_sim, rank
FROM (
  SELECT query_id, corpus_id, ROUND(dot / (qn * cn), 4) AS cosine_sim,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(dot / (qn * cn), 4) DESC, corpus_id) AS INT)
           AS rank
  FROM pairs)
WHERE rank <= 5
"""


def nn6_store_lookup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 served off the PERSISTENT ANN index store
    (r18, VERDICT r17 ask #7 — streaming/ann_store.AnnIndexStore, the
    store-backed twin of nn2): the corpus is ingested in three
    interleaved batches (``corpus_id % 3`` — deliberately NOT
    id-ordered arrival, exercising the family's order-insensitivity:
    a vector's buckets depend only on the fixed planes, so ingest
    commutes and this store has no repair domain), every id divisible
    by 7 is DELETED at epoch 3 (a live tombstone), the first two
    insert epochs are COMPACTED into a generation base, and the
    lookup spans base + live epoch with the tombstone applied.  The
    oracle buckets and reranks the NET corpus under the FULL corpus's
    planes (the store's planes are fixed at creation) — so the driver
    hash-checks the whole store lifecycle (fit-once planes, epoch
    ingest, deletion, compaction fold, bucket equi-join lookup, exact
    rerank) against the one-shot batch computation.

    Scale shape: per-batch cost is one |batch| × n_planes broadcast
    expansion + two partition writes (never a stored-corpus scan);
    deletes are tombstone-sized; lookup is one (table, bucket)
    equi-join + one delete-sized anti-join condition +
    candidates-only rerank — the nn2 plan reading the store instead
    of re-bucketing."""
    import tempfile

    from axonops_schema_registry_spark.streaming.ann_store import (
        AnnIndexStore,
    )

    from axonops_schema_registry_spark.operators.core import (
        release_checkpoint,
    )

    queries, corpus = _emb_split(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="nn6_ann_store_")
    store = AnnIndexStore(spark, d, calibration=corpus)
    for e in range(3):
        release_checkpoint(store.process_batch(
            corpus.filter(F.col("corpus_id") % 3 == e), e))
    store.delete_ids(
        corpus.filter(F.col("corpus_id") % 7 == 0)
        .select("corpus_id"), 3)
    store.compact(2)
    return store.lookup_topk(queries, k=5)


# nn2's batch SQL with ONE change: cb/pairs read the NET corpus
# (deleted ids removed) while planes still derive from the FULL
# corpus — the store's planes are fixed at creation, deletes don't
# refit them.
NN6_ORACLE = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10),
cnet AS (SELECT corpus_id, cv FROM c WHERE corpus_id % 7 <> 0),
planes AS (
  SELECT CAST(((a.corpus_id - 10) // 2) // 5 AS INT) AS tbl,
         CAST(((a.corpus_id - 10) // 2) % 5 AS INT) AS bit,
         list_transform(list_zip(a.cv, b.cv), x -> x[1] - x[2]) AS pv
  FROM c a JOIN c b ON b.corpus_id = a.corpus_id + 1
  WHERE a.corpus_id BETWEEN 10 AND 29 AND (a.corpus_id - 10) % 2 = 0),
cb AS (
  SELECT corpus_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(cv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM cnet CROSS JOIN planes GROUP BY corpus_id, tbl),
qb AS (
  SELECT query_id, tbl,
         SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(qv, pv), x -> x[1] * x[2])),
               (acc, v) -> acc + v) > 0 THEN 1 << bit ELSE 0 END) AS bucket
  FROM q CROSS JOIN planes GROUP BY query_id, tbl),
cand AS (
  SELECT DISTINCT qb.query_id, cb.corpus_id
  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket),
pairs AS (
  SELECT query_id, corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(qv, cv), x -> x[1] * x[2])),
             (acc, v) -> acc + v) AS dot,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (acc, v) -> acc + v)) AS qn,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(cv, x -> x * x)), (acc, v) -> acc + v)) AS cn
  FROM cand JOIN q USING (query_id) JOIN cnet USING (corpus_id))
SELECT query_id, corpus_id, cosine_sim, rank
FROM (
  SELECT query_id, corpus_id, ROUND(dot / (qn * cn), 4) AS cosine_sim,
         CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(dot / (qn * cn), 4) DESC, corpus_id) AS INT)
           AS rank
  FROM pairs)
WHERE rank <= 5
"""


def dd5_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation view: WHICH sources duplicate each other — near-dup pairs
    (MinHash-LSH + exact verify) rolled up to an (source_a, source_b)
    matrix with pair counts; src_a <= src_b so each source pair appears
    once.  At 100 TB this is the contamination report between crawl
    snapshots — same linear candidate generation as dd2, plus one
    broadcast-sized rollup."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", 0.8, 3)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("id_a"),
                   F.col("source").alias("src_of_a"))
    b = src.select(F.col("doc_id").alias("id_b"),
                   F.col("source").alias("src_of_b"))
    lab = (pairs.join(a, "id_a").join(b, "id_b")
           .select(F.least("src_of_a", "src_of_b").alias("source_a"),
                   F.greatest("src_of_a", "src_of_b").alias("source_b")))
    return (lab.groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_dup_pairs")))


DD5_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM dup_pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b)
SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
FROM lab GROUP BY source_a, source_b
"""


def tx6_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring via corpus-relative token rarity — all-integer /
    decimal arithmetic so the score is bit-exact (no float-order
    hazards): per doc, the average corpus frequency of its tokens and
    the out-of-vocabulary rate (tokens seen < 5 times corpus-wide).
    Low avg frequency + high OOV = unusual/noisy text; the pretraining
    filter signal.  One vocab aggregate (map-side combined) + one
    re-join of the exploded tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tok_count"))
    per_doc = (toks.join(vocab, "token")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("tok_count").alias("freq_mass"),
                    F.sum(F.when(F.col("tok_count") < 5, 1).otherwise(0))
                    .alias("n_oov")))
    avg_freq = (F.col("freq_mass").cast("decimal(20,6)")
                / F.col("n_tokens").cast("decimal(20,6)"))
    oov_rate = (F.col("n_oov").cast("decimal(20,6)")
                / F.col("n_tokens").cast("decimal(20,6)"))
    # Final cast to DOUBLE: DuckDB's DECIMAL comes back through fetchdf()
    # as float64, so a DECIMAL-typed Spark column would hash-mismatch
    # under the driver's pandas canonicalization.  The arithmetic stays
    # exact in DECIMAL; only the last conversion is float, and
    # decimal->double is correctly rounded identically in both engines.
    return per_doc.select(
        "doc_id", "n_tokens",
        avg_freq.cast("decimal(20,6)").cast("double")
        .alias("avg_token_freq"),
        oov_rate.cast("decimal(20,6)").cast("double").alias("oov_rate"))


TX6_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
vocab AS (SELECT token, COUNT(*) AS tok_count FROM toks GROUP BY token),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         SUM(v.tok_count) AS freq_mass,
         SUM(CASE WHEN v.tok_count < 5 THEN 1 ELSE 0 END) AS n_oov
  FROM toks t JOIN vocab v ON t.token = v.token
  GROUP BY t.doc_id)
SELECT doc_id, n_tokens,
       CAST(CAST(CAST(freq_mass AS DECIMAL(20,6))
            / CAST(n_tokens AS DECIMAL(20,6)) AS DECIMAL(20,6)) AS DOUBLE)
         AS avg_token_freq,
       CAST(CAST(CAST(n_oov AS DECIMAL(20,6))
            / CAST(n_tokens AS DECIMAL(20,6)) AS DECIMAL(20,6)) AS DOUBLE)
         AS oov_rate
FROM per_doc
"""


def sk1_distinct_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token counting three ways per source: exact
    COUNT(DISTINCT), Spark's built-in HLL++ (approx_count_distinct, the
    production path), and the KMV sketch estimate (operators.sketch —
    mergeable as plain arrays, the COUNT DISTINCT analogue of the
    hypertable rollup).  The estimators are deterministic but not
    SQL-portable, so the DRIVER-CHECKED columns are the exact count plus
    within-tolerance flags (the oracle asserts them true): a sketch
    regression that drifts past ±15% flips a flag and hash-fails the
    gate.  Exact estimator values and merge associativity stay pinned in
    pytest (tests/test_llm_ops.py)."""
    from axonops_schema_registry_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source",
                       F.explode(F.split("text", " ")).alias("token"))
    exact = toks.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct"),
        F.approx_count_distinct("token").alias("hll_estimate"))
    kmv = kmv_sketch(toks, ["source"], "token", k=256)
    est = kmv.select("source",
                     F.round(kmv_estimate(F.col("kmv"), 256), 2)
                     .alias("kmv_estimate"))
    tol = 0.15

    def within(est_col: str) -> F.Column:
        return (F.abs(F.col(est_col) - F.col("exact_distinct"))
                <= tol * F.col("exact_distinct"))

    return (exact.join(est, "source")
            .select("source", "exact_distinct",
                    within("hll_estimate").alias("hll_within_tol"),
                    within("kmv_estimate").alias("kmv_within_tol")))


SK1_ORACLE = """
SELECT source,
       COUNT(DISTINCT token) AS exact_distinct,
       TRUE AS hll_within_tol,
       TRUE AS kmv_within_tol
FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents)
GROUP BY source
"""


def tx1_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-profile scoring (pure column expressions)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("lang").alias("labeled_lang"),
                       predict_lang("text").alias("predicted_lang"))


TX1_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang,
       {predict_lang_sql('text')} AS predicted_lang
FROM documents
"""


def tx2_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokenizations."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "n_chars",
        token_count_ws("text").alias("n_ws_tokens"),
        token_count_bpe_ish("text").alias("n_bpe_tokens"))


TX2_ORACLE = r"""
SELECT doc_id, n_chars,
       CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def tx3_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin rolling-hash document fingerprint (deterministic fold)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       rolling_fingerprint("text").alias("fingerprint_hash"))


TX3_ORACLE = f"""
SELECT doc_id, {rolling_fingerprint_sql('text')} AS fingerprint_hash
FROM documents
"""


def tx4_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — a cheap
    model-free quality/noise signal for corpus curation.  Computed as an
    explode + groupBy (JVM-side); entropy rounded to 4 so the
    log-implementation last bits can't flip the hash."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.length("text").alias("n"),
        F.explode(F.split(F.col("text"), "")).alias("ch"))
    freq = (chars.groupBy("doc_id", "n", "ch")
            .agg(F.count(F.lit(1)).alias("cnt")))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    return (freq.withColumn("term", -p * F.log(p))
            .groupBy("doc_id")
            .agg(F.round(F.sum("term").cast("decimal(25,10)")
                         .cast("double"), 4).alias("char_entropy"),
                 F.countDistinct("ch").alias("n_distinct_chars")))


TX4_ORACLE = """
SELECT doc_id,
       ROUND(CAST(SUM(CAST(-p * ln(p) AS DECIMAL(25,10))) AS DOUBLE), 4)
         AS char_entropy,
       COUNT(DISTINCT ch) AS n_distinct_chars
FROM (
  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE) AS p
  FROM (SELECT doc_id, len(text) AS n,
               unnest(string_split(text, '')) AS ch
        FROM documents)
  GROUP BY doc_id, ch, n)
GROUP BY doc_id
"""


def tx5_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card for training-data curation: volume, token
    mass, near-dup membership rate, quality-token ratios — one pass plus
    a join against the dup-cluster members.  No forced broadcast hint:
    dup membership can approach corpus size at 100 TB (a crawl can be
    30-50% near-dup), so AQE picks broadcast only when the member set
    actually is small (round-2 fix of the round-1 watch-item)."""
    docs = load_table(spark, sf_dir, "documents")
    dup_members = (minhash_lsh_pairs(docs, "doc_id", "text", 0.8, 3)
                   .select(F.explode(F.array("id_a", "id_b"))
                           .alias("doc_id")).distinct())
    toks = F.split(F.col("text"), " ")
    # r13 plan fix (the tx5 sweep adjudication): the old shape LEFT-
    # joined the FULL documents table — text column and all — against
    # dup_members on doc_id, shuffling every byte of text through a
    # SortMergeJoin whose only contribution was one boolean.  The token
    # stats never needed the join: aggregate them per source straight
    # off the scan (map-side partial agg; text never crosses a
    # shuffle), and count dup docs per source over a two-column
    # (doc_id, source) projection.  Still no forced broadcast hint on
    # the member side — dup membership can approach corpus size at
    # 100 TB (a crawl can be 30-50% near-dup), so AQE picks broadcast
    # only when the member set actually is small.
    stats = (docs
             .select("source", F.col("n_chars"),
                     F.size(toks).cast("bigint").alias("n_tokens"),
                     F.size(F.array_distinct(toks)).cast("bigint")
                     .alias("n_distinct"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("total_tokens"),
                  F.sum("n_chars").alias("total_chars"),
                  (F.sum("n_distinct").cast("double")
                   / F.sum("n_tokens").cast("double"))
                  .alias("distinct_token_ratio")))
    dups = (docs.select("doc_id", "source")
            .join(dup_members, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_near_dup_docs")))
    return (stats.join(dups, "source", "left")
            .select("source", "n_docs", "total_tokens", "total_chars",
                    F.coalesce("n_near_dup_docs", F.lit(0))
                    .cast("bigint").alias("n_near_dup_docs"),
                    "distinct_token_ratio"))


TX5_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
dup_members AS (
  SELECT DISTINCT id_a AS doc_id FROM dup_pairs
  UNION SELECT DISTINCT id_b FROM dup_pairs)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM dup_members)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_docs,
       CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS DOUBLE)
         / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
         AS distinct_token_ratio
FROM documents GROUP BY source
"""


def mm1_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload + typed metadata →
    Arrow-batched decode (stub kernel) → feature columns.  The oracle
    mirrors the deterministic stub features."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_features(attach_payload(docs, "doc_id", "text"), stub=True)


MM1_ORACLE = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) % 640 AS INT) AS width,
       CAST((strlen(text) * 7) % 480 AS INT) AS height,
       CAST(strlen(text) % 30 AS INT) AS n_frames
FROM documents
"""


def mm2_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode (no media libs): deterministic PNG / GIF /
    JPEG / WAV containers are synthesized per doc_id (struct.pack with
    real CRCs), then parsed back by the stdlib header kernel
    (:func:`...llm.multimodal.parse_media_header`) over ``mapInPandas``.
    Synthesizer and parser are independent implementations, so the oracle
    — pure doc_id arithmetic — checks genuine binary parsing, not an
    echo.  Pixel/sample decode stays stubbed (no PIL/ffmpeg here); this
    covers the header metadata (dims, channels, rate, duration) that
    100 TB media-filter pipelines select on."""
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_headers,
        synthesize_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_headers(synthesize_media(docs, "doc_id"))


MM2_ORACLE = """
SELECT doc_id,
       ['png','gif','jpeg','wav'][CAST(doc_id % 4 AS INT) + 1] AS format,
       CAST(CASE WHEN doc_id % 4 IN (0,1,2) THEN doc_id % 640 + 1 END
         AS INT) AS width,
       CAST(CASE WHEN doc_id % 4 IN (0,1,2) THEN doc_id % 480 + 1 END
         AS INT) AS height,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 + doc_id % 2 END AS INT)
         AS channels,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 8000 * (1 + doc_id % 3) END
         AS INT) AS sample_rate_hz,
       CAST(CASE WHEN doc_id % 4 = 3 THEN doc_id % 64 END AS INT)
         AS n_samples,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 57 + doc_id % 32       -- sig+IHDR+IDAT(k)+IEND
            WHEN 1 THEN 14 + doc_id % 32       -- GIF hdr+LSD+filler+';'
            WHEN 2 THEN 45 + doc_id % 32       -- SOI+APP0+COM(k)+SOF0+EOI
            ELSE 44 + (doc_id % 64) * (1 + doc_id % 2) * 2
            END AS BIGINT) AS n_bytes
FROM documents
"""


def mm3_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode (stdlib zlib + numpy, no media libs): a
    pixel-bearing 8-bit RGB PNG is synthesized per doc_id with a
    deterministic pixel pattern, forward-filtered with a doc_id-cycled
    scanline filter type (all five PNG filters exercised), then fully
    decoded back — inflate, un-filter, per-channel pixel sums — by
    :func:`...llm.multimodal.decode_png_pixels` over ``mapInPandas``.
    The oracle derives the expected sums from doc_id arithmetic alone,
    so a filter-reversal bug in ANY of the five filter types breaks the
    hash.  This closes the engine's last multimodal stub; only
    audio/video sample decode (codec libraries) remains gated."""
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_pixels,
        synthesize_png_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (decode_pixels(synthesize_png_media(docs, "doc_id"))
            .orderBy("doc_id"))


MM3_ORACLE = """
WITH dims AS (
  SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS w,
         CAST(doc_id % 12 + 1 AS INT) AS h
  FROM documents),
xs AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
  FROM dims),
cells AS (
  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
  FROM xs)
SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
       CAST(3 AS INT) AS channels,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM((doc_id + x + 2 * y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((2 * doc_id + 3 * x + y) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((3 * doc_id + x + y) % 256) AS BIGINT) AS sum_b
FROM cells GROUP BY doc_id ORDER BY doc_id
"""


def ppl1_unigram_perplexity(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """CCNet-style unigram-LM quality scoring (llm/text.py:
    unigram_surprisal): token frequencies fitted on the corpus itself,
    every document scored by mean token surprisal -ln p(token).
    Per-token scores are rounded once at vocabulary scale and summed
    exactly, so DuckDB replays the result bit-for-bit."""
    from axonops_schema_registry_spark.llm.text import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs).orderBy("doc_id")


PPL1_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents)
  WHERE t <> ''),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab),
scores AS (
  SELECT t, round(-ln(c / n), 6) AS s FROM vocab, tot)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_surprisal
FROM tok JOIN scores USING (t)
GROUP BY doc_id ORDER BY doc_id
"""


def ccb1_perplexity_buckets(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning
    (llm/text.py:perplexity_buckets — Wenzek et al. 2020 §4.2, the
    stage the CCNet pipeline is named for): within each source,
    documents rank by ppl1's unigram surprisal and split into three
    equal-count buckets; head (most Wikipedia-like) is what quality
    mixes keep.  Buckets are RANK-based over the deterministic
    (mean_surprisal, doc_id) order — a value-threshold percentile
    would interpolate differently across engines; equal-count is also
    what the paper does.  Emitted as the per-(source, bucket) release
    rollup (doc count, token mass, id checksum, surprisal range) so
    the oracle hash pins every document's bucket assignment through
    the checksum.

    Scale shape: ppl1's vocab-bounded broadcast scoring + one rank
    window per source (the mix2 hash-range segmentation is the
    documented 100 TB shard for the rank) + a sources-sized count
    broadcast; the rollup is a 3·sources-row aggregate."""
    from axonops_schema_registry_spark.llm.text import (
        perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (perplexity_buckets(docs)
            .groupBy("source", "bucket", "bucket_label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("token_mass"),
                 F.sum("doc_id").cast("bigint").alias("id_checksum"),
                 F.min("mean_surprisal").alias("min_surprisal"),
                 F.max("mean_surprisal").alias("max_surprisal"))
            .orderBy("source", "bucket"))


CCB1_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents)
  WHERE t <> ''),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab),
scores AS (
  SELECT t, round(-ln(c / n), 6) AS s FROM vocab, tot),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE)
               / COUNT(*), 4) AS mean_surprisal
  FROM tok JOIN scores USING (t)
  GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id, d.source, s.n_tokens, s.mean_surprisal,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY s.mean_surprisal, s.doc_id)
           AS r,
         COUNT(*) OVER (PARTITION BY d.source) AS cnt
  FROM scored s JOIN documents d USING (doc_id)),
bucketed AS (
  SELECT *, CAST(((r - 1) * 3) // cnt AS INT) AS bucket FROM ranked)
SELECT source, bucket,
       CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket_label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       MIN(mean_surprisal) AS min_surprisal,
       MAX(mean_surprisal) AS max_surprisal
FROM bucketed GROUP BY source, bucket ORDER BY source, bucket
"""


def mm4_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM16 sample decode (stdlib struct + numpy, no codec
    libs) — the PNG-pixel playbook applied to audio: a PCM WAV is
    synthesized per doc_id (channels/rate/frame-count and every int16
    sample from doc_id arithmetic, plus an odd-sized LIST chunk so the
    RIFF walk must honor word-alignment padding), then fully decoded
    back — chunk walk, fmt parse, frame count, exact amplitude sum,
    peak magnitude — by :func:`...llm.multimodal.decode_wav_samples`
    over ``mapInPandas``.  The oracle re-derives the aggregates from
    doc_id arithmetic alone, so a bug in the chunk walk, pad handling
    or sample math breaks the hash."""
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_samples,
        synthesize_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (decode_samples(synthesize_wav_media(docs, "doc_id"))
            .orderBy("doc_id"))


MM4_ORACLE = """
WITH spec AS (
  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS channels,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate_hz,
         CAST(doc_id % 50 + 1 AS BIGINT) AS n_frames
  FROM documents),
frames AS (
  SELECT doc_id, channels, sample_rate_hz, n_frames,
         unnest(generate_series(0, n_frames - 1)) AS i
  FROM spec),
samples AS (
  SELECT doc_id, channels, sample_rate_hz, n_frames, i,
         unnest(generate_series(0, channels - 1)) AS ch
  FROM frames),
vals AS (
  SELECT doc_id, channels, sample_rate_hz, n_frames,
         (doc_id * 7 + i * 13 + ch * 5) % 4096 - 2048 AS v
  FROM samples)
SELECT doc_id, ANY_VALUE(channels) AS channels,
       ANY_VALUE(sample_rate_hz) AS sample_rate_hz,
       ANY_VALUE(n_frames) AS n_frames,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(MAX(ABS(v)) AS INT) AS peak_amp
FROM vals GROUP BY doc_id ORDER BY doc_id
"""


def mm6_video_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode (no media libs): deterministic MP4
    (ISO-BMFF ftyp/free/moov/mvhd boxes) and AVI (RIFF LIST/avih)
    containers are synthesized per doc_id and parsed back by a genuine
    box/chunk walk (llm/multimodal.py:parse_video_header) over
    mapInPandas — the mm2 contract extended to VIDEO: synthesizer and
    parser are independent implementations, a variable-length free/
    JUNK chunk defeats fixed-offset cheating, and the oracle is pure
    doc_id arithmetic.  Frame/sample decode stays gated behind the
    documented codec boundary; this is the container metadata
    (brand, timescale/duration, frame count, dimensions) a 100 TB
    media filter selects on before any codec runs."""
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_video_headers,
        synthesize_video,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_video_headers(synthesize_video(docs, "doc_id")) \
        .orderBy("doc_id")


MM6_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
       CASE WHEN doc_id % 2 = 0
            THEN ['isom','mp42','avc1'][CAST(doc_id % 3 AS INT) + 1]
            END AS brand,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 600 * (1 + doc_id % 4) END
         AS INT) AS timescale,
       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 100000 END
         AS BIGINT) AS duration_ticks,
       CAST(CASE WHEN doc_id % 2 = 1
            THEN 1000000 // (10 + doc_id % 50) END AS INT)
         AS usec_per_frame,
       CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 5000 END AS BIGINT)
         AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 2 END AS INT)
         AS n_streams,
       CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 1920 + 1 END
         AS INT) AS width,
       CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 1080 + 1 END
         AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 144 + doc_id % 32
            ELSE 96 + doc_id % 32 END AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
"""


def mm5_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG entropy decode (stdlib + numpy, no codec
    libs): a genuine entropy-coded JPEG is synthesized per doc_id —
    DQT/SOF0/DHT/SOS segments, self-defined canonical huffman tables,
    byte-stuffed bitstream — and fully decoded back (huffman, DC-diff
    + AC run-length, dequantize, inverse zigzag, IDCT, clamp) by
    :func:`...llm.multimodal.decode_jpeg_gray` over ``mapInPandas``.
    Constant-gray blocks make the lossy reconstruction EXACT integer
    arithmetic — pixel = clamp(2*floor((g-127)/2) + 128) with q=16 —
    so the oracle re-derives the per-image pixel sum from doc_id alone
    and the whole entropy path is hash-checked.  (The rich-pattern AC
    paths — run lengths, ZRL, EOB mid-block — are pinned against an
    independent numpy DCT reference in tests/test_llm_ops.py.)"""
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_jpeg_blocks,
        synthesize_jpeg_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (decode_jpeg_blocks(synthesize_jpeg_media(docs, "doc_id"))
            .orderBy("doc_id"))


MM5_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(8 * (doc_id % 4 + 1) AS INT) AS width,
         CAST(8 * (doc_id % 3 + 1) AS INT) AS height
  FROM documents),
bx AS (
  SELECT doc_id, width, height,
         unnest(generate_series(0, width // 8 - 1)) AS bx
  FROM g),
blocks AS (
  SELECT doc_id, width, height, bx,
         unnest(generate_series(0, height // 8 - 1)) AS by
  FROM bx),
lv AS (
  SELECT doc_id, width, height,
         LEAST(GREATEST(
             2 * CAST(FLOOR(((doc_id * 11 + bx * 31 + by * 17) % 256
                             - 127) / 2.0) AS BIGINT) + 128,
             0), 255) AS lvl
  FROM blocks)
SELECT doc_id, ANY_VALUE(width) AS width, ANY_VALUE(height) AS height,
       CAST(COUNT(*) AS INT) AS n_blocks,
       CAST(SUM(64 * lvl) AS BIGINT) AS sum_y
FROM lv GROUP BY doc_id ORDER BY doc_id
"""


def smp1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source Bernoulli sampling
    (llm/sampling.py:stratified_sample): the portable 48-bit md5 hash
    picks the identical document subset in any engine; the per-source
    rate table is config-sized and broadcast.  Output: per-source
    selected counts + an exact id checksum so the oracle verifies the
    SET, not just the size."""
    from axonops_schema_registry_spark.llm.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = (docs.select("source").distinct()
             .withColumn("rate",
                         F.expr("(CAST(substring(source, 4) AS INT) % 5"
                                " + 1) * 0.15")))
    picked = stratified_sample(docs, rates)
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"))
    return (picked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.sum("doc_id").alias("id_checksum"))
            .join(totals, "source")
            .select("source", "n_total", "n_sampled", "id_checksum")
            .orderBy("source"))


SMP1_ORACLE = """
WITH rates AS (
  SELECT DISTINCT source,
         (CAST(substring(source, 4) AS INT) % 5 + 1) * 0.15 AS rate
  FROM documents),
picked AS (
  SELECT d.*
  FROM documents d JOIN rates r USING (source)
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS STRING)), 1, 12))
             AS BIGINT)
        < CAST(floor(r.rate * 281474976710656) AS BIGINT)),
totals AS (SELECT source, COUNT(*) AS n_total FROM documents
           GROUP BY source)
SELECT p.source, t.n_total, COUNT(*) AS n_sampled,
       CAST(SUM(p.doc_id) AS BIGINT) AS id_checksum
FROM picked p JOIN totals t ON p.source = t.source
GROUP BY p.source, t.n_total
ORDER BY p.source
"""


def mix1_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota dataset mixture (llm/sampling.py:dataset_mixture):
    each source contributes floor(weight*total) documents in
    deterministic hash order — the manifest an interleaved training run
    would read.  Output: per-source contribution + id checksum + the
    quota actually filled."""
    from axonops_schema_registry_spark.llm.sampling import (
        dataset_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    # weights n/60 over total 600 -> integer quotas n*10 (exact)
    quotas = (docs.select("source").distinct()
              .withColumn("quota",
                          F.expr("(CAST(substring(source, 4) AS INT) "
                                 "% 3 + 1) * 10")))
    manifest = dataset_mixture(docs, quotas)
    return (manifest.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_selected"),
                 F.sum("doc_id").alias("id_checksum"),
                 F.max("mix_rank").alias("max_rank"))
            .orderBy("source"))


def mix2_segmented_mixture(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Hash-range segmented mixture (llm/sampling.py:
    dataset_mixture_segmented) — the 100 TB variant of mix1: the
    per-source selection window shards into 8 contiguous hash-range
    segments (sources × segments tasks) while producing the IDENTICAL
    manifest — segment-local ranks plus broadcast per-segment count
    offsets reconstruct the exact global rank, so this spec runs
    against mix1's oracle unchanged (the ctm2-vs-ctm1 pattern)."""
    from axonops_schema_registry_spark.llm.sampling import (
        dataset_mixture_segmented,
    )

    docs = load_table(spark, sf_dir, "documents")
    quotas = (docs.select("source").distinct()
              .withColumn("quota",
                          F.expr("(CAST(substring(source, 4) AS INT) "
                                 "% 3 + 1) * 10")))
    manifest = dataset_mixture_segmented(docs, quotas, n_segments=8)
    return (manifest.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_selected"),
                 F.sum("doc_id").alias("id_checksum"),
                 F.max("mix_rank").alias("max_rank"))
            .orderBy("source"))


def mix3_temperature_mixture(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture (llm/sampling.py:
    temperature_quotas + dataset_mixture — Rae et al. 2021's
    non-proportional source sampling, the α-exponent form): per-source
    quotas ∝ token_mass^0.5 over a 200-document budget (α < 1 boosts
    small sources relative to proportional sampling), selection in the
    same deterministic hash order as mix1.  All quota arithmetic is
    integer after one exactly-rounded sqrt (see temperature_quotas),
    so Spark and DuckDB agree bit-for-bit."""
    from axonops_schema_registry_spark.llm.sampling import (
        dataset_mixture,
        temperature_quotas,
    )

    docs = load_table(spark, sf_dir, "documents")
    quotas = temperature_quotas(docs, budget=200)
    manifest = dataset_mixture(docs, quotas.select("source", "quota"))
    sel = (manifest.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_selected"),
                F.sum("doc_id").alias("id_checksum"),
                F.max("mix_rank").alias("max_rank")))
    return (quotas.join(sel, "source", "left")
            .select("source", "weight", "quota",
                    F.coalesce("n_selected", F.lit(0)).cast("bigint")
                    .alias("n_selected"),
                    F.coalesce("id_checksum", F.lit(0)).cast("bigint")
                    .alias("id_checksum"),
                    F.coalesce("max_rank", F.lit(0)).cast("bigint")
                    .alias("max_rank"))
            .orderBy("source"))


MIX3_ORACLE = """
WITH mass AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
  FROM documents GROUP BY source),
wts AS (SELECT source, CAST(FLOOR(SQRT(m)) AS BIGINT) AS weight
        FROM mass),
tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM wts),
quotas AS (
  SELECT source, weight,
         CAST((200 * weight) // total AS INT) AS quota
  FROM wts, tw),
ranked AS (
  SELECT d.source, d.doc_id, q.quota,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY CAST(concat('0x',
                    substr(md5(CAST(d.doc_id AS STRING)), 1, 12))
                    AS BIGINT), d.doc_id) AS mix_rank
  FROM documents d JOIN quotas q USING (source)),
sel AS (
  SELECT source, COUNT(*) AS n_selected,
         CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
         MAX(mix_rank) AS max_rank
  FROM ranked WHERE mix_rank <= quota GROUP BY source)
SELECT q.source, q.weight, q.quota,
       CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(s.id_checksum, 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(s.max_rank, 0) AS BIGINT) AS max_rank
FROM quotas q LEFT JOIN sel s USING (source) ORDER BY q.source
"""


def mix5_token_budget_mixture(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Token-budget mixture (llm/sampling.py:token_budget_mixture —
    the 'give me N tokens per source' form trainers actually budget
    in, Rae et al. 2021 table A3 states mixes as token shares): each
    source contributes documents in the mix1 deterministic hash order
    until an inclusive cumulative 2,000-token budget fills (prefix
    semantics — monotone running sum, so the cut is engine-exact).
    Emitted as the per-source receipt (selected docs, tokens landed,
    id checksum, last rank) with zero-rows kept via the budget-side
    left join.

    Scale shape: token counts row-local off the scan; one per-source
    (rank, running-sum) window — mix2's hash-range segmentation is
    the documented shard when a source outgrows a task."""
    from axonops_schema_registry_spark.llm.sampling import (
        token_budget_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    budgets = (docs.select("source").distinct()
               .withColumn("token_budget", F.lit(2000)))
    manifest = token_budget_mixture(docs, budgets)
    sel = (manifest.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_selected"),
                F.max("cum_tokens").alias("tokens_selected"),
                F.sum("doc_id").alias("id_checksum"),
                F.max("mix_rank").alias("max_rank")))
    return (budgets.join(sel, "source", "left")
            .select("source",
                    F.col("token_budget").cast("bigint")
                    .alias("token_budget"),
                    F.coalesce("n_selected", F.lit(0)).cast("bigint")
                    .alias("n_selected"),
                    F.coalesce("tokens_selected", F.lit(0))
                    .cast("bigint").alias("tokens_selected"),
                    F.coalesce("id_checksum", F.lit(0)).cast("bigint")
                    .alias("id_checksum"),
                    F.coalesce("max_rank", F.lit(0)).cast("bigint")
                    .alias("max_rank"))
            .orderBy("source"))


MIX5_ORACLE = """
WITH b AS (SELECT DISTINCT source, 2000 AS token_budget
           FROM documents),
r AS (
  SELECT source, doc_id,
         len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
cum AS (
  SELECT source, doc_id,
         SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
           AS mix_rank
  FROM r),
sel AS (
  SELECT source, COUNT(*) AS n_selected,
         MAX(cum_tokens) AS tokens_selected,
         SUM(doc_id) AS id_checksum,
         MAX(mix_rank) AS max_rank
  FROM cum WHERE cum_tokens <= 2000 GROUP BY source)
SELECT b.source, CAST(b.token_budget AS BIGINT) AS token_budget,
       CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(s.tokens_selected, 0) AS BIGINT)
         AS tokens_selected,
       CAST(COALESCE(s.id_checksum, 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(s.max_rank, 0) AS BIGINT) AS max_rank
FROM b LEFT JOIN sel s USING (source) ORDER BY b.source
"""


def bud1_budget_revision_admission(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Budgeted ingest under MID-RUN BUDGET REVISIONS (r17, VERDICT
    r16 ask #6 — llm/sampling.py:budget_revision_admission, the batch
    twin of TokenBudgetAdmissionSink.update_budgets): documents
    arrive in four epochs (``doc_id DIV 20 % 4`` — the fixture's
    doc_id % 20 is the source index, so DIV 20 cycles every source
    through all four epochs); every source starts on a 400-token
    budget and the even-numbered sources are RAISED to 900 effective
    from epoch 2 (a production re-plan: half the mixture re-weighted
    mid-ingest).  Admission is mix5's prefix semantics against the
    budget AS OF each document's arrival epoch, so the raise admits
    only epoch-2+ arrivals while earlier rejections stand and still
    count against the new budget.  Emitted as the per-(source, epoch)
    admission receipt.

    Scale shape: revisions/as-of grid are config-sized broadcasts;
    token counts row-local off the scan; one per-source (rank,
    running-sum) window — the mix5 shape plus one broadcast join."""
    from axonops_schema_registry_spark.llm.sampling import (
        budget_revision_admission,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("epoch",
                        F.expr("(doc_id DIV 20) % 4").cast("bigint")))
    srcs = docs.select("source").distinct()
    even = F.substring("source", 4, 10).cast("int") % 2 == 0
    revisions = (srcs.select("source",
                             F.lit(400).cast("bigint")
                             .alias("token_budget"),
                             F.lit(0).cast("bigint").alias("effective"))
                 .unionByName(
                     srcs.filter(even)
                     .select("source",
                             F.lit(900).cast("bigint")
                             .alias("token_budget"),
                             F.lit(2).cast("bigint")
                             .alias("effective"))))
    adm = budget_revision_admission(docs, revisions)
    a = F.col("admitted")
    return (adm.groupBy("source", "epoch", "token_budget")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_seen"),
                 F.sum(a.cast("bigint")).cast("bigint")
                 .alias("n_admitted"),
                 F.coalesce(F.sum(F.when(a, F.col("n_tokens"))),
                            F.lit(0)).cast("bigint")
                 .alias("tokens_admitted"),
                 F.coalesce(F.sum(F.when(a, F.col("doc_id"))),
                            F.lit(0)).cast("bigint")
                 .alias("id_checksum"),
                 F.max("cum_tokens").cast("bigint").alias("last_cum"))
            .select("source", "epoch",
                    F.col("token_budget").alias("budget_asof"),
                    "n_seen", "n_admitted", "tokens_admitted",
                    "id_checksum", "last_cum")
            .orderBy("source", "epoch"))


BUD1_ORACLE = """
WITH docs AS (
  SELECT doc_id, source, (doc_id // 20) % 4 AS epoch,
         len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
srcs AS (SELECT DISTINCT source FROM documents),
revs AS (
  SELECT source, 400 AS token_budget, 0 AS effective FROM srcs
  UNION ALL
  SELECT source, 900, 2 FROM srcs
  WHERE CAST(substr(source, 4) AS INT) % 2 = 0),
basof AS (
  SELECT g.source, g.epoch,
         (SELECT r.token_budget FROM revs r
          WHERE r.source = g.source AND r.effective <= g.epoch
          ORDER BY r.effective DESC LIMIT 1) AS token_budget
  FROM (SELECT DISTINCT source, epoch FROM docs) g),
cum AS (
  SELECT d.doc_id, d.source, d.epoch, d.nt, a.token_budget,
         SUM(d.nt) OVER (PARTITION BY d.source
                         ORDER BY d.epoch, d.h, d.doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM docs d JOIN basof a
    ON a.source = d.source AND a.epoch = d.epoch
  WHERE a.token_budget IS NOT NULL)
SELECT source, epoch,
       CAST(token_budget AS BIGINT) AS budget_asof,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(COALESCE(SUM(CASE WHEN cum_tokens <= token_budget
                         THEN 1 END), 0) AS BIGINT) AS n_admitted,
       CAST(COALESCE(SUM(CASE WHEN cum_tokens <= token_budget
                         THEN nt END), 0) AS BIGINT)
         AS tokens_admitted,
       CAST(COALESCE(SUM(CASE WHEN cum_tokens <= token_budget
                         THEN doc_id END), 0) AS BIGINT)
         AS id_checksum,
       CAST(MAX(cum_tokens) AS BIGINT) AS last_cum
FROM cum GROUP BY source, epoch, token_budget
ORDER BY source, epoch
"""


def ord1_manifest_order_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming-manifest arrival-order audit (r17 —
    llm/ccnet.py:manifest_order_audit, the batch pre-flight twin of
    CCNetStreamSink.order_report): per arrival epoch (bud1's
    ``doc_id DIV 20 % 4`` stamping), verify the two orderings the
    streaming CCNet/admission sinks need for stream ≡ batch — every
    source's (hash, id) minimum above all prior epochs' maxima
    (mix5's prefix precondition), and no duplicated 10-word block
    whose batch-global winner arrives after the key's first
    occurrence (the keep-first precondition; the violating keys are
    exactly LineDedupStore.repair()'s victim set).  The id-cycled
    epoch stamp deliberately violates BOTH on this fixture (ids, not
    hashes, are epoch-monotone — and only per 20-id stripes), so the
    audit's failure path is what the oracle pins; the all-clear path
    is pinned by the planted pytest and the ccn2 equality fixture.

    Scale shape: admission leg aggregates to sources × epochs rows;
    line leg reuses ln1's packed-order HashAggregate election + one
    equi-join to recover winner epochs — no corpus-scale struct
    aggregate, no window over the corpus."""
    from axonops_schema_registry_spark.llm.ccnet import (
        manifest_order_audit,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("epoch",
                        F.expr("(doc_id DIV 20) % 4").cast("bigint")))
    return manifest_order_audit(docs)


ORD1_ORACLE = """
WITH docs AS (
  SELECT doc_id, source, (doc_id // 20) % 4 AS epoch, text,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
eps AS (SELECT DISTINCT epoch FROM docs),
pe AS (
  SELECT source, epoch,
         min(struct_pack(h := h, i := doc_id)) AS mn,
         max(struct_pack(h := h, i := doc_id)) AS mx
  FROM docs GROUP BY source, epoch),
adm AS (
  SELECT epoch,
         SUM(CASE WHEN prev IS NOT NULL AND mn <= prev
             THEN 1 ELSE 0 END) AS n_bad
  FROM (SELECT source, epoch, mn,
               max(mx) OVER (PARTITION BY source ORDER BY epoch
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev
        FROM pe)
  GROUP BY epoch),
ws AS (SELECT doc_id AS id, epoch, string_split(text, ' ') AS w
       FROM docs),
blocks AS (
  SELECT id, epoch, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, epoch, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM ws)),
pk AS (
  SELECT btext, MIN(epoch) AS first_e,
         (min(struct_pack(a := id, b := block_idx, e := epoch))).e
           AS win_e
  FROM blocks WHERE bwords >= 5 GROUP BY btext),
late AS (
  SELECT win_e AS epoch, COUNT(*) AS n_late
  FROM pk WHERE win_e > first_e GROUP BY win_e)
SELECT CAST(e.epoch AS BIGINT) AS epoch,
       (COALESCE(a.n_bad, 0) = 0) AS admission_order_ok,
       CAST(COALESCE(a.n_bad, 0) AS BIGINT)
         AS n_sources_out_of_order,
       (COALESCE(l.n_late, 0) = 0) AS line_order_ok,
       CAST(COALESCE(l.n_late, 0) AS BIGINT) AS n_late_winner_keys
FROM eps e
LEFT JOIN adm a USING (epoch)
LEFT JOIN late l USING (epoch)
ORDER BY epoch
"""


def man1_order_safe_manifest(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Order-safe streaming manifest (r17 —
    llm/ccnet.py:order_safe_manifest, the CONSTRUCTIVE complement of
    ord1): the audit proved this corpus cannot be hash-order-streamed
    batch-equal (late-winner block keys), so man1 builds the manifest
    the production recipe prescribes — line-dedup FIRST (keep-first
    leaves each duplicated block exactly one surviving copy, making
    the keep-first leg order-insensitive), then epochs by exact
    hash-range cuts ``(h · 4) >> 48`` (contiguous in the portable
    hash order, so every source's arrival subsequence is
    prefix-monotone).  The receipt is the per-epoch schedule +
    manifest_order_audit's verdicts over the manifest itself: the
    oracle RECOMPUTES both legs rather than assuming them, so
    all-True/zero is pinned, not asserted.

    Scale shape: one ln1 election + one scan-local hash cut; the
    audit legs add sources × epochs struct aggregates and one
    block-keyed HashAggregate election over the CLEANED corpus."""
    from axonops_schema_registry_spark.llm.ccnet import (
        manifest_order_audit,
        order_safe_manifest,
    )

    man = order_safe_manifest(load_table(spark, sf_dir, "documents"),
                              n_epochs=4)
    audit = manifest_order_audit(man)
    stats = (man.groupBy("epoch")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                  F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                  F.countDistinct("source").cast("bigint")
                  .alias("n_sources")))
    return (stats.join(audit, "epoch")
            .select("epoch", "n_docs", "n_tokens", "n_sources",
                    "admission_order_ok", "n_sources_out_of_order",
                    "line_order_ok", "n_late_winner_keys")
            .orderBy("epoch"))


MAN1_ORACLE = """
WITH ws AS (SELECT doc_id AS id, string_split(text, ' ') AS w
            FROM documents),
blocks AS (
  SELECT id, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM ws)),
keepflag AS (
  SELECT id, block_idx, btext,
         (bwords < 5 OR
          row_number() OVER (PARTITION BY btext
                             ORDER BY id, block_idx) = 1) AS keep
  FROM blocks),
clean AS (
  SELECT id,
         COALESCE(string_agg(CASE WHEN keep THEN btext END, ' '
                             ORDER BY block_idx), '') AS ctext
  FROM keepflag GROUP BY id),
man AS (
  SELECT c.id AS doc_id, d.source, c.ctext AS text,
         len(string_split(c.ctext, ' ')) AS nt,
         CAST(concat('0x', substr(md5(CAST(c.id AS STRING)), 1, 12))
              AS BIGINT) AS h,
         ((CAST(concat('0x', substr(md5(CAST(c.id AS STRING)), 1, 12))
                AS BIGINT) * 4) >> 48) AS epoch
  FROM clean c JOIN documents d ON d.doc_id = c.id
  WHERE c.ctext <> ''),
eps AS (SELECT DISTINCT epoch FROM man),
pe AS (
  SELECT source, epoch,
         min(struct_pack(h := h, i := doc_id)) AS mn,
         max(struct_pack(h := h, i := doc_id)) AS mx
  FROM man GROUP BY source, epoch),
adm AS (
  SELECT epoch,
         SUM(CASE WHEN prev IS NOT NULL AND mn <= prev
             THEN 1 ELSE 0 END) AS n_bad
  FROM (SELECT source, epoch, mn,
               max(mx) OVER (PARTITION BY source ORDER BY epoch
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev
        FROM pe)
  GROUP BY epoch),
mws AS (SELECT doc_id AS id, epoch, string_split(text, ' ') AS w
        FROM man),
mblocks AS (
  SELECT id, epoch, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, epoch, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM mws)),
pk AS (
  SELECT btext, MIN(epoch) AS first_e,
         (min(struct_pack(a := id, b := block_idx, e := epoch))).e
           AS win_e
  FROM mblocks WHERE bwords >= 5 GROUP BY btext),
late AS (
  SELECT win_e AS epoch, COUNT(*) AS n_late
  FROM pk WHERE win_e > first_e GROUP BY win_e),
stats AS (
  SELECT epoch, COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
         COUNT(DISTINCT source) AS n_sources
  FROM man GROUP BY epoch)
SELECT CAST(e.epoch AS BIGINT) AS epoch,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_sources AS BIGINT) AS n_sources,
       (COALESCE(a.n_bad, 0) = 0) AS admission_order_ok,
       CAST(COALESCE(a.n_bad, 0) AS BIGINT)
         AS n_sources_out_of_order,
       (COALESCE(l.n_late, 0) = 0) AS line_order_ok,
       CAST(COALESCE(l.n_late, 0) AS BIGINT) AS n_late_winner_keys
FROM eps e
JOIN stats s USING (epoch)
LEFT JOIN adm a USING (epoch)
LEFT JOIN late l USING (epoch)
ORDER BY epoch
"""


def mix4_exact_budget_quotas(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Largest-remainder exact-budget quotas (VERDICT r12 ask #5 —
    new in r13): ``temperature_quotas(exact_budget=True)`` assigns
    the floor-division shortfall one document at a time to the
    sources with the largest EXACT integer remainders
    ``(budget · weight) mod Σweight``, ties by ascending source name,
    so ``sum(quota) == budget`` — what a user expects from "budget"
    — while staying a pure integer function of the token masses
    (llm/sampling.py:temperature_quotas; Rae et al. 2021's
    non-proportional sampling, the Hamilton/largest-remainder
    apportionment form).  Budget 333 is deliberately coprime-ish to
    the fixture masses so the top-up path is actually exercised.
    ``topped_up`` marks the sources that received a remainder seat
    (exact vs floor quotas differ by 1 there).

    Scale shape: identical to mix3's quota side — ONE map-side
    aggregate over the corpus (ADVICE r13: the first cut ran
    temperature_quotas twice — exact and floor — re-aggregating the
    corpus solely to derive ``topped_up``; the floor quota is a pure
    integer function of the RETURNED weight column,
    ``(budget·w) DIV Σw``, so it is recomputed here with one
    single-partition window over the sources-sized result instead),
    then everything over the sources-sized table."""
    from pyspark.sql import Window

    from axonops_schema_registry_spark.llm.sampling import (
        temperature_quotas,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = temperature_quotas(docs, budget=333, exact_budget=True)
    tw = F.sum("weight").over(
        Window.partitionBy())  # sources-sized frame, bounded by design
    return (exact
            .withColumn("__tw", tw)
            .select("source", "weight", "quota",
                    (F.col("quota") > F.expr("CAST((333 * weight) "
                                             "DIV __tw AS INT)"))
                    .alias("topped_up"))
            .orderBy("source"))


MIX4_ORACLE = """
WITH mass AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
  FROM documents GROUP BY source),
wts AS (SELECT source, CAST(FLOOR(SQRT(m)) AS BIGINT) AS weight
        FROM mass),
tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM wts),
floors AS (
  SELECT source, weight,
         CAST((333 * weight) // total AS INT) AS fq,
         CAST((333 * weight) % total AS BIGINT) AS rem
  FROM wts, tw),
sf AS (SELECT CAST(333 - SUM(fq) AS INT) AS s FROM floors),
ranked AS (
  SELECT source, weight, fq,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM floors)
SELECT r.source, r.weight,
       CAST(r.fq + CASE WHEN r.rk <= s.s THEN 1 ELSE 0 END AS INT)
         AS quota,
       r.rk <= s.s AS topped_up
FROM ranked r, sf s ORDER BY r.source
"""


def vg1_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve over the corpus (Heaps-law
    diagnostics a curation pipeline tracks to spot diversity
    collapse): 3-shingle vocabulary accumulated across ten doc-id
    buckets.  The scale-safe formulation: instead of counting
    distinct shingles per growing PREFIX (quadratic — every prefix
    re-scans the corpus), aggregate each shingle's FIRST-occurrence
    doc (one groupBy), bucket those, and take a running sum over the
    ten bucket rows — per-shingle work is one aggregate, the window
    runs over a constant-size frame.  Bucket width is pure integer
    arithmetic from (min, max) doc_id, so both engines bucket
    identically."""
    from pyspark.sql import Window

    from axonops_schema_registry_spark.operators.text import token_set

    docs = load_table(spark, sf_dir, "documents")
    rng = docs.agg(F.min("doc_id").alias("__lo"),
                   F.max("doc_id").alias("__hi"))
    toks = token_set(docs, "doc_id", "text", 3)
    first = toks.groupBy("token").agg(F.min("id").alias("__fd"))
    newt = (first.crossJoin(F.broadcast(rng))
            .select(F.expr("CAST((__fd - __lo) DIV "
                           "((__hi - __lo + 10) DIV 10) + 1 AS INT)")
                    .alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("new_shingles")))
    nd = (docs.crossJoin(F.broadcast(rng))
          .select(F.expr("CAST((doc_id - __lo) DIV "
                         "((__hi - __lo + 10) DIV 10) + 1 AS INT)")
                  .alias("bucket"))
          .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    return (nd.join(newt, "bucket", "left")
            .select("bucket", "n_docs",
                    F.coalesce("new_shingles", F.lit(0)).cast("bigint")
                    .alias("new_shingles"))
            .withColumn("cum_vocab",
                        F.sum("new_shingles").over(w).cast("bigint"))
            .orderBy("bucket"))


VG1_ORACLE = """
WITH rng AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi
             FROM documents),
toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
first AS (SELECT token, MIN(id) AS fd FROM toks GROUP BY token),
newt AS (
  SELECT CAST((fd - lo) // ((hi - lo + 10) // 10) + 1 AS INT)
           AS bucket,
         COUNT(*) AS new_shingles
  FROM first, rng GROUP BY 1),
nd AS (
  SELECT CAST((doc_id - lo) // ((hi - lo + 10) // 10) + 1 AS INT)
           AS bucket,
         COUNT(*) AS n_docs
  FROM documents, rng GROUP BY 1)
SELECT nd.bucket, nd.n_docs,
       CAST(COALESCE(newt.new_shingles, 0) AS BIGINT) AS new_shingles,
       CAST(SUM(COALESCE(newt.new_shingles, 0))
            OVER (ORDER BY nd.bucket) AS BIGINT) AS cum_vocab
FROM nd LEFT JOIN newt USING (bucket) ORDER BY nd.bucket
"""


MIX1_ORACLE = """
WITH quotas AS (
  SELECT DISTINCT source,
         (CAST(substring(source, 4) AS INT) % 3 + 1) * 10 AS quota
  FROM documents),
ranked AS (
  SELECT d.source, d.doc_id, w.quota,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY CAST(concat('0x',
                    substr(md5(CAST(d.doc_id AS STRING)), 1, 12))
                    AS BIGINT), d.doc_id) AS mix_rank
  FROM documents d JOIN quotas w USING (source)),
manifest AS (
  SELECT * FROM ranked WHERE mix_rank <= quota)
SELECT source, COUNT(*) AS n_selected,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       MAX(mix_rank) AS max_rank
FROM manifest GROUP BY source ORDER BY source
"""


def dd7_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-wins ingestion dedup flags (llm/dedup.py:
    incremental_dedup_flags): every document marked dup iff it
    near-matches an EARLIER document, with the earliest match recorded.
    Streaming twin: streaming/dedup_stream.py (foreachBatch over the
    growing prefix; identical flags by order-independence)."""
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (incremental_dedup_flags(docs, "doc_id", "text", 0.8, 3)
            .orderBy("doc_id"))


DD7_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8)
SELECT d.doc_id, MIN(p.id_a) IS NOT NULL AS is_dup,
       MIN(p.id_a) AS dup_of
FROM documents d LEFT JOIN dup_pairs p ON p.id_b = d.doc_id
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def ctm1_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (llm/contamination.py): training
    documents carrying exact 5-gram spans from the held-out set
    (source 'src1' plays the evaluation benchmark).  The evaluation
    span set broadcasts; the training corpus is scanned once."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    test = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (contamination_flags(train, test, "doc_id", "text", 5)
            .orderBy("doc_id"))


CTM1_ORACLE = """
WITH spans AS (
  SELECT DISTINCT doc_id AS id, source,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM documents),
test_spans AS (SELECT DISTINCT id AS test_id, span FROM spans
               WHERE source = 'src1'),
train_spans AS (SELECT id, span FROM spans WHERE source <> 'src1')
SELECT t.id AS doc_id, COUNT(DISTINCT t.span) AS n_shared_spans,
       COUNT(DISTINCT ts.test_id) AS n_test_docs
FROM train_spans t JOIN test_spans ts ON t.span = ts.span
GROUP BY t.id ORDER BY doc_id
"""


def ctm2_bloom_contamination(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination
    (llm/contamination.py:contamination_flags_bloom): the 100 TB
    escalation path where a 32 KB bloom image of the evaluation span
    set broadcasts instead of the span strings; surviving candidates
    go through the same exact span join, so the result is IDENTICAL to
    ctm1 — this spec runs against ctm1's exact-SQL oracle, proving the
    prefilter loses nothing."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    test = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (contamination_flags_bloom(train, test, "doc_id", "text", 5)
            .orderBy("doc_id"))


def cur1_curation_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest-time curation stage, batch form (streaming twin:
    streaming/dedup_stream.py:CurationSink): first-wins near-dup flags,
    exact 5-gram benchmark decontamination against the held-out 'src1'
    slice, and PII redaction on the surviving documents (planted PII as
    in tx7 so the redaction is observable).  Per-document verdict rows:
    kept = not a dup and carries no evaluation span; clean_len = length
    of the redacted text for kept documents, NULL otherwise."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.llm.text import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
            .when(F.col("doc_id") % 7 == 1, F.lit(" call 555-867-5309"))
            .when(F.col("doc_id") % 7 == 2, F.lit(" ssn 078-05-1120"))
            .otherwise(F.lit(""))))
    test = planted.filter(F.col("source") == "src1")
    train = planted.filter(F.col("source") != "src1")
    dedup = incremental_dedup_flags(train, "doc_id", "text", 0.8, 3)
    contam = (contamination_flags(train, test, "doc_id", "text", 5)
              .select("doc_id",
                      F.col("n_shared_spans").alias("n_eval_spans")))
    kept = ~F.col("is_dup") & (F.col("n_eval_spans") == 0)
    return (train
            .join(dedup, "doc_id")
            .join(contam, "doc_id", "left")
            .na.fill({"n_eval_spans": 0})
            .withColumn("kept", kept)
            .withColumn("clean_len",
                        F.when(F.col("kept"),
                               F.length(pii_redact("text"))
                               .cast("bigint")))
            .select("doc_id", "is_dup", "dup_of", "n_eval_spans",
                    "kept", "clean_len")
            .orderBy("doc_id"))


CUR1_ORACLE = r"""
WITH planted AS (
  SELECT doc_id, source, text ||
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS STRING)
                       || '@example.com'
           WHEN 1 THEN ' call 555-867-5309'
           WHEN 2 THEN ' ssn 078-05-1120'
           ELSE '' END AS text
  FROM documents),
train AS (SELECT * FROM planted WHERE source <> 'src1'),
test AS (SELECT * FROM planted WHERE source = 'src1'),
toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM train),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
dedup AS (
  SELECT d.doc_id, MIN(p.id_a) IS NOT NULL AS is_dup,
         MIN(p.id_a) AS dup_of
  FROM train d LEFT JOIN dup_pairs p ON p.id_b = d.doc_id
  GROUP BY d.doc_id),
spans AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM train),
tspans AS (
  SELECT DISTINCT
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM test),
contam AS (
  SELECT s.id AS doc_id, COUNT(DISTINCT s.span) AS n_eval_spans
  FROM spans s JOIN tspans t ON s.span = t.span GROUP BY s.id)
SELECT t.doc_id, dd.is_dup, dd.dup_of,
       COALESCE(c.n_eval_spans, 0) AS n_eval_spans,
       (NOT dd.is_dup AND COALESCE(c.n_eval_spans, 0) = 0) AS kept,
       CASE WHEN NOT dd.is_dup AND COALESCE(c.n_eval_spans, 0) = 0 THEN
         CAST(len(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(t.text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
             '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             '<IPV4>', 'g')) AS BIGINT) END AS clean_len
FROM train t JOIN dedup dd USING (doc_id)
LEFT JOIN contam c USING (doc_id)
ORDER BY doc_id
"""


def tx7_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit (llm/text.py:PII_PATTERNS): per-source match
    counts for email/phone/SSN/IP patterns, with deterministic planted
    PII so the detector's behavior is verifiable on the synthetic
    corpus (the driver documents carry none naturally).  Patterns are
    RE2-safe, so Java regex and DuckDB count identically — the scan is
    pure codegen, no UDF."""
    from axonops_schema_registry_spark.llm.text import pii_counts

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
            .when(F.col("doc_id") % 7 == 1, F.lit(" call 555-867-5309"))
            .when(F.col("doc_id") % 7 == 2, F.lit(" ssn 078-05-1120"))
            .otherwise(F.lit(""))))
    per_doc = planted.select("source", *pii_counts("text"))
    return (per_doc.groupBy("source")
            .agg(F.sum("n_email").alias("n_email"),
                 F.sum("n_phone").alias("n_phone"),
                 F.sum("n_ssn").alias("n_ssn"),
                 F.sum("n_ipv4").alias("n_ipv4"),
                 F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source"))


TX7_ORACLE = r"""
WITH planted AS (
  SELECT source, text ||
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS STRING)
                       || '@example.com'
           WHEN 1 THEN ' call 555-867-5309'
           WHEN 2 THEN ' ssn 078-05-1120'
           ELSE '' END AS text
  FROM documents)
SELECT source,
  CAST(SUM(len(regexp_extract_all(text,
    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))) AS BIGINT)
    AS n_email,
  CAST(SUM(len(regexp_extract_all(text,
    '[0-9]{3}-[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS n_phone,
  CAST(SUM(len(regexp_extract_all(text,
    '[0-9]{3}-[0-9]{2}-[0-9]{4}'))) AS BIGINT) AS n_ssn,
  CAST(SUM(len(regexp_extract_all(text,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT)
    AS n_ipv4,
  COUNT(*) AS n_docs
FROM planted GROUP BY source ORDER BY source
"""


def pk1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-context sequence packing (llm/packing.py): documents
    concatenated per source in deterministic hash order and cut every
    512 tokens; per-pack manifest rows (doc count, token mass, boundary
    straddles) — the index a data loader materializes next to packed
    shards."""
    from axonops_schema_registry_spark.llm.packing import pack_manifest

    docs = load_table(spark, sf_dir, "documents")
    return (pack_manifest(docs, 512)
            .orderBy("source", "pack_id"))


PK1_ORACLE = r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
a AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
         (floor((cum - 1) / 512.0)
          <> floor((cum - n_tokens) / 512.0)) AS straddles
  FROM c)
SELECT source, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddles,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM a GROUP BY source, pack_id ORDER BY source, pack_id
"""


def pk2_segmented_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range segmented packing (llm/packing.py:
    pack_assignments_segmented) — the 100 TB variant of pk1: each
    source's hash-ordered stream is cut into 8 contiguous hash-range
    segments packed independently, so the running-sum window
    parallelism is sources × segments instead of one task per source.
    Manifest rows per (source, segment, pack_id)."""
    from axonops_schema_registry_spark.llm.packing import (
        pack_assignments_segmented,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = pack_assignments_segmented(docs, 512, n_segments=8)
    return (a.groupBy("source", "segment", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tok_sum"),
                 F.sum(F.col("straddles").cast("int")).cast("bigint")
                 .alias("n_straddles"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("source", "segment", "pack_id"))


PK2_ORACLE = r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
s AS (
  SELECT *, CAST(floor(h * 8 / 281474976710656.0) AS BIGINT)
              AS segment
  FROM t),
c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source, segment
            ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM s),
a AS (
  SELECT doc_id, source, segment, n_tokens,
         CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
         (floor((cum - 1) / 512.0)
          <> floor((cum - n_tokens) / 512.0)) AS straddles
  FROM c)
SELECT source, segment, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddles,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM a GROUP BY source, segment, pack_id
ORDER BY source, segment, pack_id
"""


def pk3_whole_doc_packing(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Whole-document (no-straddle) NEXT-FIT packing (llm/packing.py:
    pack_documents_whole) — the SFT-style policy where a document never
    splits across contexts, folded per (source, hash-range segment) in
    ``applyInPandas`` because next-fit is inherently sequential.  The
    DuckDB oracle replays the exact fold with a recursive CTE (one step
    per rank, all groups advancing in lockstep), so the per-pack
    manifest is hash-checked despite the operator being imperative."""
    from axonops_schema_registry_spark.llm.packing import (
        pack_documents_whole,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = pack_documents_whole(docs, 512, n_segments=8)
    return (a.groupBy("source", "segment", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tok_sum"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("source", "segment", "pack_id"))


PK3_ORACLE = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM documents),
s AS (
  SELECT *, CAST(floor(h * 8 / 281474976710656.0) AS BIGINT)
              AS segment
  FROM t),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source, segment
            ORDER BY h, doc_id) AS rn
  FROM s),
state AS (
  SELECT source, segment, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.source, r.segment, r.rn, r.doc_id, r.n_tokens,
         CASE WHEN st.fill + r.n_tokens > 512
              THEN st.pack_id + 1 ELSE st.pack_id END,
         CASE WHEN st.fill + r.n_tokens > 512
              THEN r.n_tokens ELSE st.fill + r.n_tokens END
  FROM state st
  JOIN r ON r.source = st.source AND r.segment = st.segment
        AND r.rn = st.rn + 1)
SELECT source, segment, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM state GROUP BY source, segment, pack_id
ORDER BY source, segment, pack_id
"""


def bpe1_merge_candidates(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """One BPE training step at corpus scale (Sennrich et al. 2016,
    public — the tokenizer-induction job a training pipeline runs over
    its own corpus): count adjacent character pairs across all words,
    weighted by word frequency, and emit the top-20 merge candidates.
    Exact integer arithmetic end-to-end.

    Scale: pair statistics are computed per DISTINCT word (vocabulary-
    bounded work — the corpus-sized groupBy is the word count, map-side
    combined), then one vocabulary-sized explode over character
    positions; the full iterated BPE trainer repeats this step with a
    merge table, each step this same shuffle shape."""
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split(F.lower("text"), "\\s+"))
                         .alias("w"))
             .filter(F.col("w") != ""))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # single-char words carry no pairs — and MUST be filtered before
    # the position sequence: Spark's sequence(1, 0) is DESCENDING
    # [1, 0] where DuckDB's generate_series(1, 0) is empty
    pairs = (wc.filter(F.length("w") >= 2)
             .select("n", F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1), "
                 "i -> substring(w, i, 2))")).alias("pair"))
             .groupBy("pair")
             .agg(F.sum("n").alias("pair_count")))
    return (pairs.orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(20))


BPE1_ORACLE = r"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents) WHERE w <> ''),
wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, SUM(n) AS pair_count
  FROM (SELECT w, n, unnest(generate_series(1, len(w) - 1)) AS i
        FROM wc)
  GROUP BY pair)
SELECT pair, CAST(pair_count AS BIGINT) AS pair_count
FROM pairs ORDER BY pair_count DESC, pair ASC LIMIT 20
"""


def bpe2_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATED BPE trainer (bpe1 is its single step): 10 merge
    rounds over the corpus vocabulary — count adjacent symbol pairs
    weighted by word frequency, fold the winning pair into every word,
    repeat (llm/text.py:bpe_merges, the checkpointed-loop pattern).
    Greedy left-to-right merge order is exactly ``replace`` semantics
    in both engines, so the unrolled-CTE oracle replays every round
    bit-for-bit.  Work per round is vocabulary-bounded."""
    from axonops_schema_registry_spark.llm.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, "text", k=10).orderBy("step")


def _bpe2_oracle(k: int = 10) -> str:
    """Unrolled k-round DuckDB twin of bpe_merges: v0 is the symbolized
    vocabulary; each round i derives pair counts p{i}, winner t{i}, and
    merged vocabulary v{i} = replace over v{i-1}."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    syms = f"string_split(trim(s, {sep}), {sep2})"
    # every v{i} is referenced twice (p{i+1} and v{i+1}) — without
    # MATERIALIZED DuckDB re-inlines the whole chain per reference and
    # the corpus groupBy runs ~2k times (9.4 s -> 0.3 s measured).
    # Symbols are wrapped SEP·sym·SEP (double SEP between symbols) so
    # the merge replace is anchored on both ends — see llm/text.py
    # bpe_merges.
    ctes = [f"""v0 AS MATERIALIZED (
  SELECT {sep} || array_to_string(string_split(w, ''), {sep2})
           || {sep} AS s, n
  FROM (SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+'))
                AS w FROM documents)
        WHERE w <> '' GROUP BY w))"""]
    for i in range(1, k + 1):
        ctes.append(f"""p{i} AS (
  SELECT syms[j] AS lhs, syms[j + 1] AS rhs, SUM(n) AS c
  FROM (SELECT {syms} AS syms, n,
               unnest(generate_series(
                   1, len({syms}) - 1)) AS j
        FROM v{i - 1})
  GROUP BY lhs, rhs)""")
        ctes.append(f"""t{i} AS (
  SELECT lhs, rhs, c FROM p{i} ORDER BY c DESC, lhs, rhs LIMIT 1)""")
        ctes.append(f"""v{i} AS MATERIALIZED (
  SELECT replace(s, {sep} || lhs || {sep2} || rhs || {sep},
                 {sep} || lhs || rhs || {sep}) AS s, n
  FROM v{i - 1}, t{i})""")
    selects = [f"SELECT {i} AS step, lhs, rhs, "
               f"CAST(c AS BIGINT) AS pair_count FROM t{i}"
               for i in range(1, k + 1)]
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects) + "\nORDER BY step")


BPE2_ORACLE = _bpe2_oracle(10)


def bpe3_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer story: apply bpe2's learned
    merge table to every document and report whitespace-word vs
    BPE-symbol counts per doc (llm/text.py:bpe_tokenize_counts).
    Training and encoding share the greedy replace semantics, so the
    oracle extends bpe2's CTE chain with a per-word apply chain and a
    doc-level rollup — the whole train→encode loop is hash-checked."""
    from axonops_schema_registry_spark.llm.text import (
        bpe_tokenize_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (bpe_tokenize_counts(docs, "doc_id", "text", k=10)
            .orderBy("doc_id"))


def _bpe3_oracle(k: int = 10) -> str:
    """bpe2's train chain + a w-keyed apply chain e0..e{k} + per-doc
    rollup.  Self-contained (regenerates the train CTEs) so the two
    oracle strings stay independently readable."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    syms = f"string_split(trim(s, {sep}), {sep2})"
    ctes = [f"""words AS MATERIALIZED (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text),
               '\\s+')) AS w FROM documents)
  WHERE w <> '')""", f"""v0 AS MATERIALIZED (
  SELECT {sep} || array_to_string(string_split(w, ''), {sep2})
           || {sep} AS s, n
  FROM (SELECT w, COUNT(*) AS n FROM words GROUP BY w))"""]
    for i in range(1, k + 1):
        ctes.append(f"""p{i} AS (
  SELECT syms[j] AS lhs, syms[j + 1] AS rhs, SUM(n) AS c
  FROM (SELECT {syms} AS syms, n,
               unnest(generate_series(
                   1, len({syms}) - 1)) AS j
        FROM v{i - 1})
  GROUP BY lhs, rhs)""")
        ctes.append(f"""t{i} AS (
  SELECT lhs, rhs FROM p{i} ORDER BY c DESC, lhs, rhs LIMIT 1)""")
        ctes.append(f"""v{i} AS MATERIALIZED (
  SELECT replace(s, {sep} || lhs || {sep2} || rhs || {sep},
                 {sep} || lhs || rhs || {sep}) AS s, n
  FROM v{i - 1}, t{i})""")
    ctes.append(f"""e0 AS MATERIALIZED (
  SELECT w, {sep} || array_to_string(string_split(w, ''), {sep2})
              || {sep} AS s
  FROM (SELECT DISTINCT w FROM words))""")
    for i in range(1, k + 1):
        ctes.append(f"""e{i} AS MATERIALIZED (
  SELECT w, replace(s, {sep} || lhs || {sep2} || rhs || {sep},
                    {sep} || lhs || rhs || {sep}) AS s
  FROM e{i - 1}, t{i})""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(trim(e.s, {sep}), {sep2})))
            AS BIGINT) AS n_bpe_tokens
FROM words JOIN e{k} e USING (w)
GROUP BY doc_id ORDER BY doc_id""")


BPE3_ORACLE = _bpe3_oracle(10)


def bpe4_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source (the metric every tokenizer
    paper reports per domain — symbols per word and characters per
    symbol): bpe3's encode pass (llm/text.py:bpe_tokenize_counts,
    the k=10 merge table trained on THIS corpus) rolled up per
    source with exact integer per-100 ratios.  High fertility =
    the tokenizer fragments that domain (costly context); the
    dashboard row that decides whether a domain needs its own merges.
    The oracle extends bpe3's self-contained train→encode CTE chain
    with a per-source rollup — the whole loop stays hash-checked."""
    from axonops_schema_registry_spark.llm.text import (
        bpe_tokenize_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = bpe_tokenize_counts(docs, "doc_id", "text", k=10)
    chars = docs.select(
        "doc_id", "source",
        F.expr("aggregate(filter(split(lower(text), '\\\\s+'), "
               "w -> w != ''), CAST(0 AS BIGINT), "
               "(a, w) -> a + length(w))").alias("__nc"))
    return (counts.join(chars, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("__nc").cast("bigint").alias("n_chars"),
                 F.sum("n_bpe_tokens").cast("bigint")
                 .alias("n_bpe_tokens"))
            .withColumn("tokens_per_100_words",
                        F.expr("(100 * n_bpe_tokens) DIV n_words"))
            .withColumn("chars_per_100_tokens",
                        F.expr("(100 * n_chars) DIV n_bpe_tokens"))
            .orderBy("source"))


def _bpe4_oracle(k: int = 10) -> str:
    """bpe3's chain + per-doc stats + per-source fertility rollup."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    chain = _bpe3_oracle(k)
    prefix = chain[:chain.rindex("\nSELECT doc_id,")]
    return (prefix + f""",
docstats AS (
  SELECT doc_id, COUNT(*) AS nw, SUM(len(w)) AS nc,
         SUM(len(string_split(trim(e.s, {sep}), {sep2}))) AS nt
  FROM words JOIN e{k} e USING (w)
  GROUP BY doc_id)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
       CAST((100 * SUM(nt)) // SUM(nw) AS BIGINT)
         AS tokens_per_100_words,
       CAST((100 * SUM(nc)) // SUM(nt) AS BIGINT)
         AS chars_per_100_tokens
FROM docstats ds JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source""")


BPE4_ORACLE = _bpe4_oracle(10)


def es1_exact_substring_spans(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Substring-granular dedup (llm/dedup.py:duplicated_span_islands
    — Lee et al. 2021 ExactSubstr at 8-gram resolution): every maximal
    run of positions whose 8-gram occurs >= 2 times corpus-wide, as
    (doc_id, start_pos, end_pos, n_words) spans — what a pipeline cuts
    OUT of documents, complementing document-level (dd*) and
    boilerplate-df (bp1) dedup.  Gaps-and-islands window shape:
    pos - row_number() is constant within a consecutive run."""
    from axonops_schema_registry_spark.llm.dedup import (
        duplicated_span_islands,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (duplicated_span_islands(docs, "doc_id", "text",
                                    k=8, min_count=2)
            .select(F.col("id").alias("doc_id"), "start_pos",
                    "end_pos", "n_words")
            .orderBy("doc_id", "start_pos"))


ES1_ORACLE = """
WITH pg AS (
  SELECT doc_id AS id, i AS pos,
         array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents)),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) >= 2),
dpos AS (SELECT id, pos FROM pg JOIN dup USING (gram)),
isl AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
  FROM dpos)
SELECT id AS doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(pos) AS BIGINT) AS end_pos,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS n_words
FROM isl GROUP BY id, grp ORDER BY doc_id, start_pos
"""


def es1h_exact_substring_spans_hashed(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """es1's 100 TB form (VERDICT r10 ask #2): identical ExactSubstr
    span computation with ``hash_grams=True`` — the k-gram occurrence
    count AND the duplicated-position join shuffle fixed 8-byte
    xxhash64 keys instead of ~9-word strings (~5x narrower shuffle at
    k=8, 0.65x wall at 10x in docs/SCALING.md).  Output is pinned
    EQUAL to es1's raw-string path in pytest
    (tests/test_llm_ops.py::test_span_islands_hash_grams_path_is_
    equivalent and the spec-level twin in test_bench_variants.py), so
    this spec carries no oracle of its own — it exists so the shape
    you'd actually run at scale gets round-over-round bench tracking,
    not just the oracle-replayable raw-key form."""
    from axonops_schema_registry_spark.llm.dedup import (
        duplicated_span_islands,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (duplicated_span_islands(docs, "doc_id", "text",
                                    k=8, min_count=2, hash_grams=True)
            .select(F.col("id").alias("doc_id"), "start_pos",
                    "end_pos", "n_words")
            .orderBy("doc_id", "start_pos"))


def es2_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT step (llm/dedup.py:remove_duplicated_spans
    — Lee et al. 2021's pipeline actually editing the corpus): every
    word position covered by an es1 island is removed from its
    document (all occurrences, the symmetric policy), emitting the
    cleaned text plus removal accounting per document.  The islands
    subgraph is es1's; the cut adds one doc-keyed shuffle (per-doc
    span array) and a single row-local higher-order-function scan of
    the word array — no second corpus explode.  ``hash_grams=True``
    (r19, VERDICT r18 ask #5): the islands' gram-keyed shuffles carry
    8-byte xxhash64 keys instead of ~9-word strings — the 100 TB form
    — while the OUTPUT stays identical to the raw-key path (pinned in
    tests/test_llm_ops.py::test_span_islands_hash_grams_path_is_
    equivalent plus the es2-level twin pin in test_bench_variants.py),
    so the raw-string DuckDB oracle still replays the result verbatim;
    only es1 itself keeps raw keys, being the spec that pins the
    raw-key plan shape."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (remove_duplicated_spans(docs, "doc_id", "text",
                                    k=8, min_count=2, hash_grams=True)
            .select(F.col("id").alias("doc_id"), "n_words",
                    "n_removed", "cleaned_text")
            .orderBy("doc_id"))


ES2_ORACLE = """
WITH pg AS (
  SELECT doc_id AS id, i AS pos,
         array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents)),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) >= 2),
dpos AS (SELECT id, pos FROM pg JOIN dup USING (gram)),
isl AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
  FROM dpos),
spans AS (
  SELECT id, MIN(pos) AS start_pos, MAX(pos) + 7 AS cov_end
  FROM isl GROUP BY id, grp),
words AS (
  SELECT doc_id AS id, i, string_split(text, ' ')[i] AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' '))))
                 AS i
        FROM documents)),
covered AS (
  SELECT DISTINCT w.id, w.i
  FROM words w JOIN spans s
    ON w.id = s.id AND w.i BETWEEN s.start_pos AND s.cov_end)
SELECT w.id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN c.i IS NULL THEN w.w END, ' '
                           ORDER BY w.i), '') AS cleaned_text
FROM words w LEFT JOIN covered c ON w.id = c.id AND w.i = c.i
GROUP BY w.id ORDER BY doc_id
"""


def es3_decontamination_cut(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Cross-corpus ExactSubstr decontamination CUT
    (llm/dedup.py:remove_contaminated_spans — Lee et al. 2021's
    machinery applied between train and eval, the span-level
    completion of ctm1's collision counts): every train word position
    whose 8-gram occurs anywhere in the held-out 'src1' slice is
    removed from its document, emitting cleaned text + removal
    accounting for EVERY train document.  The eval gram set is one
    distinct over the small slice (AQE broadcasts it); the membership
    join is gram-keyed and amplification-free."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_contaminated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    test = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    return (remove_contaminated_spans(train, test, "doc_id", "text",
                                      k=8)
            .select(F.col("id").alias("doc_id"), "n_words",
                    "n_removed", "cleaned_text")
            .orderBy("doc_id"))


ES3_ORACLE = """
WITH pg AS (
  SELECT doc_id AS id, i AS pos,
         array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents WHERE source <> 'src1')),
eg AS (
  SELECT DISTINCT
         array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents WHERE source = 'src1')),
dpos AS (SELECT id, pos FROM pg JOIN eg USING (gram)),
isl AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
  FROM dpos),
spans AS (
  SELECT id, MIN(pos) AS start_pos, MAX(pos) + 7 AS cov_end
  FROM isl GROUP BY id, grp),
words AS (
  SELECT doc_id AS id, i, string_split(text, ' ')[i] AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' '))))
                 AS i
        FROM documents WHERE source <> 'src1')),
covered AS (
  SELECT DISTINCT w.id, w.i
  FROM words w JOIN spans s
    ON w.id = s.id AND w.i BETWEEN s.start_pos AND s.cov_end)
SELECT w.id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN c.i IS NULL THEN w.w END, ' '
                           ORDER BY w.i), '') AS cleaned_text
FROM words w LEFT JOIN covered c ON w.id = c.id AND w.i = c.i
GROUP BY w.id ORDER BY doc_id
"""


def ln1_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet keep-first paragraph dedup (llm/dedup.py:line_dedup —
    Wenzek et al. 2020's per-paragraph hash dedup, the policy CCNet
    and the C4 line filters apply BEFORE document-level dedup ever
    runs): the corpus is segmented into deterministic 10-word blocks
    (its "paragraphs" — this corpus carries no newline structure),
    every block duplicated corpus-wide keeps only its first
    occurrence (smallest (doc_id, block_idx)), and each document
    comes back cleaned with removal accounting.  The asymmetric
    keep-first policy is the deliberate contrast with es2's
    symmetric cut-all-occurrences ExactSubstr edit — boilerplate
    survives exactly once instead of vanishing entirely.

    Scale shape: one row-local segmentation off the scan,
    first-occurrence election via block-keyed groupBy whose min runs
    over the packed BIGINT ``doc_id*2^20 + block_idx`` (a struct-min
    would plan as SortAggregate; the packed long stays HashAggregate
    end-to-end, and is skew-robust where a window over a hot
    boilerplate key would sort one task),
    one block-keyed join back, one doc-keyed reassembly shuffle.
    The hash_blocks narrow-key twin is pinned output-identical in
    tests/test_llm_ops.py."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return (line_dedup(docs, "doc_id", "text",
                       block_words=10, min_block_words=5)
            .select(F.col("id").alias("doc_id"), "n_blocks",
                    "n_removed", "cleaned_text")
            .orderBy("doc_id"))


LN1_ORACLE = """
WITH ws AS (SELECT doc_id AS id, string_split(text, ' ') AS w
            FROM documents),
blocks AS (
  SELECT id, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM ws)),
keepflag AS (
  SELECT id, block_idx, btext,
         (bwords < 5 OR
          row_number() OVER (PARTITION BY btext
                             ORDER BY id, block_idx) = 1) AS keep
  FROM blocks)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN keep THEN btext END, ' '
                           ORDER BY block_idx), '') AS cleaned_text
FROM keepflag GROUP BY id ORDER BY doc_id
"""


def ln2_line_decontamination(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Cross-corpus line decontamination (llm/dedup.py:
    line_decontaminate — ln1's es3-shaped sibling): every TRAIN
    document (source != 'src1', the es3/ctm held-out convention)
    loses any 10-word block whose text appears as a block anywhere in
    the evaluation slice (source == 'src1'); eval documents are never
    modified.  The coarse block-granular decontamination a pipeline
    runs when eval sets are paragraph-structured; es3's positioned
    8-gram islands are the escalation that also catches spans
    straddling block boundaries.  Scale shape: eval block set is one
    distinct over the small slice, membership join amplification-free
    (one row per distinct eval block), AQE broadcasts it."""
    from axonops_schema_registry_spark.llm.dedup import (
        line_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src1")
    ev = docs.filter(F.col("source") == "src1")
    return (line_decontaminate(train, ev, "doc_id", "text",
                               block_words=10, min_block_words=5)
            .select(F.col("id").alias("doc_id"), "n_blocks",
                    "n_removed", "cleaned_text")
            .orderBy("doc_id"))


LN2_ORACLE = """
WITH ws AS (SELECT doc_id AS id, source, string_split(text, ' ') AS w
            FROM documents),
blocks AS (
  SELECT id, source, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, source, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM ws)),
ev AS (SELECT DISTINCT btext FROM blocks
       WHERE source = 'src1' AND bwords >= 5),
keepflag AS (
  SELECT id, block_idx, btext,
         (bwords < 5 OR btext NOT IN (SELECT btext FROM ev)) AS keep
  FROM blocks WHERE source <> 'src1')
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN keep THEN btext END, ' '
                           ORDER BY block_idx), '') AS cleaned_text
FROM keepflag GROUP BY id ORDER BY doc_id
"""


def kd1_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile (llm/dedup.py:gram_key_profile) over
    the 8-gram key the ExactSubstr family (es1/es2/es3/ctm4) groups
    and joins on — the diagnostic a 100 TB run consults BEFORE
    launching those jobs to size salting / AQE skew handling: the 20
    hottest grams with rank, occurrence count, and exact
    parts-per-million share (BIGINT division), plus corpus totals on
    every row.  The operational-diagnostics row next to zf1's
    vocabulary health card: zf1 reads token-frequency shape, this
    reads JOIN-KEY concentration."""
    from axonops_schema_registry_spark.llm.dedup import (
        gram_key_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gram_key_profile(docs, "doc_id", "text", k=8, top_n=20) \
        .orderBy("rank")


KD1_ORACLE = """
WITH pg AS (
  SELECT array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents)),
counts AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM pg GROUP BY gram),
totals AS (
  SELECT CAST(SUM(n_occurrences) AS BIGINT) AS n_positions,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_grams
  FROM counts),
top AS (
  SELECT gram, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, gram) AS rank
  FROM counts ORDER BY n_occurrences DESC, gram LIMIT 20)
SELECT CAST(rank AS BIGINT) AS rank, gram AS gram_text, n_occurrences,
       CAST((1000000 * n_occurrences) // n_positions AS BIGINT) AS ppm,
       n_positions, n_distinct_grams
FROM top, totals ORDER BY rank
"""


def kd2_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy skew profile (llm/dedup.py:
    lsh_bucket_profile) — kd1's sibling one stage later: candidate
    pairs per bucket grow quadratically with occupancy, so this is
    the measurement behind minhash_lsh_pairs' / the dedup stores'
    ``max_bucket`` rank cap.  Top-20 hottest buckets by candidate-pair
    count with exact ppm pair share + corpus totals.  The band keys
    are xxhash64-composed, so there is deliberately no DuckDB oracle
    (the es1h/dd6b class — rows-only at the driver); the aggregation
    is pinned structurally in tests/test_llm_ops.py against a replay
    over minhash_band_buckets' own output and a planted
    identical-docs corpus."""
    from axonops_schema_registry_spark.llm.dedup import (
        lsh_bucket_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    return lsh_bucket_profile(docs, "doc_id", "text", ngram=3,
                              n_hashes=64, bands=16,
                              top_n=20).orderBy("rank")


def dsir1_importance_selection(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """DSIR data selection (llm/sampling.py:dsir_log_weights — Xie et
    al. 2023): hashed unigram+bigram bucket LMs fitted on a target
    slice (source = 'src0') and on the whole pool, every document
    scored by its log importance ratio, the top 50 kept — the
    resampling step.  The ratio table is ≤ n_buckets rows and
    broadcast; the final top-N is orderBy+limit (TakeOrdered — no
    global sort materializes at scale)."""
    from axonops_schema_registry_spark.llm.sampling import (
        dsir_log_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0").select("doc_id")
    return (dsir_log_weights(docs, target, n_buckets=4096)
            .orderBy(F.desc("log_weight"), "doc_id")
            .limit(50))


DSIR1_ORACLE = r"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS a
            FROM documents),
uni AS (SELECT doc_id, unnest(a) AS f FROM ws),
bi AS (
  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS f
  FROM (SELECT doc_id, a,
               unnest(generate_series(1, greatest(len(a) - 1, 0)))
                 AS i
        FROM ws)),
feat AS MATERIALIZED (
  SELECT doc_id AS id,
         CAST(concat('0x', substr(md5(f), 1, 12)) AS BIGINT)
           % 4096 AS b,
         COUNT(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY id, b),
raw AS (SELECT b, SUM(cnt) AS cr FROM feat GROUP BY b),
tgt AS (SELECT b, SUM(cnt) AS ct
        FROM feat JOIN documents d ON feat.id = d.doc_id
        WHERE d.source = 'src0' GROUP BY b),
nrt AS (SELECT (SELECT SUM(cr) FROM raw) AS nr,
               (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt),
lr AS (
  SELECT b,
         CAST(round((ln(COALESCE(ct, 0) + 1) - ln(nt + 4096))
                    - (ln(cr + 1) - ln(nr + 4096)), 6)
              AS DECIMAL(18,6)) AS lr
  FROM raw LEFT JOIN tgt USING (b), nrt)
SELECT id AS doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       CAST(SUM(lr * cnt) AS DOUBLE) AS log_weight
FROM feat JOIN lr USING (b)
GROUP BY id
ORDER BY log_weight DESC, doc_id LIMIT 50
"""


def qf1_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality classifier
    (llm/sampling.py:quality_filter_scores — the fastText-style
    filter CCNet/GPT-3-class pipelines score crawl documents with
    before mixing, Wenzek et al. 2020 §4.3 / Brown et al. 2020 app.
    A): DSIR's hashed unigram+bigram buckets carry closed-form
    naive-Bayes log-count-ratio weights (NBSVM, Wang & Manning 2012)
    fitted against the deterministic src0 reference slice, in integer
    micro-units so every per-document score is an exact BIGINT dot
    product.  Emits the per-document (n_feats, score_micro, keep)
    verdict — the keep flag the mixture stage consumes.

    Scale shape: weight table ≤ 4096 rows broadcast; the fit is two
    bucket aggregates over ONE materialized feature frame (no second
    corpus scan for the negative slice — its counts are
    pool-minus-positive per bucket); scoring is a broadcast join +
    id-keyed sum."""
    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source") == "src0").select("doc_id")
    return (quality_filter_scores(docs, pos, n_buckets=4096)
            .orderBy("doc_id"))


QF1_ORACLE = r"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS a
            FROM documents),
uni AS (SELECT doc_id, unnest(a) AS f FROM ws),
bi AS (
  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS f
  FROM (SELECT doc_id, a,
               unnest(generate_series(1, greatest(len(a) - 1, 0)))
                 AS i
        FROM ws)),
feat AS MATERIALIZED (
  SELECT doc_id AS id,
         CAST(concat('0x', substr(md5(f), 1, 12)) AS BIGINT)
           % 4096 AS b,
         COUNT(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY id, b),
allc AS (SELECT b, SUM(cnt) AS ca FROM feat GROUP BY b),
pos AS (SELECT b, SUM(cnt) AS cp
        FROM feat JOIN documents d ON feat.id = d.doc_id
        WHERE d.source = 'src0' GROUP BY b),
nn AS (SELECT (SELECT SUM(ca) FROM allc) AS na,
              (SELECT COALESCE(SUM(cp), 0) FROM pos) AS np),
w AS (
  SELECT b,
         CAST(floor(((ln(COALESCE(cp, 0) + 1) - ln(np + 4096))
                     - (ln(ca - COALESCE(cp, 0) + 1)
                        - ln(na - np + 4096))) * 1000000)
              AS BIGINT) AS w
  FROM allc LEFT JOIN pos USING (b), nn)
SELECT id AS doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
       CAST(SUM(cnt * w) AS BIGINT) AS score_micro,
       (SUM(cnt * w) > 0) AS keep
FROM feat JOIN w USING (b)
GROUP BY id ORDER BY doc_id
"""


def qf2_quality_gated_mixture(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Classifier-gated mixture — qf1 composed the way CCNet-class
    pipelines actually consume a quality filter (score → select →
    rebalance, the stage order of Wenzek et al. 2020 §4.3 feeding Rae
    et al. 2021's non-proportional sampling): every document gets its
    qf1 NBSVM score against the src0 reference slice, the top 300 by
    score survive (rank selection, the dsir1 resample convention —
    a sign threshold keeps nothing on a deliberately uniform fixture
    corpus), and the temperature mixture (α=0.5, 150-doc budget)
    rebalances the SURVIVORS per source.  One oracle replays the whole
    classifier-fit → rank-gate → quota chain, so the driver
    hash-checks the composition seams, not just the stages (the
    cur2/cur3 convention).

    Scale shape inherits the parts': broadcast ≤4096-row weight
    table, one feature frame feeding fit and scoring, TakeOrdered
    top-300 (the winner set broadcasts into the gate join), quota
    math on a sources-sized aggregate."""
    from axonops_schema_registry_spark.llm.sampling import (
        dataset_mixture,
        quality_filter_scores,
        temperature_quotas,
    )

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source") == "src0").select("doc_id")
    # the 300-row winner set feeds BOTH quota math and the mixture
    # window through `kept`; lazily checkpointed so the classifier
    # scoring runs once, not once per consumer (the ccb1/dsir lesson)
    top = (quality_filter_scores(docs, pos, n_buckets=4096)
           .orderBy(F.desc("score_micro"), "doc_id").limit(300)
           .select("doc_id").localCheckpoint(eager=False))
    kept = docs.join(F.broadcast(top), "doc_id")
    quotas = temperature_quotas(kept, budget=150)
    manifest = dataset_mixture(kept, quotas.select("source", "quota"))
    sel = (manifest.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_selected"),
                F.sum("doc_id").alias("id_checksum"),
                F.max("mix_rank").alias("max_rank")))
    return (quotas.join(sel, "source", "left")
            .select("source", "weight", "quota",
                    F.coalesce("n_selected", F.lit(0)).cast("bigint")
                    .alias("n_selected"),
                    F.coalesce("id_checksum", F.lit(0)).cast("bigint")
                    .alias("id_checksum"),
                    F.coalesce("max_rank", F.lit(0)).cast("bigint")
                    .alias("max_rank"))
            .orderBy("source"))


QF2_ORACLE = r"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS a
            FROM documents),
uni AS (SELECT doc_id, unnest(a) AS f FROM ws),
bi AS (
  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS f
  FROM (SELECT doc_id, a,
               unnest(generate_series(1, greatest(len(a) - 1, 0)))
                 AS i
        FROM ws)),
feat AS MATERIALIZED (
  SELECT doc_id AS id,
         CAST(concat('0x', substr(md5(f), 1, 12)) AS BIGINT)
           % 4096 AS b,
         COUNT(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY id, b),
allc AS (SELECT b, SUM(cnt) AS ca FROM feat GROUP BY b),
pos AS (SELECT b, SUM(cnt) AS cp
        FROM feat JOIN documents d ON feat.id = d.doc_id
        WHERE d.source = 'src0' GROUP BY b),
nn AS (SELECT (SELECT SUM(ca) FROM allc) AS na,
              (SELECT COALESCE(SUM(cp), 0) FROM pos) AS np),
w AS (
  SELECT b,
         CAST(floor(((ln(COALESCE(cp, 0) + 1) - ln(np + 4096))
                     - (ln(ca - COALESCE(cp, 0) + 1)
                        - ln(na - np + 4096))) * 1000000)
              AS BIGINT) AS w
  FROM allc LEFT JOIN pos USING (b), nn),
scored AS (
  SELECT id, CAST(SUM(cnt * w) AS BIGINT) AS score_micro
  FROM feat JOIN w USING (b) GROUP BY id),
kept AS (
  SELECT d.* FROM documents d
  JOIN (SELECT id FROM scored
        ORDER BY score_micro DESC, id LIMIT 300) t
    ON d.doc_id = t.id),
mass AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
  FROM kept GROUP BY source),
wts AS (SELECT source, CAST(FLOOR(SQRT(m)) AS BIGINT) AS weight
        FROM mass),
tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM wts),
quotas AS (
  SELECT source, weight,
         CAST((150 * weight) // total AS INT) AS quota
  FROM wts, tw),
ranked AS (
  SELECT d.source, d.doc_id, q.quota,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY CAST(concat('0x',
                    substr(md5(CAST(d.doc_id AS STRING)), 1, 12))
                    AS BIGINT), d.doc_id) AS mix_rank
  FROM kept d JOIN quotas q USING (source)),
sel AS (
  SELECT source, COUNT(*) AS n_selected,
         CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
         MAX(mix_rank) AS max_rank
  FROM ranked WHERE mix_rank <= quota GROUP BY source)
SELECT q.source, q.weight, q.quota,
       CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(s.id_checksum, 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(s.max_rank, 0) AS BIGINT) AS max_rank
FROM quotas q LEFT JOIN sel s USING (source) ORDER BY q.source
"""


def shard1_export_manifest(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Training-shard export manifest (llm/export.py:shard_manifest):
    deterministic hash sharding (scan-side projection, no shuffle)
    and the per-shard receipt — doc count, token total, id range,
    order-independent 48-bit content checksum — all exact integer
    arithmetic an independent engine reproduces bit-for-bit.  The
    companion writer (write_shards, pytest-pinned) lands
    ``shard_id=K/`` parquet directories this manifest audits."""
    from axonops_schema_registry_spark.llm.export import shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs, n_shards=16).orderBy("shard_id")


SHARD1_ORACLE = """
WITH sharded AS (
  SELECT doc_id, text,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 12)) AS BIGINT)
              % 16 AS INT) AS shard_id,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                             ':', text)), 1, 12))
              AS BIGINT) AS h
  FROM documents)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       CAST(SUM(h) % 281474976710656 AS BIGINT) AS content_checksum
FROM sharded GROUP BY shard_id ORDER BY shard_id
"""


def cur2_cut_select_export(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The r10 composition capstone — the three new operators chained
    the way a release pipeline runs them: (1) cut every duplicated
    span from the corpus (es2), (2) DSIR-score the CLEANED text
    against the src0 target slice and keep the top 100 (dsir1's
    resample), (3) emit the shard-export manifest of the selected set
    (shard1's receipt).  One DuckDB oracle replays the whole chain, so
    the driver hash-checks the composition, not just the parts.  Scale
    posture inherits the parts': es2's gram-keyed shuffle + doc-keyed
    cut, DSIR's broadcast ratio table, TakeOrdered selection (the
    100-row winner set broadcasts into the final join), manifest's
    scan-side hash + map-side combine."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )
    from axonops_schema_registry_spark.llm.export import shard_manifest
    from axonops_schema_registry_spark.llm.sampling import (
        dsir_log_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    # hash_grams=True (r19): the cut's gram shuffles carry 8-byte keys
    # — output pinned identical to the raw-key path (the es2 twin pin),
    # so the raw-string oracle replay is unaffected.
    cleaned = (remove_duplicated_spans(docs, "doc_id", "text",
                                       k=8, min_count=2,
                                       hash_grams=True)
               .select(F.col("id").alias("doc_id"),
                       F.col("cleaned_text"))
               .join(docs.select("doc_id", "source"), "doc_id"))
    target = (cleaned.filter(F.col("source") == "src0")
              .select("doc_id"))
    top = (dsir_log_weights(cleaned, target, id_col="doc_id",
                            text_col="cleaned_text", n_buckets=4096)
           .orderBy(F.desc("log_weight"), "doc_id").limit(100)
           .select("doc_id"))
    selected = cleaned.join(F.broadcast(top), "doc_id")
    return (shard_manifest(selected, n_shards=8, id_col="doc_id",
                           text_col="cleaned_text")
            .orderBy("shard_id"))


CUR2_ORACLE = r"""
WITH pg AS (
  SELECT doc_id AS id, i AS pos,
         array_to_string(string_split(text, ' ')[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, text,
               unnest(generate_series(1,
                   greatest(len(string_split(text, ' ')) - 7, 0))) AS i
        FROM documents)),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) >= 2),
dpos AS (SELECT id, pos FROM pg JOIN dup USING (gram)),
isl AS (
  SELECT id, pos,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
  FROM dpos),
spans AS (
  SELECT id, MIN(pos) AS start_pos, MAX(pos) + 7 AS cov_end
  FROM isl GROUP BY id, grp),
words AS (
  SELECT doc_id AS id, i, string_split(text, ' ')[i] AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' '))))
                 AS i
        FROM documents)),
covered AS (
  SELECT DISTINCT w.id, w.i
  FROM words w JOIN spans s
    ON w.id = s.id AND w.i BETWEEN s.start_pos AND s.cov_end),
cleaned AS MATERIALIZED (
  SELECT w.id AS doc_id,
         COALESCE(string_agg(CASE WHEN c.i IS NULL THEN w.w END, ' '
                             ORDER BY w.i), '') AS text
  FROM words w LEFT JOIN covered c ON w.id = c.id AND w.i = c.i
  GROUP BY w.id),
cws AS (SELECT doc_id, string_split(text, ' ') AS a FROM cleaned),
uni AS (SELECT doc_id, unnest(a) AS f FROM cws),
bi AS (
  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS f
  FROM (SELECT doc_id, a,
               unnest(generate_series(1, greatest(len(a) - 1, 0)))
                 AS i
        FROM cws)),
feat AS MATERIALIZED (
  SELECT doc_id AS id,
         CAST(concat('0x', substr(md5(f), 1, 12)) AS BIGINT)
           % 4096 AS b,
         COUNT(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY id, b),
raw AS (SELECT b, SUM(cnt) AS cr FROM feat GROUP BY b),
tgt AS (SELECT b, SUM(cnt) AS ct
        FROM feat JOIN documents d ON feat.id = d.doc_id
        WHERE d.source = 'src0' GROUP BY b),
nrt AS (SELECT (SELECT SUM(cr) FROM raw) AS nr,
               (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt),
lr AS (
  SELECT b,
         CAST(round((ln(COALESCE(ct, 0) + 1) - ln(nt + 4096))
                    - (ln(cr + 1) - ln(nr + 4096)), 6)
              AS DECIMAL(18,6)) AS lr
  FROM raw LEFT JOIN tgt USING (b), nrt),
top AS (
  SELECT id AS doc_id
  FROM feat JOIN lr USING (b)
  GROUP BY id
  ORDER BY CAST(SUM(lr * cnt) AS DOUBLE) DESC, id LIMIT 100),
sel AS (SELECT c.doc_id, c.text FROM cleaned c JOIN top USING (doc_id)),
sharded AS (
  SELECT doc_id, text,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 12)) AS BIGINT)
              % 8 AS INT) AS shard_id,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                             ':', text)), 1, 12))
              AS BIGINT) AS h
  FROM sel)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       CAST(SUM(h) % 281474976710656 AS BIGINT) AS content_checksum
FROM sharded GROUP BY shard_id ORDER BY shard_id
"""


def qs1_length_quantiles(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Per-source corpus length quantiles (p50/p90/p99 of n_chars,
    linear interpolation) — the length-distribution panel of a
    dataset card.  Exact percentile here (sort-based within each
    source group) so DuckDB's ``quantile_cont`` replays it
    bit-for-bit; the 100 TB path swaps in ``percentile_approx``
    (Spark's KLL-family sketch: mergeable, one pass, bounded state —
    pinned within its accuracy bound against this exact operator in
    pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
                 .alias("__p"))
            .select("source", "n_docs",
                    F.col("__p")[0].alias("p50"),
                    F.col("__p")[1].alias("p90"),
                    F.col("__p")[2].alias("p99"))
            .orderBy("source"))


QS1_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       quantile_cont(n_chars, 0.99) AS p99
FROM documents GROUP BY source ORDER BY source
"""


def gq1_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (llm/text.py:gopher_stats/rules — Rae
    et al. 2021 §A1.1): the five shape heuristics per document, rolled
    up per source as rule-level failure counts.  Every ratio divides
    two exact integers as doubles, so Spark and DuckDB agree
    bit-for-bit."""
    from axonops_schema_registry_spark.llm.text import (
        gopher_rules,
        gopher_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select("source", *gopher_stats("text"))
    rules = gopher_rules(F.col("n_words"), F.col("mean_word_len"),
                         F.col("symbol_ratio"), F.col("alpha_frac"),
                         F.col("stop_hits"))
    flagged = stats.select(
        "source",
        *[v.alias(k) for k, v in rules.items()],
    ).withColumn("ok_all", F.expr(" AND ".join(rules)))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("ok_all").cast("int")).alias("n_pass"),
                 *[F.sum((~F.col(k)).cast("int")).alias(f"n_fail_{k[3:]}")
                   for k in rules])
            .orderBy("source"))


GQ1_ORACLE = r"""
WITH stats AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '),
                                      w -> len(w))) AS BIGINT) AS sum_len,
         CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
         CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
           AS n_ellipsis,
         CAST(len(list_filter(string_split(text, ' '),
                              w -> regexp_matches(w, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
           AS stop_hits
  FROM documents),
rules AS (
  SELECT source,
         (n_words BETWEEN 50 AND 100000) AS ok_words,
         (CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
            BETWEEN 3.0 AND 10.0) AS ok_mean_len,
         (CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE)
            < 0.1) AS ok_symbols,
         (CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.8)
           AS ok_alpha,
         (stop_hits >= 2) AS ok_stop
  FROM stats)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ok_words AND ok_mean_len AND ok_symbols
                      AND ok_alpha AND ok_stop THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_words,
       CAST(SUM(CASE WHEN NOT ok_mean_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_mean_len,
       CAST(SUM(CASE WHEN NOT ok_symbols THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_symbols,
       CAST(SUM(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_alpha,
       CAST(SUM(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_stop
FROM rules GROUP BY source ORDER BY source
"""


def tx9_encoding_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-quality audit (llm/text.py:encoding_scan —
    the mojibake/control-char gate CCNet's charset checks and Dolma's
    quality taggers run before any text operator).  The synthetic
    corpus is clean ASCII, so bad characters are PLANTED
    deterministically (the cur1 PII convention — the audit must be
    observable): doc_id % 11 == 0 gains two U+FFFD replacement chars,
    == 1 a BEL control, == 2 a zero-width space.  Counting is
    length minus translate-stripped length — ``translate`` has
    identical semantics in both engines, zero regex-dialect risk."""
    from axonops_schema_registry_spark.llm.text import encoding_scan

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 11 == 0,
                        F.lit("��"))
                 .when(F.col("doc_id") % 11 == 1, F.lit("\x07"))
                 .when(F.col("doc_id") % 11 == 2, F.lit("​"))
                 .otherwise(F.lit(""))))
    return encoding_scan(planted).orderBy("source")


# the oracle's translate set is BUILT FROM the same BAD_CHARS constant
# the Spark side strips (chr() composition keeps raw control bytes out
# of the SQL text)
def _tx9_oracle() -> str:
    from axonops_schema_registry_spark.llm.text import BAD_CHARS

    bad = " || ".join(f"chr({ord(c)})" for c in BAD_CHARS)
    return f"""
WITH planted AS (
  SELECT source, text ||
         CASE CAST(doc_id % 11 AS INT)
           WHEN 0 THEN chr(65533) || chr(65533)
           WHEN 1 THEN chr(7)
           WHEN 2 THEN chr(8203)
           ELSE '' END AS text
  FROM documents),
b AS (
  SELECT source,
         length(text) - length(translate(text, {bad}, '')) AS nb
  FROM planted)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(nb) AS BIGINT) AS n_bad_chars,
       CAST((1000 * SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS flagged_per_mille
FROM b GROUP BY source ORDER BY source
"""


TX9_ORACLE = _tx9_oracle()


def tx8_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization audit (llm/text.py:normalize_text):
    case/control/whitespace variants are planted on every 5th document
    so the pass is observable, then normalized — per-doc before/after
    lengths, a changed flag, and the normalized content hash (what a
    dedup stage would fingerprint)."""
    from axonops_schema_registry_spark.llm.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("  NOISY"), F.expr("char(9)"),
                        F.lit("Header "), F.expr("char(1)"),
                        F.lit(" "), F.col("text"), F.lit("  ")))
        .otherwise(F.col("text")))
    return (planted.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_before"),
        F.length(normalize_text("text")).cast("bigint")
        .alias("n_after"),
        (normalize_text("text") != F.col("text")).alias("changed"),
        F.sha2(normalize_text("text"), 256).alias("norm_hash"))
        .orderBy("doc_id"))


def _tx8_norm_sql() -> str:
    from axonops_schema_registry_spark.llm.text import normalize_text_sql

    return normalize_text_sql("text")


TX8_ORACLE = rf"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           '  NOISY' || chr(9) || 'Header ' || chr(1) || ' ' || text
           || '  '
         ELSE text END AS text
  FROM documents),
norm AS (
  SELECT doc_id, text, {_tx8_norm_sql()} AS n
  FROM planted)
SELECT doc_id,
       CAST(len(text) AS BIGINT) AS n_before,
       CAST(len(n) AS BIGINT) AS n_after,
       (n <> text) AS changed,
       sha256(n) AS norm_hash
FROM norm ORDER BY doc_id
"""


def wn1_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (llm/dedup.py:winnowing_fingerprints —
    Schleimer et al. 2003, the MOSS algorithm): per-document selected
    fingerprint counts + exact checksum over 3-gram hashes winnowed
    with window 4.  The portable 48-bit hash lets the oracle replay
    the rightmost-minimum selection bit-for-bit."""
    from axonops_schema_registry_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    prints = winnowing_fingerprints(docs, "doc_id", "text", k=3, w=4)
    # mod-reduced checksum: a raw SUM of 48-bit hashes overflows int64
    # near ~32k prints per doc (Spark raises under ANSI; DuckDB widens
    # to HUGEINT — a guaranteed engine divergence on long documents)
    return (prints.groupBy(F.col("id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_prints"),
                 F.sum(F.pmod(F.col("print_hash"), F.lit(1000000007)))
                 .alias("print_checksum"),
                 F.min("pos").alias("first_pos"),
                 F.max("pos").alias("last_pos"))
            .orderBy("doc_id"))


WN1_ORACLE = """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(words) - 2),
             i -> CAST(concat('0x', substr(md5(
                  array_to_string(words[i:i+2], ' ')), 1, 12))
                  AS BIGINT)) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS words
        FROM documents)),
w1 AS (
  SELECT doc_id, h,
         unnest(generate_series(1, greatest(len(h) - 3, 0))) AS p
  FROM g),
w2 AS (
  SELECT doc_id, h, p, unnest(generate_series(p, p + 3)) AS j
  FROM w1),
ranked AS (
  SELECT doc_id, p, j, h[CAST(j AS INT)] AS hv,
         row_number() OVER (PARTITION BY doc_id, p
                            ORDER BY h[CAST(j AS INT)] ASC, j DESC)
           AS rn
  FROM w2),
sel AS (
  SELECT DISTINCT doc_id, j AS pos, hv AS print_hash
  FROM ranked WHERE rn = 1)
SELECT doc_id, COUNT(*) AS n_prints,
       CAST(SUM(print_hash % 1000000007) AS BIGINT) AS print_checksum,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CAST(MAX(pos) AS BIGINT) AS last_pos
FROM sel GROUP BY doc_id ORDER BY doc_id
"""


def rel1_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset RELEASE report — the capstone rollup a training run
    signs off on, composing the whole curation family in one job
    (llm.CurationPipeline.release_report): first-wins near-dup flags
    (dd7), benchmark decontamination vs the held-out 'src1' slice
    (ctm1), Gopher quality gate (gq1), and PII incidence (tx7, planted
    as in cur1), rolled up per source with the released document/token
    counts.  Every constituent operator is independently
    driver-verified; this spec pins their COMPOSITION."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
            .when(F.col("doc_id") % 7 == 1, F.lit(" call 555-867-5309"))
            .when(F.col("doc_id") % 7 == 2, F.lit(" ssn 078-05-1120"))
            .otherwise(F.lit(""))))
    test = planted.filter(F.col("source") == "src1")
    train = planted.filter(F.col("source") != "src1")
    return (CurationPipeline(train).release_report(test)
            .orderBy("source"))


REL1_ORACLE = r"""
WITH planted AS (
  SELECT doc_id, source, text ||
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS STRING)
                       || '@example.com'
           WHEN 1 THEN ' call 555-867-5309'
           WHEN 2 THEN ' ssn 078-05-1120'
           ELSE '' END AS text
  FROM documents),
train AS (SELECT * FROM planted WHERE source <> 'src1'),
test AS (SELECT * FROM planted WHERE source = 'src1'),
toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM train),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
dedup AS (
  SELECT d.doc_id, MIN(p.id_a) IS NOT NULL AS is_dup
  FROM train d LEFT JOIN dup_pairs p ON p.id_b = d.doc_id
  GROUP BY d.doc_id),
spans AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM train),
tspans AS (
  SELECT DISTINCT
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM test),
contam AS (
  SELECT s.id AS doc_id, COUNT(DISTINCT s.span) AS n_eval_spans
  FROM spans s JOIN tspans t ON s.span = t.span GROUP BY s.id),
stats AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '),
                                      w -> len(w))) AS BIGINT) AS sum_len,
         CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
         CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
           AS n_ellipsis,
         CAST(len(list_filter(string_split(text, ' '),
                              w -> regexp_matches(w, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
           AS stop_hits,
         len(regexp_extract_all(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
           + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
           + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
           + len(regexp_extract_all(text,
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
           AS n_pii
  FROM train),
per_doc AS (
  SELECT s.doc_id, s.source, s.n_words,
         dd.is_dup,
         COALESCE(c.n_eval_spans, 0) AS n_eval_spans,
         (s.n_pii > 0) AS has_pii,
         ((s.n_words BETWEEN 50 AND 100000)
          AND (CAST(s.sum_len AS DOUBLE) / CAST(s.n_words AS DOUBLE)
               BETWEEN 3.0 AND 10.0)
          AND (CAST(s.n_hash + s.n_ellipsis AS DOUBLE)
               / CAST(s.n_words AS DOUBLE) < 0.1)
          AND (CAST(s.n_alpha AS DOUBLE) / CAST(s.n_words AS DOUBLE)
               > 0.8)
          AND (s.stop_hits >= 2)) AS ok_all
  FROM stats s JOIN dedup dd USING (doc_id)
  LEFT JOIN contam c USING (doc_id)),
flagged AS (
  SELECT *, (NOT is_dup AND n_eval_spans = 0 AND ok_all) AS released
  FROM per_doc)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN n_eval_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pii_docs,
       CAST(SUM(CASE WHEN NOT ok_all THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_fail,
       CAST(SUM(CASE WHEN released THEN 1 ELSE 0 END) AS BIGINT)
         AS n_released,
       CAST(SUM(CASE WHEN released THEN n_words ELSE 0 END) AS BIGINT)
         AS released_tokens
FROM flagged GROUP BY source ORDER BY source
"""


def qz1_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization report (llm/similarity.py:
    quantize_int8): scale, exact code checksum, reconstruction bound.
    floor (not round) keeps the codes engine-portable."""
    from axonops_schema_registry_spark.llm.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb).orderBy("vec_id")


QZ1_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM embeddings),
s AS (
  SELECT vec_id, xs,
         list_max(list_transform(xs, x -> abs(x))) AS mx
  FROM v),
sc AS (
  SELECT vec_id, xs,
         CASE WHEN mx = 0.0 THEN 1.0 ELSE 127.0 / mx END AS scale
  FROM s)
SELECT vec_id, CAST(len(xs) AS INT) AS dim, scale,
       CAST(COALESCE(list_sum(list_transform(xs,
            x -> CAST(floor(x * scale) AS BIGINT))), 0) AS BIGINT)
         AS q_checksum,
       list_max(list_transform(xs,
            x -> abs(x - floor(x * scale) / scale))) AS max_err
FROM sc ORDER BY vec_id
"""


def qz2_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (llm/similarity.py:pq_encode): each
    64-dim embedding becomes 4 centroid codes + an exact reconstruction
    error, with deterministic data-sample codebooks (vec_id % 31 == 0,
    the IVF-portable convention) so DuckDB replays codebook, argmin
    assignment and the DECIMAL-summed error bit-for-bit."""
    from axonops_schema_registry_spark.llm.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb).orderBy("vec_id")


QZ2_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
subs AS (
  SELECT vec_id, j,
         list_slice(ev, j * (len(ev) // 4) + 1,
                    (j + 1) * (len(ev) // 4)) AS sv
  FROM v, (SELECT unnest(generate_series(0, 3)) AS j)),
cbids AS (
  SELECT vec_id FROM v WHERE vec_id % 31 = 0
  ORDER BY vec_id LIMIT 256),
cb AS (
  SELECT j, vec_id AS cid, sv AS cv
  FROM subs WHERE vec_id IN (SELECT vec_id FROM cbids)),
scored AS (
  SELECT s.vec_id, s.j, c.cid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(s.sv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (acc, w) -> acc + w) AS d2
  FROM subs s JOIN cb c USING (j)),
mind AS (
  SELECT vec_id, j, MIN(d2) AS mind FROM scored GROUP BY vec_id, j),
codes AS (
  SELECT s.vec_id, s.j, MIN(s.cid) AS code, MIN(m.mind) AS mind
  FROM scored s JOIN mind m
    ON m.vec_id = s.vec_id AND m.j = s.j AND s.d2 = m.mind
  GROUP BY s.vec_id, s.j)
SELECT vec_id,
       CAST(MAX(CASE WHEN j = 0 THEN code END) AS BIGINT) AS code_0,
       CAST(MAX(CASE WHEN j = 1 THEN code END) AS BIGINT) AS code_1,
       CAST(MAX(CASE WHEN j = 2 THEN code END) AS BIGINT) AS code_2,
       CAST(MAX(CASE WHEN j = 3 THEN code END) AS BIGINT) AS code_3,
       round(sqrt(CAST(SUM(CAST(round(mind, 9) AS DECIMAL(25,9)))
                       AS DOUBLE)), 4)
         AS recon_err
FROM codes GROUP BY vec_id ORDER BY vec_id
"""


def nn4_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (llm/similarity.py:pq_adc_topk): the
    corpus is reduced to pq_encode's centroid codes; each query builds
    one tiny broadcast distance table per subspace and a corpus row's
    distance is the exact DECIMAL sum of 4 table lookups — the
    memory-bounded ANN search that completes the qz2 story.  Same
    query/corpus split as nn1-nn3."""
    from axonops_schema_registry_spark.llm.similarity import pq_adc_topk

    queries, corpus = _emb_split(spark, sf_dir)
    return pq_adc_topk(queries, corpus, k=5)


NN4_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
subs AS (
  SELECT vec_id, j,
         list_slice(ev, j * (len(ev) // 4) + 1,
                    (j + 1) * (len(ev) // 4)) AS sv
  FROM v, (SELECT unnest(generate_series(0, 3)) AS j)),
cbids AS (
  SELECT vec_id FROM v WHERE vec_id >= 10 AND vec_id % 31 = 0
  ORDER BY vec_id LIMIT 256),
cb AS (
  SELECT j, vec_id AS cid, sv AS cv
  FROM subs WHERE vec_id IN (SELECT vec_id FROM cbids)),
cscored AS (
  SELECT s.vec_id AS corpus_id, s.j, c.cid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(s.sv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (acc, w) -> acc + w) AS d2
  FROM subs s JOIN cb c USING (j) WHERE s.vec_id >= 10),
cmind AS (
  SELECT corpus_id, j, MIN(d2) AS mind
  FROM cscored GROUP BY corpus_id, j),
codes AS (
  SELECT s.corpus_id, s.j, MIN(s.cid) AS code
  FROM cscored s JOIN cmind m
    ON m.corpus_id = s.corpus_id AND m.j = s.j AND s.d2 = m.mind
  GROUP BY s.corpus_id, s.j),
qtab AS (
  SELECT s.vec_id AS query_id, s.j, c.cid,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_zip(s.sv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (acc, w) -> acc + w) AS qd2
  FROM subs s JOIN cb c USING (j) WHERE s.vec_id < 10),
adc AS (
  SELECT q.query_id, x.corpus_id,
         round(sqrt(CAST(SUM(CAST(round(q.qd2, 9) AS DECIMAL(25,9)))
                         AS DOUBLE)), 4) AS adc_dist
  FROM codes x JOIN qtab q ON q.j = x.j AND q.cid = x.code
  GROUP BY q.query_id, x.corpus_id),
ranked AS (
  SELECT query_id, corpus_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, corpus_id ASC) AS INT) AS rank
  FROM adc)
SELECT query_id, corpus_id, adc_dist, rank
FROM ranked WHERE rank <= 5
"""


def _recall_report(exact, ann):
    """Shared recall@5 computation for the ev* index-quality reports:
    per query, |exact top-5 ∩ ann top-5| / 5.  One implementation so
    the two reports cannot drift (k, denominator, join semantics)."""
    overlap = (exact.join(ann, ["query_id", "corpus_id"])
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("n_overlap")))
    return (exact.select("query_id").distinct()
            .join(overlap, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_overlap", F.lit(0)).cast("bigint")
                    .alias("n_overlap"),
                    F.round(F.coalesce("n_overlap", F.lit(0)) / 5.0, 4)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


def _recall_oracle(ann_oracle: str) -> str:
    """DuckDB twin of :func:`_recall_report`, composing the exact
    baseline's oracle with the given ANN oracle verbatim."""
    return f"""
WITH exact AS ({NN1_ORACLE}), ann AS ({ann_oracle}),
ov AS (
  SELECT e.query_id, COUNT(*) AS n_overlap
  FROM exact e JOIN ann a
    ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
  GROUP BY e.query_id)
SELECT q.query_id,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(ov.n_overlap, 0) / 5.0, 4) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN ov USING (query_id)
ORDER BY query_id
"""


def ev1_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the PQ-ADC index (nn4)
    against the exact cosine baseline (nn1), per query: the measurement
    a 100 TB deployment runs before trusting an approximate index, and
    the report that justifies quantization parameters (m, k) against
    retrieval quality.  Composes the two independently driver-verified
    operators; the oracle composes their oracle CTE chains verbatim so
    the evaluation itself is hash-checked.

    On THIS corpus the measured recall is intentionally poor (0-0.4):
    the synthetic embeddings are i.i.d.-uniform, so pairwise distances
    concentrate and NO sublinear index separates neighbors — exactly
    the situation this report exists to catch before deployment (real
    embedding manifolds cluster; uniform noise is the worst case).
    ev2 measures the LSH+rerank index the same way, and
    tests/test_llm_ops.py pins that both index families reach full
    recall when planted structure exists."""
    from axonops_schema_registry_spark.llm.similarity import (
        cosine_topk,
        pq_adc_topk,
    )

    queries, corpus = _emb_split(spark, sf_dir)
    return _recall_report(
        cosine_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"),
        pq_adc_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"))

EV1_ORACLE = _recall_oracle(NN4_ORACLE)


def ev2_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev1's companion: recall@5 of the LSH-with-exact-rerank index
    (nn2) against the same exact baseline.  Together ev1/ev2 are the
    index-selection report a deployment reads before choosing an ANN
    family.  On this i.i.d.-uniform corpus BOTH degrade — rerank is
    exact only over candidates, and uninformative buckets miss the
    true neighbors — which is precisely the honest measurement; the
    planted-structure recall both families DO achieve is pinned in
    tests/test_llm_ops.py."""
    from axonops_schema_registry_spark.llm.similarity import (
        cosine_topk,
        lsh_ann_topk_portable,
    )

    queries, corpus = _emb_split(spark, sf_dir)
    return _recall_report(
        cosine_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"),
        lsh_ann_topk_portable(queries, corpus, k=5)
        .select("query_id", "corpus_id"))

EV2_ORACLE = _recall_oracle(NN2_ORACLE)


def ev4_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev2's companion for the multi-probe index (new in r14):
    recall@5 of nn5 against the exact baseline — the measurement that
    justifies trading probe fan-out for index tables at 100 TB.  The
    structural guarantee (nn5's candidates are a superset of nn2's at
    equal parameters, so per-query recall_at_5 >= ev2's row-for-row)
    is pinned in tests/test_llm_ops.py; this spec pins the measured
    VALUES through the driver's hash gate, composing two
    independently verified oracle chains verbatim."""
    from axonops_schema_registry_spark.llm.similarity import (
        cosine_topk,
        multiprobe_lsh_ann_topk,
    )

    queries, corpus = _emb_split(spark, sf_dir)
    return _recall_report(
        cosine_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"),
        multiprobe_lsh_ann_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"))


EV4_ORACLE = _recall_oracle(NN5_ORACLE)


def ev5_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the recall-report family across all four index paths
    (VERDICT r15 ask #6): recall@5 of the portable IVF index (nn3)
    against the exact cosine baseline — the one index family whose
    measured retrieval quality a 100 TB index choice previously could
    not read off a driver-green report (nn3 had only a planted pytest
    recall).  Same shared :func:`_recall_report` computation and the
    same verbatim oracle-chain composition as ev1/ev2/ev4; the
    planted-structure full-recall pin for IVF stays in
    tests/test_llm_ops.py."""
    from axonops_schema_registry_spark.llm.similarity import (
        cosine_topk,
        ivf_ann_topk_portable,
    )

    queries, corpus = _emb_split(spark, sf_dir)
    return _recall_report(
        cosine_topk(queries, corpus, k=5)
        .select("query_id", "corpus_id"),
        ivf_ann_topk_portable(queries, corpus, k=5)
        .select("query_id", "corpus_id"))


EV5_ORACLE = _recall_oracle(NN3_ORACLE)


_Q_HELD_OUT = """WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),"""
_Q_PLANTED = """WITH q AS (SELECT vec_id - 10 AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id >= 10 AND vec_id < 30),"""


def _planted_oracle(oracle: str) -> str:
    """Swap an nn* oracle's held-out query CTE for the PLANTED one:
    queries are twins of corpus vectors 10..29 (query_id = vec_id-10).
    Asserted string surgery, like _lsh_replay_ctes_asym."""
    assert _Q_HELD_OUT in oracle, "nn oracle query CTE drifted"
    return oracle.replace(_Q_HELD_OUT, _Q_PLANTED)


def _planted_nn4_oracle() -> str:
    """NN4's query set lives in its qtab CTE, not a q CTE — same
    surgery, different seams."""
    old_sel = "SELECT s.vec_id AS query_id, s.j, c.cid,"
    old_where = "FROM subs s JOIN cb c USING (j) WHERE s.vec_id < 10),"
    assert old_sel in NN4_ORACLE and old_where in NN4_ORACLE, \
        "NN4 qtab CTE drifted"
    return (NN4_ORACLE
            .replace(old_sel,
                     "SELECT s.vec_id - 10 AS query_id, s.j, c.cid,")
            .replace(old_where,
                     "FROM subs s JOIN cb c USING (j) "
                     "WHERE s.vec_id >= 10 AND s.vec_id < 30),"))


def ev3_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEANINGFUL recall number ev1/ev2 cannot produce on this
    corpus: plant 20 queries that are exact twins of corpus vectors
    10..29 (the structure a real embedding manifold has and
    i.i.d.-uniform noise lacks) and report, per index family, how many
    queries retrieve their planted twin in the top-5.  Exact search is
    the control (always 20/20); LSH-with-rerank and PQ-ADC must land
    >= 0.9 here or the index is broken — the pytest planted-recall
    suite (tests/test_llm_ops.py) promoted to a driver-checked spec.
    Oracles are the nn1/nn2/nn4 CTE chains with only the query CTE
    swapped (asserted surgery), so the full ANN paths stay
    hash-checked."""
    from axonops_schema_registry_spark.llm.similarity import (
        cosine_topk,
        lsh_ann_topk_portable,
        pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter((F.col("vec_id") >= 10)
                          & (F.col("vec_id") < 30))
               .select((F.col("vec_id") - 10).alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    corpus = (emb.filter(F.col("vec_id") >= 10)
              .select(F.col("vec_id").alias("corpus_id"),
                      F.col("embedding").alias("corpus_vec")))
    # n_queries is DERIVED from the planted slice on both sides (1-row
    # broadcast), not hardcoded: if the embeddings table ever shrinks
    # below 30 vectors the denominator shrinks with it and the oracle
    # hash check sees the real query count (ADVICE r9).
    nq = queries.agg(F.count(F.lit(1)).cast("bigint")
                     .alias("n_queries"))
    fams = (("exact", cosine_topk), ("lsh", lsh_ann_topk_portable),
            ("pq_adc", pq_adc_topk))
    parts = []
    for name, fn in fams:
        parts.append(
            fn(queries, corpus, k=5)
            .filter(F.col("corpus_id") == F.col("query_id") + 10)
            .agg(F.countDistinct("query_id").alias("n_found"))
            .crossJoin(F.broadcast(nq))
            .select(F.lit(name).alias("family"),
                    F.col("n_queries"),
                    F.col("n_found").cast("bigint").alias("n_found"),
                    F.round(F.col("n_found") / F.col("n_queries"), 4)
                    .alias("found_at_5")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("family")


def _ev3_oracle() -> str:
    return f"""
WITH ex AS ({_planted_oracle(NN1_ORACLE)}),
lsh AS ({_planted_oracle(NN2_ORACLE)}),
pq AS ({_planted_nn4_oracle()}),
fams AS (
  SELECT 'exact' AS family, COUNT(DISTINCT query_id) AS n_found
  FROM ex WHERE corpus_id = query_id + 10
  UNION ALL
  SELECT 'lsh', COUNT(DISTINCT query_id)
  FROM lsh WHERE corpus_id = query_id + 10
  UNION ALL
  SELECT 'pq_adc', COUNT(DISTINCT query_id)
  FROM pq WHERE corpus_id = query_id + 10),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
       FROM embeddings WHERE vec_id >= 10 AND vec_id < 30)
SELECT family, n_queries,
       CAST(n_found AS BIGINT) AS n_found,
       ROUND(n_found / CAST(n_queries AS DOUBLE), 4) AS found_at_5
FROM fams CROSS JOIN nq ORDER BY family
"""


EV3_ORACLE = _ev3_oracle()


def bp1_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span detection (the common-span half of
    substring-level dedup, Lee et al. 2021's pipeline sibling): 8-gram
    spans occurring in >=3 distinct documents are boilerplate; each
    document reports how much of its span mass is boilerplate.  Span
    df-counting is a span-keyed aggregate with map-side combine — the
    same shuffle shape at 100 TB — and the boilerplate join is
    span-keyed, never broadcast (the boilerplate set scales with the
    corpus)."""
    from axonops_schema_registry_spark.llm.contamination import (
        ngram_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    spans = ngram_spans(docs, "doc_id", "text", 8)
    boiler = (spans.groupBy("span")
              .agg(F.count(F.lit(1)).alias("n_docs"))
              .filter(F.col("n_docs") >= 3)
              .select("span"))
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"))
    nb = (spans.join(boiler, "span")
          .groupBy("id").agg(F.count(F.lit(1)).alias("n_boiler")))
    return (per_doc.join(nb, "id", "left")
            .na.fill({"n_boiler": 0})
            .select(F.col("id").alias("doc_id"), "n_spans",
                    F.col("n_boiler").cast("bigint").alias("n_boiler"),
                    (F.col("n_boiler").cast("double")
                     / F.col("n_spans").cast("double"))
                    .alias("boiler_frac"))
            .orderBy("doc_id"))


BP1_ORACLE = """
WITH spans AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 7, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))
           AS span
  FROM documents),
boiler AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(*) >= 3),
per_doc AS (
  SELECT id, COUNT(*) AS n_spans FROM spans GROUP BY id),
nb AS (
  SELECT s.id, COUNT(*) AS n_boiler FROM spans s
  JOIN boiler b ON s.span = b.span GROUP BY s.id)
SELECT p.id AS doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(COALESCE(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
       CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
         / CAST(n_spans AS DOUBLE) AS boiler_frac
FROM per_doc p LEFT JOIN nb USING (id) ORDER BY doc_id
"""


def ch1_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-aligned chunk manifest (llm/packing.py:
    chunk_documents): 32-word chunks at stride 24 (8-word overlap),
    each chunk identified by its sha-256 so the manifest stays narrow
    — the RAG-indexing / long-doc-split preparation step."""
    from axonops_schema_registry_spark.llm.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return (chunk_documents(docs, 32, 24)
            .orderBy("doc_id", "chunk_id"))


CH1_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
n AS (
  SELECT doc_id, words,
         CAST(ceil(greatest(len(words) - 32, 0) / 24.0) AS BIGINT)
           AS max_chunk
  FROM w),
c AS (
  SELECT doc_id, words,
         unnest(generate_series(0, max_chunk)) AS chunk_id
  FROM n)
SELECT doc_id, chunk_id,
       CAST(chunk_id * 24 + 1 AS BIGINT) AS start_word,
       CAST(len(list_slice(words, chunk_id * 24 + 1,
                           chunk_id * 24 + 32)) AS BIGINT)
         AS n_chunk_words,
       sha256(array_to_string(list_slice(words, chunk_id * 24 + 1,
                                         chunk_id * 24 + 32), ' '))
         AS chunk_hash
FROM c ORDER BY doc_id, chunk_id
"""


def gq2_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-removal statistics (operators/text.py:
    repetition_stats — the other half of Gopher's quality filter):
    duplicate-word fraction and most-frequent-bigram token share per
    document."""
    from axonops_schema_registry_spark.operators.text import (
        repetition_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (repetition_stats(docs, "doc_id", "text")
            .orderBy("doc_id"))


GQ2_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
base AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
  FROM w),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(words) - 1),
                i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM w),
bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg
        GROUP BY doc_id, bigram),
mx AS (SELECT doc_id, MAX(c) AS max_bigram_cnt FROM bgc
       GROUP BY doc_id)
SELECT b.doc_id, n_words, n_distinct,
       1 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)
         AS dup_word_frac,
       CAST(COALESCE(max_bigram_cnt, 0) AS BIGINT) AS max_bigram_cnt,
       CASE WHEN n_words > 1 THEN
         CAST(COALESCE(max_bigram_cnt, 0) AS DOUBLE)
           / CAST(n_words - 1 AS DOUBLE)
       ELSE 0.0 END AS top_bigram_frac
FROM base b LEFT JOIN mx USING (doc_id) ORDER BY doc_id
"""


def ti1_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic-term extraction (operators/text.py:
    tfidf_top_terms): top-3 terms per document by TF x linear-IDF
    (tf * N / df — exact-integer division instead of ln so every
    engine ranks and hashes identically)."""
    from axonops_schema_registry_spark.operators.text import (
        tfidf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (tfidf_top_terms(docs, "doc_id", "text", 3)
            .orderBy("doc_id", "rnk"))


TI1_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
  FROM documents),
tf AS (
  SELECT id, token, COUNT(*) AS tf FROM toks WHERE token <> ''
  GROUP BY id, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.id, tf.token, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE)
           * (SELECT COUNT(DISTINCT doc_id) FROM documents)
           / CAST(dfreq.df AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (token)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
              ORDER BY score DESC, token ASC) AS rnk
  FROM scored)
SELECT id AS doc_id, rnk, token, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


def ng1_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY (new in r12): the fraction of a
    document's distinct 3-gram shingles whose FIRST corpus occurrence
    (smallest doc_id) is this document — the doc-granular sibling of
    vg1's Heaps curve and the standard memorization/diversity
    diagnostic (a crawl snapshot whose late documents contribute no
    novel n-grams is repeating itself; dedup thresholds get tuned
    against exactly this curve).

    Scale shape: one gram-keyed aggregate (map-side combinable MIN)
    over the corpus's distinct (doc, shingle) pairs, one gram-keyed
    join back, one doc-keyed count — no window over the corpus and no
    quadratic prefix scan (vg1's formulation note applies verbatim:
    queries/llm_queries.py vg1).  Division is BIGINT/BIGINT — the
    float-discipline-free case."""
    from axonops_schema_registry_spark.llm.text import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs).orderBy("doc_id")


NG1_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
first AS (SELECT token, MIN(id) AS f FROM toks GROUP BY token),
per AS (
  SELECT t.id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN first.f = t.id THEN 1 ELSE 0 END) AS n_novel
  FROM toks t JOIN first ON first.token = t.token
  GROUP BY t.id)
SELECT id AS doc_id, n_shingles, CAST(n_novel AS BIGINT) AS n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
FROM per ORDER BY doc_id
"""


def qn1_robust_length_normalization(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Per-source ROBUST quality-score normalization (new in r12):
    median/MAD z-scores over document word counts — the
    outlier-resistant scaling curation pipelines apply before
    thresholding heterogeneous sources (a mean/stddev z is itself
    dragged by the outliers it is supposed to flag).  Emits the
    per-source median and MAD, each document's robust z, and the
    |z| > 3 outlier flag; MAD = 0 (a degenerate constant-length
    source) yields NULL z / false flag rather than a division blowup.

    Float discipline: exact sort-based percentile (DuckDB
    quantile_cont interpolates bit-identically — the qs1 contract);
    n_words and the median/MAD are integers or exact halves, so the
    z quotient is IEEE-deterministic in both engines with NO rounding
    (rounding would reintroduce the representational-tie trap).  The
    100 TB path swaps percentile_approx exactly as qs1 documents.

    Scale shape: two grouped percentile passes shuffled on the same
    source key, then a sources-sized broadcast join back."""
    from axonops_schema_registry_spark.llm.text import (
        robust_length_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return robust_length_stats(docs).orderBy("doc_id")


QN1_ORACLE = """
WITH w AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents),
med AS (SELECT source, quantile_cont(n_words, 0.5) AS m
        FROM w GROUP BY source),
j AS (SELECT w.*, med.m FROM w JOIN med USING (source)),
mad AS (SELECT source, quantile_cont(abs(n_words - m), 0.5) AS d
        FROM j GROUP BY source)
SELECT j.doc_id, j.source, j.n_words,
       j.m AS median_words, mad.d AS mad_words,
       CASE WHEN mad.d <> 0 THEN (j.n_words - j.m) / mad.d END
         AS robust_z,
       COALESCE(abs(CASE WHEN mad.d <> 0
                         THEN (j.n_words - j.m) / mad.d END) > 3.0,
                FALSE) AS is_len_outlier
FROM j JOIN mad ON mad.source = j.source
ORDER BY j.doc_id
"""


def out1_embedding_outliers(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-label embedding OUTLIER flags (new in r12): each vector's
    cosine to its label's centroid DIRECTION, with the bottom-3 of
    every label flagged — the cluster-distance pruning step of
    SemDeDup-style pipelines (prune the members farthest from their
    cluster center), emitted as the per-vector table a curation pass
    anti-joins.  lab1 is the per-label cohesion REPORT; this is the
    per-vector verdict surface.

    Float discipline — fully TIE-FREE after the r12 sf1 incident (one
    of 20 k cosines rounded -0.0001 in Spark vs -0.0 in DuckDB on
    bit-identical doubles): the centroid direction is the exact
    BIGINT per-dimension sum of floor(x · 10^9)-scaled components —
    cosine is scale-invariant, so the integer sum IS the direction
    and no decimal cast or mean division (each with its own
    engine-tie hazard) ever happens; sums stay exactly double-
    representable below ~2^53/10^9 ≈ 9 × 10^6 rows per label (beyond
    that, swap the BIGINT for DECIMAL(38,0), the shard1 checksum
    pattern).  The per-row cosine is a row-local IEEE fold both
    engines evaluate in identical order, and emission quantizes via
    base.floor_q — floor of the shared double·10^4 product has no
    tie semantics at all.

    Scale shape: the explode is corpus×dim rows into a map-side
    combinable decimal aggregate; the centroid table (labels × dim)
    broadcasts; ranking is one window per label."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("ev"))
    expl = v.select("label", F.posexplode("ev").alias("p", "x"))
    dimsum = (expl.groupBy("label", "p")
              .agg(F.sum(F.floor(F.col("x") * F.lit(1000000000.0))
                         .cast("bigint")).alias("s")))
    cent = (dimsum.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("p", "s")))
                 .alias("__ps"))
            .select("label",
                    F.expr("transform(__ps, "
                           "e -> CAST(e.s AS DOUBLE))").alias("cv")))
    dot = F.expr("aggregate(zip_with(cv, ev, (x, y) -> x * y), "
                 "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)")
    nc = F.sqrt(F.expr("aggregate(transform(cv, x -> x * x), "
                       "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"))
    nv = F.sqrt(F.expr("aggregate(transform(ev, x -> x * x), "
                       "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"))
    from axonops_schema_registry_spark.queries.base import floor_q

    w = Window.partitionBy("label").orderBy(F.asc("cos_to_centroid"),
                                            F.asc("vec_id"))
    return (v.join(F.broadcast(cent), "label")
            .withColumn("cos_to_centroid",
                        floor_q(dot / (nc * nv), 4))
            .withColumn("label_rank", F.row_number().over(w))
            .select("vec_id", "label", "cos_to_centroid", "label_rank",
                    (F.col("label_rank") <= 3).alias("is_outlier"))
            .orderBy("vec_id"))


OUT1_ORACLE = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings),
expl AS (
  SELECT label, ev, unnest(generate_series(1, len(ev))) AS p FROM v),
dimsum AS (
  SELECT label, p,
         SUM(CAST(floor(ev[p] * 1000000000.0) AS BIGINT)) AS s
  FROM expl GROUP BY label, p),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY p) AS cv
  FROM dimsum GROUP BY label),
scored AS (
  SELECT v.vec_id, v.label,
         floor(
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(cent.cv, v.ev),
                            pr -> pr[1] * pr[2])),
             (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(cent.cv, x -> x * x)),
                (acc, x) -> acc + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(v.ev, x -> x * x)),
                  (acc, x) -> acc + x))) * 10000.0) / 10000.0
           AS cos_to_centroid
  FROM v JOIN cent USING (label))
SELECT vec_id, label, cos_to_centroid, CAST(rk AS INT) AS label_rank,
       rk <= 3 AS is_outlier
FROM (SELECT *, row_number() OVER (
          PARTITION BY label
          ORDER BY cos_to_centroid ASC, vec_id) AS rk
      FROM scored)
ORDER BY vec_id
"""


def ppl2_bigram_perplexity(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with stupid backoff (llm/text.py:
    bigram_surprisal) — the KenLM-shaped escalation of ppl1: the LM is
    fitted on the deterministic reference slice (doc_id % 7 != 0) and
    EVERY document is scored, so held-out documents exercise the
    backoff path for real (n_backoff is the OOD signal).  Type-bounded
    -ln computation in tie-free integer micro-units (floor(x·10^6)
    BIGINTs — the floor_q contract; exact sums, one final
    division)."""
    from axonops_schema_registry_spark.llm.text import bigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return bigram_surprisal(docs).orderBy("doc_id")


PPL2_ORACLE = r"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS a
  FROM documents),
nz AS MATERIALIZED (SELECT * FROM base WHERE len(a) >= 1),
ref AS MATERIALIZED (SELECT * FROM nz WHERE id % 7 <> 0),
uni AS MATERIALIZED (
  SELECT t, COUNT(*) AS cu
  FROM (SELECT unnest(a) AS t FROM ref) GROUP BY t),
tot AS MATERIALIZED (SELECT SUM(cu) AS n FROM uni),
rbig AS MATERIALIZED (
  SELECT a[i - 1] AS u, a[i] AS w, COUNT(*) AS cb
  FROM (SELECT a, unnest(generate_series(2, len(a))) AS i
        FROM ref WHERE len(a) >= 2)
  GROUP BY 1, 2),
bscore AS MATERIALIZED (
  SELECT rbig.u, rbig.w,
         CAST(floor(-ln(cb / cu) * 1000000.0) AS BIGINT) AS sb
  FROM rbig JOIN uni ON uni.t = rbig.u),
uscore AS MATERIALIZED (
  SELECT t AS w,
         CAST(floor(-ln(0.4 * cu / n) * 1000000.0) AS BIGINT) AS sk,
         CAST(floor(-ln(cu / n) * 1000000.0) AS BIGINT) AS s1
  FROM uni, tot),
oov AS MATERIALIZED (
  SELECT CAST(floor(-ln(0.4 / n) * 1000000.0) AS BIGINT) AS sk_oov,
         CAST(floor(-ln(1.0 / n) * 1000000.0) AS BIGINT) AS s1_oov
  FROM tot),
firsts AS (
  SELECT f.id, COALESCE(u.s1, o.s1_oov) AS s, 0 AS bk
  FROM (SELECT id, a[1] AS w FROM nz) f
  LEFT JOIN uscore u ON u.w = f.w CROSS JOIN oov o),
toks AS MATERIALIZED (
  SELECT id, a[i - 1] AS u, a[i] AS w
  FROM (SELECT id, a, unnest(generate_series(2, len(a))) AS i
        FROM nz WHERE len(a) >= 2)),
tscores AS (
  SELECT t.id, COALESCE(b.sb, u.sk, o.sk_oov) AS s,
         CASE WHEN b.sb IS NULL THEN 1 ELSE 0 END AS bk
  FROM toks t
  LEFT JOIN bscore b ON b.u = t.u AND b.w = t.w
  LEFT JOIN uscore u ON u.w = t.w
  CROSS JOIN oov o),
allsc AS (SELECT * FROM firsts UNION ALL SELECT * FROM tscores)
SELECT id AS doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(bk) AS BIGINT) AS n_backoff,
       CAST(SUM(s) AS DOUBLE) / (COUNT(*) * 1000000.0)
         AS mean_surprisal
FROM allsc GROUP BY id ORDER BY doc_id
"""


def split1_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment (new in
    r12): each document's split follows its portable 48-bit content-id
    hash against INTEGER thresholds (80 / 10 / 10), so the assignment
    is reproducible across engines, runs, and cluster sizes, and
    per-source proportions hold automatically (hashes are uniform
    within every stratum) — the split manifest every training-data
    pipeline pins before packing/export.

    Thresholds are exact integers (2^48·800/1000 and 2^48·900/1000,
    integer arithmetic end-to-end) — no float boundary can flip a
    document between engines (the stratified_sample floor lesson).
    Scale: one scan-side hash + comparison, zero shuffles before the
    final order."""
    from axonops_schema_registry_spark.llm.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs).orderBy("doc_id")


SPLIT1_ORACLE = f"""
SELECT doc_id, source,
       CASE WHEN h < {(1 << 48) * 4 // 5} THEN 'train'
            WHEN h < {(1 << 48) * 9 // 10} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source,
             CAST(concat('0x',
                  substr(md5(CAST(doc_id AS STRING)), 1, 12))
                  AS BIGINT) AS h
      FROM documents)
ORDER BY doc_id
"""


def ctm4_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test SPLIT-LEAKAGE audit (new in r12) — the check every
    split manifest needs before anyone trains on it: after split1's
    deterministic assignment, which TRAIN documents carry 5-gram spans
    that also appear in the TEST split?  A leaked span means the
    held-out metric is partially memorizable no matter how clean the
    external benchmarks are (ctm1/2/3 audit EXTERNAL contamination;
    this audits the corpus against its own split).  One row per train
    document with span/test-doc collision counts and the leaked flag.

    Scale shape: split1's scan-side hash splits the corpus; the TEST
    split is the small side (10%) so ITS span set broadcasts and the
    train side is scanned once — exactly ctm1's shape with
    split-derived slices.  The bloom-prefilter escalation for a test
    split too large to broadcast is IMPLEMENTED (r13, no longer just
    documented): the shared operator's ``broadcast_threshold`` switch
    reroutes through ctm2's bloom path, equality pinned at a 30%
    split in tests/test_llm_ops.py.  This spec keeps the exact path
    (threshold None) — the 10% split is the broadcast case."""
    from axonops_schema_registry_spark.llm.contamination import (
        split_leakage_flags,
    )
    from axonops_schema_registry_spark.llm.sampling import split_column

    docs = load_table(spark, sf_dir, "documents")
    lab = docs.withColumn("split", split_column())
    return split_leakage_flags(lab, n=5).orderBy("doc_id")


CTM4_ORACLE = f"""
WITH assign AS (
  SELECT doc_id,
         CASE WHEN h < {(1 << 48) * 8 // 10} THEN 'train'
              WHEN h < {(1 << 48) * 9 // 10} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(concat('0x',
                    substr(md5(CAST(doc_id AS STRING)), 1, 12))
                    AS BIGINT) AS h
        FROM documents)),
lab AS MATERIALIZED (
  SELECT d.doc_id, d.text, a.split
  FROM documents d JOIN assign a USING (doc_id)),
spans AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, split,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM lab WHERE split <> 'val'),
test_spans AS (SELECT DISTINCT id AS test_id, span FROM spans
               WHERE split = 'test'),
train_spans AS (SELECT id, span FROM spans WHERE split = 'train'),
hits AS (
  SELECT t.id, COUNT(DISTINCT t.span) AS n_shared_spans,
         COUNT(DISTINCT ts.test_id) AS n_test_docs
  FROM train_spans t JOIN test_spans ts ON t.span = ts.span
  GROUP BY t.id)
SELECT l.doc_id,
       CAST(COALESCE(h.n_shared_spans, 0) AS BIGINT) AS n_shared_spans,
       CAST(COALESCE(h.n_test_docs, 0) AS BIGINT) AS n_test_docs,
       COALESCE(h.n_shared_spans, 0) > 0 AS leaked
FROM (SELECT doc_id FROM lab WHERE split = 'train') l
LEFT JOIN hits h ON h.id = l.doc_id
ORDER BY l.doc_id
"""


def ctm5_split_near_leakage(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """NEAR-dup split leakage (new in r13) — ctm4's escalation: exact
    5-gram spans catch verbatim leaks, but a paraphrased or lightly
    edited duplicate straddling the train/test boundary leaks signal
    with few exact spans.  This audits the boundary at the MinHash
    level: every >=0.8-Jaccard pair with one side in train and the
    other in test, aggregated per train document (how many test
    neighbors, and the worst Jaccard).  Rows only for leaking train
    docs — at scale this is the actionable (small) set a curator
    anti-joins away, not a full-corpus report.

    Scale shape: ONE banded-LSH pair generation over the train+test
    corpus (val excluded before shingling — Catalyst pushes the
    split filter into the scan side), split labels joined onto the
    (tiny) pair set, not the corpus; the per-train-doc aggregate is
    bounded by pair volume.  jaccard is BIGINT/BIGINT double division
    and MAX selects one exact value — bit-deterministic across
    engines (the dd2 contract).

    Oracle contract (same as dd2/dd8): the DuckDB oracle computes
    EXACT all-pairs Jaccard while this side generates candidates via
    banded LSH, so oracle equality additionally asserts that banding
    recall is 1.0 on the fixture — guaranteed here only because the
    fixture's >=0.8 pairs sit far above the threshold margin
    (test_banding_recall_guard_on_oracle_fixtures pins this by name
    for ctm5's exact config on both oracle corpora; the r13 scale
    smoke showed pairs AT J~0.81 can shatter 16-band recall).  sf1
    hash-pin: the ctm5 scale script at commit d15378d (r14 appendix
    in docs/SCALING.md)."""
    from axonops_schema_registry_spark.llm.contamination import (
        near_split_leakage,
    )
    from axonops_schema_registry_spark.llm.sampling import split_column

    docs = load_table(spark, sf_dir, "documents")
    lab = (docs.withColumn("split", split_column())
           .filter(F.col("split") != "val"))
    return (near_split_leakage(lab)
            .select("train_id", "n_test_neighbors", "max_jaccard")
            .orderBy("train_id"))


CTM5_ORACLE = f"""
WITH assign AS (
  SELECT doc_id,
         CASE WHEN h < {(1 << 48) * 8 // 10} THEN 'train'
              WHEN h < {(1 << 48) * 9 // 10} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(concat('0x',
                    substr(md5(CAST(doc_id AS STRING)), 1, 12))
                    AS BIGINT) AS h
        FROM documents)),
lab AS MATERIALIZED (
  SELECT d.doc_id, d.text, a.split
  FROM documents d JOIN assign a USING (doc_id)
  WHERE a.split <> 'val'),
toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM lab),
sizes AS MATERIALIZED (
  SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS MATERIALIZED (
  SELECT id_a, id_b,
         CAST(n_inter AS DOUBLE)
           / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)
           AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)
          >= 0.8),
crossed AS (
  SELECT CASE WHEN la.split = 'train' THEN p.id_a ELSE p.id_b END
           AS train_id,
         CASE WHEN la.split = 'train' THEN p.id_b ELSE p.id_a END
           AS test_id,
         p.jaccard
  FROM dup_pairs p
  JOIN lab la ON la.doc_id = p.id_a
  JOIN lab lb ON lb.doc_id = p.id_b
  WHERE la.split <> lb.split)
SELECT train_id,
       CAST(COUNT(DISTINCT test_id) AS BIGINT) AS n_test_neighbors,
       MAX(jaccard) AS max_jaccard
FROM crossed GROUP BY train_id ORDER BY train_id
"""


def ctm6_contamination_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-source contamination report card (new in r14) — the
    roll-up a curation run publishes next to its dataset card (tx5):
    for every source, how many of its TRAIN documents leak into the
    test split EXACTLY (shared 5-gram spans — the ctm4 audit) and how
    many leak as NEAR-duplicates (>=0.8 Jaccard LSH pairs — the ctm5
    audit), with per-mille rates in pure integer arithmetic
    (1000·n DIV n_train — no float division for the oracle to
    disagree on).  The number a data owner actually acts on: "source
    src3 leaks 12‰ of its training docs into eval" names the feed to
    cut, where the per-document audits only name documents.

    Composes the SHARED primitives — split_leakage_flags (ctm4) and
    near_split_leakage (ctm5) — per the repo rule that capstones
    never duplicate operator bodies.  Scale shape: both audits are
    one scan + broadcast/banded-LSH joins (their own contracts); the
    roll-up joins their per-train-doc outputs (small) back to the
    two-column (doc_id, source) train projection and aggregates —
    nothing corpus-wide shuffles text.  Oracle contract: inherits
    ctm5's banding-recall dependency (see its docstring)."""
    from axonops_schema_registry_spark.llm.contamination import (
        near_split_leakage,
        split_leakage_flags,
    )
    from axonops_schema_registry_spark.llm.sampling import split_column

    docs = load_table(spark, sf_dir, "documents")
    lab = docs.withColumn("split", split_column())
    exact = split_leakage_flags(lab).select("doc_id", "leaked")
    near = (near_split_leakage(lab.filter(F.col("split") != "val"))
            .select(F.col("train_id").alias("doc_id"),
                    F.lit(True).alias("__near")))
    train = (lab.filter(F.col("split") == "train")
             .select("doc_id", "source"))
    rep = (train
           .join(exact, "doc_id", "left")
           .join(near, "doc_id", "left")
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
                F.sum(F.when(F.col("leaked"), 1).otherwise(0))
                .cast("bigint").alias("n_exact_leaked"),
                F.sum(F.when(F.col("__near"), 1).otherwise(0))
                .cast("bigint").alias("n_near_leaked")))
    return (rep.select(
                "source", "n_train_docs", "n_exact_leaked",
                "n_near_leaked",
                F.expr("(1000 * n_exact_leaked) DIV n_train_docs")
                .alias("exact_leak_per_mille"),
                F.expr("(1000 * n_near_leaked) DIV n_train_docs")
                .alias("near_leak_per_mille"))
            .orderBy("source"))


CTM6_ORACLE = f"""
WITH assign AS (
  SELECT doc_id,
         CASE WHEN h < {(1 << 48) * 8 // 10} THEN 'train'
              WHEN h < {(1 << 48) * 9 // 10} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(concat('0x',
                    substr(md5(CAST(doc_id AS STRING)), 1, 12))
                    AS BIGINT) AS h
        FROM documents)),
lab AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source, a.split
  FROM documents d JOIN assign a USING (doc_id)),
spans AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, split,
         unnest(list_transform(
             generate_series(1, greatest(len(string_split(text, ' '))
                                         - 4, 0)),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
           AS span
  FROM lab WHERE split <> 'val'),
exact_leaked AS (
  SELECT DISTINCT t.id
  FROM (SELECT id, span FROM spans WHERE split = 'train') t
  JOIN (SELECT DISTINCT span FROM spans WHERE split = 'test') ts
    ON t.span = ts.span),
toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM lab WHERE split <> 'val'),
sizes AS MATERIALIZED (
  SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)
          >= 0.8),
near_leaked AS (
  SELECT DISTINCT CASE WHEN la.split = 'train' THEN p.id_a
                       ELSE p.id_b END AS id
  FROM dup_pairs p
  JOIN lab la ON la.doc_id = p.id_a
  JOIN lab lb ON lb.doc_id = p.id_b
  WHERE la.split <> lb.split)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_train_docs,
       CAST(SUM(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_leaked,
       CAST(SUM(CASE WHEN nl.id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_leaked,
       (1000 * CAST(SUM(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
         AS exact_leak_per_mille,
       (1000 * CAST(SUM(CASE WHEN nl.id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
         AS near_leak_per_mille
FROM (SELECT doc_id, source FROM lab WHERE split = 'train') t
LEFT JOIN exact_leaked e ON e.id = t.doc_id
LEFT JOIN near_leaked nl ON nl.id = t.doc_id
GROUP BY source ORDER BY source
"""


def cap1_cluster_cap_sampling(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cluster-capped sampling (new in r12): instead of dd4's
    keep-ONE-per-cluster or dd8's keep-BEST, keep each near-dup
    cluster's K smallest-id members — the softened dedup policy large
    pretraining mixes actually ship (bounded benign repetition beats
    hard dedup for some sources; the cap bounds what a boilerplate
    cluster can contribute).  One row per kept document with its
    cluster, rank, and whether the cap cut anything from its cluster.
    Singletons (never paired) are kept at rank 1.

    Scale shape: dd4's pair generation + components (pointer-doubling
    rounds ∝ log diameter), then ONE rank window per cluster — state
    bounded by cluster size, which the upstream exact-collapse and
    max_bucket guards bound."""
    from axonops_schema_registry_spark.llm.dedup import (
        cluster_capped_keep,
    )

    # ONE constant drives both the keep policy and the capped flag
    # (ADVICE r12: a hardcoded `> 2` next to k=2 desyncs silently if
    # the cap changes).  CAP1_ORACLE's literals are tied to this value
    # — grep for CAP1_K when changing it.
    K = CAP1_K
    docs = load_table(spark, sf_dir, "documents")
    return (cluster_capped_keep(docs, k=K)
            .withColumn("cluster_was_capped",
                        F.col("cluster_size") > K)
            .orderBy("doc_id"))


# the single cap constant behind cap1: drives cluster_capped_keep(k=),
# the cluster_was_capped flag, and the oracle's two literals below
CAP1_K = 2

CAP1_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach AS (
  WITH RECURSIVE r(root, node) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.node)
  SELECT root, node FROM r),
labels AS (SELECT root AS doc_id, MIN(node) AS cluster_id
           FROM reach GROUP BY root),
members AS (
  SELECT d.doc_id,
         COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
sized AS (
  SELECT m.doc_id, m.cluster_id,
         CAST(COUNT(*) OVER (PARTITION BY m.cluster_id) AS BIGINT)
           AS cluster_size,
         CAST(row_number() OVER (PARTITION BY m.cluster_id
                                 ORDER BY m.doc_id) AS INT)
           AS keep_rank
  FROM members m)
SELECT doc_id, cluster_id, cluster_size, keep_rank,
       cluster_size > {CAP1_K} AS cluster_was_capped
FROM sized WHERE keep_rank <= {CAP1_K}
ORDER BY doc_id
"""


def cur3_quality_dedup_split(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """r12-family curation capstone — the four new operators chained
    in the order a real pass runs them, pinned as ONE DAG with ONE
    oracle (the cur1/cur2 convention: composition bugs live in the
    seams, not the stages):

    1. qn1 gate: per-source median/MAD over the FULL corpus; drop
       |robust z| > 3 length outliers,
    2. ng1 annotation: n-gram novelty computed WITHIN the survivors
       (the population the next stage sees — first-occurrence over
       the filtered corpus, not the raw one),
    3. cap1 dedup: near-dup clusters over the survivors, keep each
       cluster's 2 smallest ids,
    4. split1 assignment: deterministic hash split of the kept docs.

    Output: one row per KEPT document with its split, cluster, rank,
    and the carried novelty/robust-z features — the manifest a
    training run consumes.

    Scale shape: every stage keeps its own documented shape; the only
    composition-added work is that stages 2-3 run on the filtered
    frame (Catalyst pushes the stage-1 verdict into both scans).
    Every stage delegates to the SAME shared operator function its
    standalone spec and the CurationPipeline facade use — one
    implementation per operator, three surfaces."""
    from axonops_schema_registry_spark.llm.dedup import (
        cluster_capped_keep,
    )
    from axonops_schema_registry_spark.llm.sampling import hash_split
    from axonops_schema_registry_spark.llm.text import (
        ngram_novelty,
        robust_length_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage 1: qn1 gate (stats over the FULL corpus)
    stats = robust_length_stats(docs)
    surv = (docs.select("doc_id", "source", "text")
            .join(stats.filter(~F.col("is_len_outlier"))
                  .select("doc_id", "robust_z"), "doc_id")
            .localCheckpoint(eager=True))  # feeds 4 consumers
    # stage 2: ng1 novelty within the survivors
    nov = ngram_novelty(surv).select("doc_id", "novelty")
    # stage 3: cap1 over the survivors
    kept = cluster_capped_keep(surv, k=2)
    # stage 4: split1 assignment of the kept docs
    assign = hash_split(surv).select("doc_id", "split")
    return (kept.select("doc_id", "cluster_id", "keep_rank")
            .join(surv.select("doc_id", "source", "robust_z"),
                  "doc_id")
            .join(nov, "doc_id", "left")
            .join(assign, "doc_id")
            .select("doc_id", "source", "cluster_id", "keep_rank",
                    F.coalesce("novelty", F.lit(0.0)).alias("novelty"),
                    "robust_z", "split")
            .orderBy("doc_id"))


CUR3_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT doc_id, source, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents),
med AS (SELECT source, quantile_cont(n_words, 0.5) AS m
        FROM w GROUP BY source),
jj AS MATERIALIZED (SELECT w.*, med.m FROM w JOIN med USING (source)),
mad AS (SELECT source, quantile_cont(abs(n_words - m), 0.5) AS d
        FROM jj GROUP BY source),
surv AS MATERIALIZED (
  SELECT jj.doc_id, jj.source, jj.text,
         CASE WHEN mad.d <> 0 THEN (jj.n_words - jj.m) / mad.d END
           AS robust_z
  FROM jj JOIN mad ON mad.source = jj.source
  WHERE COALESCE(abs(CASE WHEN mad.d <> 0
                          THEN (jj.n_words - jj.m) / mad.d END) <= 3.0,
                 TRUE)),
toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM surv),
first AS (SELECT token, MIN(id) AS f FROM toks GROUP BY token),
nov AS MATERIALIZED (
  SELECT t.id AS doc_id,
         CAST(SUM(CASE WHEN first.f = t.id THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS novelty
  FROM toks t JOIN first ON first.token = t.token
  GROUP BY t.id),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id),
dup_pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach AS (
  WITH RECURSIVE r(root, node) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.node)
  SELECT root, node FROM r),
labels AS (SELECT root AS doc_id, MIN(node) AS cluster_id
           FROM reach GROUP BY root),
kept AS (
  SELECT doc_id, source, cluster_id, keep_rank FROM (
    SELECT s.doc_id, s.source,
           COALESCE(l.cluster_id, s.doc_id) AS cluster_id,
           CAST(row_number() OVER (
               PARTITION BY COALESCE(l.cluster_id, s.doc_id)
               ORDER BY s.doc_id) AS INT) AS keep_rank
    FROM surv s LEFT JOIN labels l ON l.doc_id = s.doc_id)
  WHERE keep_rank <= 2)
SELECT k.doc_id, k.source, k.cluster_id, k.keep_rank,
       COALESCE(nov.novelty, 0.0) AS novelty, s.robust_z,
       CASE WHEN h < {(1 << 48) * 4 // 5} THEN 'train'
            WHEN h < {(1 << 48) * 9 // 10} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *, CAST(concat('0x',
          substr(md5(CAST(doc_id AS STRING)), 1, 12)) AS BIGINT) AS h
      FROM kept) k
LEFT JOIN nov ON nov.doc_id = k.doc_id
JOIN surv s ON s.doc_id = k.doc_id
ORDER BY k.doc_id
"""


def ccn1_ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet end-to-end capstone (VERDICT r15 ask #3) — the pipeline
    Wenzek et al. 2020 actually runs, composed from this repo's
    already-oracle-green stages in the paper's order:

      1. language-ID gate (tx1's stopword-profile argmax, keep
         predicted 'en' — the fastText LID step, §3),
      2. canonical normalization (tx8's engine-exact ASCII fold, the
         pre-hash pass §4.1 runs before dedup),
      3. keep-first paragraph dedup (ln1's 10-word-block election,
         §4.1),
      4. LM perplexity terciles per source over the CLEANED text
         (ccb1; keep head+middle — §4.2, the stage CCNet is named
         for),
      5. quality-classifier rank gate (qf1's NBSVM scores against the
         src0 reference slice, top-100 — the GPT-3-style classifier
         leg, Brown et al. 2020 app. A; rank selection per the dsir1
         convention since a sign threshold keeps nothing on a
         deliberately uniform fixture corpus),
      6. token-budget mixture over the survivors (mix5, 120
         tokens/source — budgets bind at every SF because the rank
         gate makes the stage-6 pool SF-invariant).

    Emitted as the per-source stage receipt (doc counts in/after each
    gate, blocks removed, mixture tokens/checksum) so ONE DuckDB
    oracle replays the whole chain and the driver hash-checks every
    composition seam, not just the stages (the cur2/cur3 seam
    convention).

    Scale shape: each stage keeps its own documented 100 TB shape
    (gate + normalize are row-local off the scan; dedup is the packed
    HashAggregate election; ppl is vocab-bounded broadcast scoring +
    one per-source rank window; qf is one materialized feature frame
    + ≤4096-row broadcast weights; the mixture is one bounded window)
    — and every multi-consumer frame is lazily checkpointed once (the
    ccb1/qf2 two-consumer lesson): sources, the gated corpus, the
    cleaned corpus, the head+middle pool, and the top-100 winner set
    (whose recompute would otherwise re-run the classifier per
    consumer).

    The chain body lives in ``llm/ccnet.py:ccnet_receipt`` since r17
    (moved verbatim, plan-identical) so the streaming twin
    (``streaming/ccnet_stream.CCNetStreamSink``, ccn2) pins its
    stream ≡ batch equality against the SAME implementation this
    driver-checked spec runs."""
    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt

    return ccnet_receipt(load_table(spark, sf_dir, "documents"))


def _ccn1_oracle() -> str:
    """The full-chain DuckDB replay, assembled at import from the
    stage twins' shared SQL fragments so the lang/normalize seams
    cannot drift from tx1/tx8."""
    return rf"""
WITH srcs AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
gated AS (
  SELECT doc_id, source, {_tx8_norm_sql()} AS text
  FROM documents
  WHERE ({predict_lang_sql('text')}) = 'en'),
langc AS (SELECT source, COUNT(*) AS n_lang FROM gated GROUP BY source),
ws AS (SELECT doc_id AS id, source, string_split(text, ' ') AS w
       FROM gated),
blocks AS (
  SELECT id, source, b AS block_idx,
         array_to_string(w[(b-1)*10+1 : least(b*10, len(w))], ' ')
           AS btext,
         least(b*10, len(w)) - (b-1)*10 AS bwords
  FROM (SELECT id, source, w,
               unnest(generate_series(1,
                   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS b
        FROM ws)),
keepflag AS (
  SELECT id, source, block_idx, btext,
         (bwords < 5 OR
          row_number() OVER (PARTITION BY btext
                             ORDER BY id, block_idx) = 1) AS keep
  FROM blocks),
cleaned AS (
  SELECT id AS doc_id, ANY_VALUE(source) AS source,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           AS n_removed,
         COALESCE(string_agg(CASE WHEN keep THEN btext END, ' '
                             ORDER BY block_idx), '') AS text
  FROM keepflag GROUP BY id),
ded AS (
  SELECT source,
         SUM(CASE WHEN text <> '' THEN 1 ELSE 0 END) AS n_dedup,
         SUM(n_removed) AS blocks_removed
  FROM cleaned GROUP BY source),
surv AS MATERIALIZED (
  SELECT doc_id, source, text FROM cleaned WHERE text <> ''),
tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM surv)
  WHERE t <> ''),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab),
sc AS (SELECT t, round(-ln(c / n), 6) AS s FROM vocab, tot),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE)
               / COUNT(*), 4) AS mean_surprisal
  FROM tok JOIN sc USING (t)
  GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id,
         row_number() OVER (PARTITION BY v.source
                            ORDER BY s.mean_surprisal, s.doc_id) AS r,
         COUNT(*) OVER (PARTITION BY v.source) AS cnt
  FROM scored s JOIN surv v USING (doc_id)),
hm AS MATERIALIZED (
  SELECT v.doc_id, v.source, v.text
  FROM surv v JOIN ranked r USING (doc_id)
  WHERE CAST(((r.r - 1) * 3) // r.cnt AS INT) <= 1),
hmc AS (SELECT source, COUNT(*) AS n_head_middle FROM hm
        GROUP BY source),
wsf AS (SELECT doc_id, string_split(text, ' ') AS a FROM hm),
uni AS (SELECT doc_id, unnest(a) AS f FROM wsf),
bi AS (
  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS f
  FROM (SELECT doc_id, a,
               unnest(generate_series(1, greatest(len(a) - 1, 0)))
                 AS i
        FROM wsf)),
feat AS MATERIALIZED (
  SELECT doc_id AS id,
         CAST(concat('0x', substr(md5(f), 1, 12)) AS BIGINT)
           % 4096 AS b,
         COUNT(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY id, b),
allc AS (SELECT b, SUM(cnt) AS ca FROM feat GROUP BY b),
pos AS (SELECT b, SUM(cnt) AS cp
        FROM feat JOIN hm h ON feat.id = h.doc_id
        WHERE h.source = 'src0' GROUP BY b),
nn AS (SELECT (SELECT SUM(ca) FROM allc) AS na,
              (SELECT COALESCE(SUM(cp), 0) FROM pos) AS np),
wt AS (
  SELECT b,
         CAST(floor(((ln(COALESCE(cp, 0) + 1) - ln(np + 4096))
                     - (ln(ca - COALESCE(cp, 0) + 1)
                        - ln(na - np + 4096))) * 1000000)
              AS BIGINT) AS w
  FROM allc LEFT JOIN pos USING (b), nn),
qsc AS (
  SELECT id, CAST(SUM(cnt * w) AS BIGINT) AS score_micro
  FROM feat JOIN wt USING (b) GROUP BY id),
qk AS MATERIALIZED (
  SELECT h.doc_id, h.source, h.text
  FROM hm h JOIN (SELECT id FROM qsc
                  ORDER BY score_micro DESC, id LIMIT 100) t
    ON h.doc_id = t.id),
qc AS (SELECT source, COUNT(*) AS n_quality FROM qk GROUP BY source),
mr AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING)), 1, 12))
              AS BIGINT) AS h
  FROM qk),
cum AS (
  SELECT source, doc_id,
         SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
           AS mix_rank
  FROM mr),
sel AS (
  SELECT source, COUNT(*) AS n_selected,
         MAX(cum_tokens) AS tokens_selected,
         SUM(doc_id) AS id_checksum,
         MAX(mix_rank) AS max_rank
  FROM cum WHERE cum_tokens <= 120 GROUP BY source)
SELECT s.source,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(l.n_lang, 0) AS BIGINT) AS n_lang,
       CAST(COALESCE(d.n_dedup, 0) AS BIGINT) AS n_dedup,
       CAST(COALESCE(d.blocks_removed, 0) AS BIGINT) AS blocks_removed,
       CAST(COALESCE(h.n_head_middle, 0) AS BIGINT) AS n_head_middle,
       CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(m.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(COALESCE(m.tokens_selected, 0) AS BIGINT)
         AS tokens_selected,
       CAST(COALESCE(m.id_checksum, 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(m.max_rank, 0) AS BIGINT) AS max_rank
FROM srcs s
LEFT JOIN langc l USING (source)
LEFT JOIN ded d USING (source)
LEFT JOIN hmc h USING (source)
LEFT JOIN qc q USING (source)
LEFT JOIN sel m USING (source)
ORDER BY s.source
"""


CCN1_ORACLE = _ccn1_oracle()


SPECS: list[QuerySpec] = [
    QuerySpec("ng1_ngram_novelty", ng1_ngram_novelty, NG1_ORACLE,
              tags=("llm", "text", "novelty", "agg")),
    QuerySpec("cur3_quality_dedup_split", cur3_quality_dedup_split,
              CUR3_ORACLE,
              tags=("llm", "curation", "composition", "dedup",
                    "sampling")),
    QuerySpec("cap1_cluster_cap_sampling", cap1_cluster_cap_sampling,
              CAP1_ORACLE,
              tags=("llm", "dedup", "sampling", "window",
                    "iterative")),
    QuerySpec("ppl2_bigram_perplexity", ppl2_bigram_perplexity,
              PPL2_ORACLE, tags=("llm", "text", "quality", "agg")),
    QuerySpec("split1_dataset_split", split1_dataset_split,
              SPLIT1_ORACLE, tags=("llm", "sampling", "export")),
    QuerySpec("ctm4_split_leakage", ctm4_split_leakage, CTM4_ORACLE,
              tags=("llm", "contamination", "sampling",
                    "composition")),
    QuerySpec("ctm5_split_near_leakage", ctm5_split_near_leakage,
              CTM5_ORACLE,
              tags=("llm", "contamination", "dedup", "sampling")),
    QuerySpec("ctm6_contamination_report", ctm6_contamination_report,
              CTM6_ORACLE,
              tags=("llm", "contamination", "dedup", "agg",
                    "composition")),
    QuerySpec("qn1_robust_length_normalization",
              qn1_robust_length_normalization, QN1_ORACLE,
              tags=("llm", "quality", "stats")),
    QuerySpec("out1_embedding_outliers", out1_embedding_outliers,
              OUT1_ORACLE, tags=("llm", "similarity", "quality",
                                 "window")),
    QuerySpec("pk1_sequence_packing", pk1_sequence_packing, PK1_ORACLE,
              tags=("llm", "packing", "window", "agg")),
    QuerySpec("pk2_segmented_packing", pk2_segmented_packing, PK2_ORACLE,
              tags=("llm", "packing", "window", "agg", "scale")),
    QuerySpec("pk3_whole_doc_packing", pk3_whole_doc_packing, PK3_ORACLE,
              tags=("llm", "packing", "udf", "agg")),
    QuerySpec("bpe1_merge_candidates", bpe1_merge_candidates,
              BPE1_ORACLE, tags=("llm", "text", "tokenizer", "agg")),
    QuerySpec("bpe2_merge_table", bpe2_merge_table, BPE2_ORACLE,
              tags=("llm", "text", "tokenizer", "iterative")),
    QuerySpec("bpe3_tokenize", bpe3_tokenize, BPE3_ORACLE,
              tags=("llm", "text", "tokenizer", "iterative")),
    QuerySpec("bpe4_fertility", bpe4_fertility, BPE4_ORACLE,
              tags=("llm", "text", "tokenizer", "stats")),
    QuerySpec("gq1_gopher_quality", gq1_gopher_quality, GQ1_ORACLE,
              tags=("llm", "text", "quality", "agg")),
    QuerySpec("gq2_repetition", gq2_repetition, GQ2_ORACLE,
              tags=("llm", "text", "quality")),
    QuerySpec("ch1_document_chunking", ch1_document_chunking, CH1_ORACLE,
              tags=("llm", "packing", "chunking")),
    QuerySpec("qz1_int8_quantization", qz1_int8_quantization, QZ1_ORACLE,
              tags=("llm", "similarity", "quantization")),
    QuerySpec("rel1_release_report", rel1_release_report, REL1_ORACLE,
              tags=("llm", "dedup", "contamination", "quality", "pii",
                    "agg")),
    QuerySpec("wn1_winnowing", wn1_winnowing, WN1_ORACLE,
              tags=("llm", "dedup", "fingerprint")),
    QuerySpec("ctm3_semantic_contamination", ctm3_semantic_contamination,
              CTM3_ORACLE, tags=("llm", "contamination", "ann")),
    QuerySpec("qz2_pq_encode", qz2_pq_encode, QZ2_ORACLE,
              tags=("llm", "similarity", "quantization")),
    QuerySpec("nn4_pq_adc_topk", nn4_pq_adc_topk, NN4_ORACLE,
              tags=("llm", "similarity", "ann", "quantization")),
    QuerySpec("ev1_ann_recall", ev1_ann_recall, EV1_ORACLE,
              tags=("llm", "similarity", "ann", "evaluation")),
    QuerySpec("ev2_lsh_recall", ev2_lsh_recall, EV2_ORACLE,
              tags=("llm", "similarity", "ann", "evaluation")),
    QuerySpec("ev3_planted_recall", ev3_planted_recall, EV3_ORACLE,
              tags=("llm", "similarity", "ann", "evaluation")),
    QuerySpec("sem1_semantic_dedup", sem1_semantic_dedup, SEM1_ORACLE,
              tags=("llm", "dedup", "similarity", "iterative")),
    QuerySpec("sem2_cluster_mixture", sem2_cluster_mixture,
              SEM2_ORACLE,
              tags=("llm", "similarity", "sampling", "mixture")),
    QuerySpec("tx8_normalize", tx8_normalize, TX8_ORACLE,
              tags=("llm", "text", "normalization")),
    QuerySpec("tx9_encoding_scan", tx9_encoding_scan, TX9_ORACLE,
              tags=("llm", "text", "quality")),
    QuerySpec("lab1_label_cohesion", lab1_label_cohesion, LAB1_ORACLE,
              tags=("llm", "similarity", "quality", "agg")),
    QuerySpec("bp1_boilerplate_spans", bp1_boilerplate_spans, BP1_ORACLE,
              tags=("llm", "dedup", "boilerplate")),
    QuerySpec("es1_exact_substring_spans", es1_exact_substring_spans,
              ES1_ORACLE, tags=("llm", "dedup", "substring", "window")),
    # 100 TB form (VERDICT r10 ask #2): no oracle — output pinned
    # equal to es1 in pytest
    QuerySpec("es1h_exact_substring_spans_hashed",
              es1h_exact_substring_spans_hashed, None,
              tags=("llm", "dedup", "substring", "window", "scale")),
    QuerySpec("es2_span_removal", es2_span_removal, ES2_ORACLE,
              tags=("llm", "dedup", "substring")),
    QuerySpec("es3_decontamination_cut", es3_decontamination_cut,
              ES3_ORACLE,
              tags=("llm", "dedup", "contamination", "substring")),
    QuerySpec("ln1_line_dedup", ln1_line_dedup, LN1_ORACLE,
              tags=("llm", "dedup", "paragraph")),
    QuerySpec("ln2_line_decontamination", ln2_line_decontamination,
              LN2_ORACLE,
              tags=("llm", "dedup", "contamination", "paragraph")),
    QuerySpec("kd1_key_skew_profile", kd1_key_skew_profile, KD1_ORACLE,
              tags=("llm", "dedup", "stats", "skew")),
    QuerySpec("kd2_lsh_bucket_profile", kd2_lsh_bucket_profile, None,
              tags=("llm", "dedup", "stats", "skew")),
    QuerySpec("dsir1_importance_selection", dsir1_importance_selection,
              DSIR1_ORACLE,
              tags=("llm", "sampling", "selection", "agg")),
    QuerySpec("qf1_quality_filter", qf1_quality_filter, QF1_ORACLE,
              tags=("llm", "sampling", "quality", "agg")),
    QuerySpec("qf2_quality_gated_mixture", qf2_quality_gated_mixture,
              QF2_ORACLE,
              tags=("llm", "sampling", "quality", "composition")),
    QuerySpec("ccn1_ccnet_pipeline", ccn1_ccnet_pipeline, CCN1_ORACLE,
              tags=("llm", "curation", "composition", "dedup",
                    "sampling", "quality")),
    QuerySpec("shard1_export_manifest", shard1_export_manifest,
              SHARD1_ORACLE, tags=("llm", "export", "agg")),
    QuerySpec("cur2_cut_select_export", cur2_cut_select_export,
              CUR2_ORACLE,
              tags=("llm", "curation", "composition", "export")),
    QuerySpec("qs1_length_quantiles", qs1_length_quantiles,
              QS1_ORACLE, tags=("llm", "stats", "agg")),
    QuerySpec("ti1_tfidf_terms", ti1_tfidf_terms, TI1_ORACLE,
              tags=("llm", "text", "join", "window")),
    QuerySpec("dd1_exact_dedup", dd1_exact_dedup, DD1_ORACLE,
              tags=("llm", "dedup")),
    QuerySpec("dd2_minhash_lsh_dedup", dd2_minhash_lsh_dedup,
              _JACCARD_ALLPAIRS_ORACLE, tags=("llm", "dedup")),
    QuerySpec("dd3_simhash_dedup", dd3_simhash_dedup, DD3_ORACLE,
              tags=("llm", "dedup")),
    QuerySpec("dd7_incremental_dedup", dd7_incremental_dedup, DD7_ORACLE,
              tags=("llm", "dedup", "streaming")),
    QuerySpec("ctm1_contamination_check", ctm1_contamination_check,
              CTM1_ORACLE, tags=("llm", "dedup", "contamination")),
    QuerySpec("cur1_curation_pass", cur1_curation_pass, CUR1_ORACLE,
              tags=("llm", "dedup", "contamination", "pii")),
    QuerySpec("ctm2_bloom_contamination", ctm2_bloom_contamination,
              CTM1_ORACLE, tags=("llm", "contamination", "bloom")),
    QuerySpec("tx7_pii_scan", tx7_pii_scan, TX7_ORACLE,
              tags=("llm", "text", "pii")),
    QuerySpec("dd4_dedup_clusters", dd4_dedup_clusters, DD4_ORACLE,
              tags=("llm", "dedup", "iterative")),
    QuerySpec("dd5_cross_source_dup_matrix", dd5_cross_source_dup_matrix,
              DD5_ORACLE, tags=("llm", "dedup")),
    QuerySpec("dd8_quality_representatives", dd8_quality_representatives,
              DD8_ORACLE, tags=("llm", "dedup", "window", "iterative")),
    QuerySpec("dd6_embedding_cosine_dedup", dd6_embedding_cosine_dedup,
              DD6_ORACLE, tags=("llm", "dedup", "similarity")),
    # 100 TB form (VERDICT r10 ask #2): occupancy-targeted
    # LSH bits — no oracle (dd6's SQL replay must keep the literal);
    # correctness pinned in tests/test_bench_variants.py
    QuerySpec("dd6b_embedding_cosine_dedup_scaled",
              dd6b_embedding_cosine_dedup_scaled, None,
              tags=("llm", "dedup", "similarity", "scale")),
    QuerySpec("tx6_token_rarity", tx6_token_rarity, TX6_ORACLE,
              tags=("llm", "text")),
    QuerySpec("sk1_distinct_sketches", sk1_distinct_sketches, SK1_ORACLE,
              tags=("llm", "sketch")),
    # nn1 is the exact-oracle baseline; the production path is the LSH
    # one — the crossJoin must never be the number we optimize, it is a
    # cartesian product at 100x corpus (round-1 verdict item 4)
    QuerySpec("nn1_cosine_topk", nn1_cosine_topk, NN1_ORACLE,
              tags=("llm", "similarity")),
    QuerySpec("nn2_lsh_ann_topk", nn2_lsh_ann_topk, NN2_ORACLE,
              tags=("llm", "similarity")),
    QuerySpec("nn3_ivf_ann_topk", nn3_ivf_ann_topk, NN3_ORACLE,
              tags=("llm", "similarity")),
    QuerySpec("nn5_multiprobe_lsh_topk", nn5_multiprobe_lsh_topk,
              NN5_ORACLE, tags=("llm", "similarity", "ann")),
    QuerySpec("nn6_store_lookup_topk", nn6_store_lookup_topk,
              NN6_ORACLE,
              tags=("llm", "similarity", "ann", "streaming")),
    QuerySpec("zf1_zipf_diagnostics", zf1_zipf_diagnostics, ZF1_ORACLE,
              tags=("llm", "text", "stats", "agg")),
    QuerySpec("ev5_ivf_recall", ev5_ivf_recall, EV5_ORACLE,
              tags=("llm", "similarity", "ann", "eval")),
    QuerySpec("ev4_multiprobe_recall", ev4_multiprobe_recall,
              EV4_ORACLE, tags=("llm", "similarity", "evaluation")),
    QuerySpec("tx1_language_id", tx1_language_id, TX1_ORACLE,
              tags=("llm", "text")),
    QuerySpec("tx2_token_stats", tx2_token_stats, TX2_ORACLE,
              tags=("llm", "text")),
    QuerySpec("tx3_rolling_fingerprint", tx3_rolling_fingerprint, TX3_ORACLE,
              tags=("llm", "text")),
    QuerySpec("tx4_char_entropy", tx4_char_entropy, TX4_ORACLE,
              tags=("llm", "text")),
    QuerySpec("tx5_dataset_card", tx5_dataset_card, TX5_ORACLE,
              tags=("llm", "text")),
    QuerySpec("mm1_multimodal_decode", mm1_multimodal_decode, MM1_ORACLE,
              tags=("llm", "multimodal")),
    QuerySpec("mm3_pixel_decode", mm3_pixel_decode, MM3_ORACLE,
              tags=("llm", "multimodal", "udf")),
    QuerySpec("mm4_wav_decode", mm4_wav_decode, MM4_ORACLE,
              tags=("llm", "multimodal", "udf")),
    QuerySpec("mm5_jpeg_decode", mm5_jpeg_decode, MM5_ORACLE,
              tags=("llm", "multimodal", "udf", "codec")),
    QuerySpec("mm6_video_headers", mm6_video_headers, MM6_ORACLE,
              tags=("llm", "multimodal", "udf")),
    QuerySpec("ppl1_unigram_perplexity", ppl1_unigram_perplexity,
              PPL1_ORACLE, tags=("llm", "text", "quality", "agg")),
    QuerySpec("ccb1_perplexity_buckets", ccb1_perplexity_buckets,
              CCB1_ORACLE,
              tags=("llm", "text", "quality", "window", "agg")),
    QuerySpec("mm2_header_decode", mm2_header_decode, MM2_ORACLE,
              tags=("llm", "multimodal")),
    QuerySpec("smp1_stratified_sample", smp1_stratified_sample,
              SMP1_ORACLE, tags=("llm", "sampling")),
    QuerySpec("mix2_segmented_mixture", mix2_segmented_mixture,
              MIX1_ORACLE,
              tags=("llm", "sampling", "window", "scale")),
    QuerySpec("mix1_dataset_mixture", mix1_dataset_mixture, MIX1_ORACLE,
              tags=("llm", "sampling")),
    QuerySpec("mix3_temperature_mixture", mix3_temperature_mixture,
              MIX3_ORACLE, tags=("llm", "sampling", "agg")),
    QuerySpec("mix4_exact_budget_quotas", mix4_exact_budget_quotas,
              MIX4_ORACLE, tags=("llm", "sampling", "agg")),
    QuerySpec("mix5_token_budget_mixture", mix5_token_budget_mixture,
              MIX5_ORACLE, tags=("llm", "sampling", "window", "agg")),
    QuerySpec("bud1_budget_revision_admission",
              bud1_budget_revision_admission, BUD1_ORACLE,
              tags=("llm", "sampling", "window", "agg", "streaming")),
    QuerySpec("ord1_manifest_order_audit", ord1_manifest_order_audit,
              ORD1_ORACLE,
              tags=("llm", "dedup", "sampling", "streaming", "agg")),
    QuerySpec("man1_order_safe_manifest", man1_order_safe_manifest,
              MAN1_ORACLE,
              tags=("llm", "dedup", "sampling", "streaming", "agg",
                    "composition")),
    QuerySpec("vg1_vocab_growth", vg1_vocab_growth, VG1_ORACLE,
              tags=("llm", "text", "agg", "window")),
]

"""Train/test contamination detection for training-data curation.

Benchmark decontamination is a distinct operation from near-dup
removal: a training document is CONTAMINATED when it contains an exact
n-gram span that also appears in an evaluation set, even when the two
documents are globally dissimilar (a quoted test question inside a long
web page).  The standard pipeline step removes or flags such documents
before training.

Scale design: the evaluation set is orders of magnitude smaller than
the training corpus, so its exploded span set is the BROADCAST side of
one equi-join against the training corpus's spans — a single scan of
the 100 TB side, no shuffle of the big table beyond the final
per-document rollup (map-side combinable).  At extreme scale the spans
of the small side become a bloom filter pushed into the scan; the
equi-join here is the exact variant an oracle can verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngram_spans(df: DataFrame, id_col: str, text_col: str,
                n: int = 5) -> DataFrame:
    """Distinct word n-gram spans per document (id, span).

    Documents with fewer than ``n`` tokens contribute no spans: Spark's
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]`` (not empty like
    DuckDB's ``generate_series(1, 0)``) and ``slice(arr, 0, n)`` throws
    INVALID_PARAMETER_VALUE.START, so the short-doc case must be gated
    to an explicit empty array rather than relying on the bound.
    """
    # split once (projected column): an inline split in the lambda is
    # re-evaluated per element — O(words²) per doc.  Dedup is
    # PER-DOCUMENT, so array_distinct before the explode does it
    # row-locally (r18; the token_set shape) — the old post-explode
    # .distinct() shuffled every (id, span) row corpus-wide for the
    # same result.
    spans = F.expr(
        f"CASE WHEN size(__ws) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(__ws) - {n - 1}), "
        f"i -> array_join(slice(__ws, i, {n}), ' '))) "
        f"ELSE array() END")
    return (df.select(F.col(id_col).alias("id"),
                      F.split(F.col(text_col), " ").alias("__ws"))
              .select("id", F.explode(spans).alias("span")))


def contamination_flags(train: DataFrame, test: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        n: int = 5) -> DataFrame:
    """Per-training-document contamination report: how many distinct
    evaluation spans it contains and how many evaluation documents it
    collides with.  ``test`` is the small side — its span set
    broadcasts."""
    train_spans = ngram_spans(train, id_col, text_col, n)
    test_spans = (ngram_spans(test, id_col, text_col, n)
                  .withColumnRenamed("id", "test_id"))
    hits = train_spans.join(F.broadcast(test_spans), "span")
    return (hits.groupBy(F.col("id").alias(id_col))
                .agg(F.countDistinct("span").alias("n_shared_spans"),
                     F.countDistinct("test_id").alias("n_test_docs")))


def bloom_prefilter_spans(spans: DataFrame, member_spans: DataFrame,
                          m_bits: int = 1 << 18,
                          k: int = 4) -> DataFrame:
    """Bloom-filter prefilter: keep only the rows of ``spans`` whose
    ``span`` value MIGHT be in ``member_spans`` — no false negatives by
    construction, false positives removed by the exact join downstream.

    The filter is built with plain DataFrame ops (Spark exposes no
    user-callable bloom_filter_agg): the m-bit array lives as <=m/64
    (word, mask) rows built by a bit_or aggregate, tiny enough to
    broadcast (2^18 bits = 32 KB) NO MATTER how many member spans there
    are — which is exactly when this beats broadcasting the span
    strings themselves.  Membership = all k seeded-xxhash64 probe bits
    set, tested via a broadcast equi-join on the word index.
    """
    def probes(df: DataFrame) -> DataFrame:
        return (df
                .withColumn("__seed", F.explode(
                    F.expr(f"sequence(0, {k - 1})")))
                .withColumn("__pos", F.pmod(
                    F.xxhash64(F.col("span"), F.col("__seed")),
                    F.lit(m_bits)))
                .withColumn("__word",
                            F.expr("CAST(__pos / 64 AS BIGINT)"))
                .withColumn("__bit",
                            (F.col("__pos") % 64).cast("int")))

    bloom = (probes(member_spans.select("span").distinct())
             .groupBy("__word")
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), __bit))")
                  .alias("__mask")))
    out_cols = spans.columns
    # count DISTINCT surviving seeds, not surviving rows: duplicate
    # input rows collapse into one group whose plain row count would be
    # a multiple of k — `== k` would then silently drop the span, a
    # false negative contradicting the contract above.  (The output is
    # row-distinct either way; the exact join downstream re-derives
    # multiplicity from the un-prefiltered frame it joins against.)
    return (probes(spans)
            .join(F.broadcast(bloom), "__word")
            .filter(F.expr("(__mask >> __bit) & 1 = 1"))
            .groupBy(*out_cols)
            .agg(F.countDistinct("__seed").alias("__k_hits"))
            .filter(F.col("__k_hits") == k)
            .select(*out_cols))


def contamination_flags_bloom(train: DataFrame, test: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              n: int = 5,
                              m_bits: int = 1 << 18,
                              k: int = 4) -> DataFrame:
    """The 100 TB escalation of :func:`contamination_flags`: when the
    evaluation span set is too large to broadcast as strings, its
    bloom image broadcasts instead, the training side's spans are
    prefiltered by probe-bit tests, and ONLY surviving candidates reach
    the exact span join — so the output is IDENTICAL to the exact
    operator (the ctm2 driver spec runs this against ctm1's oracle).
    Consistent with that premise, the exact verify is a SHUFFLE join on
    span (never a broadcast of the big eval side) — candidate volume,
    not eval size, bounds its cost.

    Size ``m_bits`` at ~10 bits per member span (with k=4 that gives a
    ~1.2% false-positive rate); an undersized bloom saturates toward
    all-bits-set, which never changes the result — the exact join
    removes every false positive — but degrades pruning back to the
    full shuffle join's cost plus probe overhead."""
    train_spans = ngram_spans(train, id_col, text_col, n)
    test_spans = (ngram_spans(test, id_col, text_col, n)
                  .withColumnRenamed("id", "test_id"))
    candidates = bloom_prefilter_spans(train_spans, test_spans,
                                       m_bits, k)
    hits = candidates.join(test_spans, "span")
    return (hits.groupBy(F.col("id").alias(id_col))
                .agg(F.countDistinct("span").alias("n_shared_spans"),
                     F.countDistinct("test_id").alias("n_test_docs")))


def split_leakage_flags(labeled: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        n: int = 5,
                        split_col: str = "split",
                        broadcast_threshold: int | None = None,
                        m_bits: int = 1 << 18,
                        k: int = 4) -> DataFrame:
    """Train/test split-leakage audit over a split-labeled corpus
    (the ctm4 operator, shared by the spec and the escalation test):
    one row per TRAIN document with the count of distinct n-gram
    spans it shares with the TEST split, the distinct test documents
    it collides with, and the leaked flag.

    ``broadcast_threshold`` is the ESCALATION SWITCH (VERDICT r12
    ask #7 — previously only a docstring promise): ``None`` keeps
    ctm1's exact shape (the test split's span set broadcasts —
    right for the usual 10% split); when set and the test split
    holds MORE rows than the threshold, the audit reroutes through
    :func:`contamination_flags_bloom` — the test side broadcasts as
    a ~m_bits/8-byte bloom image instead of strings, the train side
    is prefiltered by probe-bit tests, and the exact span join runs
    as a shuffle on the surviving candidates only.  Both paths emit
    IDENTICAL flags by construction (the bloom path's exact join
    removes every false positive); the equality is pinned at a 30%
    test split in tests/test_llm_ops.py.  Cost of the switch (ADVICE
    r13): the sizing ``count()`` is an EAGER FULL PASS over the
    test-side plan — the split filter plus whatever produced
    ``labeled`` (e.g. the facade's hash_split join) — executed at
    DataFrame-construction time and re-executed on every call made
    with ``broadcast_threshold`` set.  With the default ``None`` the
    short-circuit skips it entirely.  Callers that invoke this
    repeatedly with the switch armed should cache/localCheckpoint
    ``labeled`` first (the sf1 correctness sweep at commit d15378d
    did)."""
    train = labeled.filter(F.col(split_col) == "train")
    test = labeled.filter(F.col(split_col) == "test")
    if (broadcast_threshold is not None
            and test.count() > broadcast_threshold):
        hits = contamination_flags_bloom(train, test, id_col,
                                         text_col, n, m_bits, k)
    else:
        hits = contamination_flags(train, test, id_col, text_col, n)
    return (train.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_shared_spans", F.lit(0))
                    .cast("bigint").alias("n_shared_spans"),
                    F.coalesce("n_test_docs", F.lit(0))
                    .cast("bigint").alias("n_test_docs"),
                    (F.coalesce("n_shared_spans", F.lit(0)) > 0)
                    .alias("leaked")))


def near_split_leakage(labeled: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       split_col: str = "split",
                       threshold: float = 0.8,
                       ngram: int = 3) -> DataFrame:
    """NEAR-dup train/test split leakage over a split-labeled corpus
    (the ctm5 operator core, shared by the spec and the ctm6 report
    card): one row per leaking TRAIN document with its distinct test
    neighbors at >= threshold Jaccard and the worst Jaccard.

    Scale shape (see the ctm5 spec docstring for the full contract,
    incl. the oracle's banding-recall dependency): ONE banded-LSH
    pair generation over the train+test corpus (val rows SHOULD be
    filtered out by the caller before shingling so the split filter
    reaches the scan — that is the cost lever), split labels joined
    onto the (tiny) pair set, not the corpus.  Correctness does not
    depend on the pre-filter: pairs touching any label other than
    train/test are dropped on the pair set below, so an unfiltered
    corpus merely pays the wasted shingling — it can never surface a
    val document as a fabricated train_id/test_id row."""
    from axonops_schema_registry_spark.llm.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(labeled, id_col, text_col,
                              threshold=threshold, ngram=ngram)
    sp = labeled.select(id_col, split_col)
    x = (pairs
         .join(sp.select(F.col(id_col).alias("id_a"),
                         F.col(split_col).alias("__sa")), "id_a")
         .join(sp.select(F.col(id_col).alias("id_b"),
                         F.col(split_col).alias("__sb")), "id_b")
         .filter(F.col("__sa") != F.col("__sb"))
         .filter(F.col("__sa").isin("train", "test")
                 & F.col("__sb").isin("train", "test")))
    norm = x.select(
        F.when(F.col("__sa") == "train", F.col("id_a"))
        .otherwise(F.col("id_b")).alias("train_id"),
        F.when(F.col("__sa") == "train", F.col("id_b"))
        .otherwise(F.col("id_a")).alias("test_id"),
        "jaccard")
    return (norm.groupBy("train_id")
            .agg(F.countDistinct("test_id").alias("n_test_neighbors"),
                 F.max("jaccard").alias("max_jaccard")))

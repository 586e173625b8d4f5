"""Text/matching operators: tokenization, Jaccard similarity, fuzzy match,
glob translation.

Reference parity (citations into /root/reference/):
- ``jaccard_pairs``  — similarity self-join J4/E3
                       (internal/api/handlers/analysis.go:376-429).
- ``fuzzy_pairs``    — Levenshtein fuzzy matching F7-F9
                       (internal/analysis/fuzzy.go:9-56,121-130).
- ``glob_to_regex``  — glob search F3 (analysis.go:684-715).

Scale notes: ``jaccard_pairs`` is the join-based (not cross-product)
formulation — explode to (id, token), equi-join on token, aggregate pair
intersections — so cost is Σ_token df(token)², not n².  For 100 TB-scale
corpora swap the exact pass for MinHash-LSH
(axonops_schema_registry_spark.llm.dedup.minhash_lsh_pairs) which buckets
candidates first and verifies exactly, keeping the quadratic term bounded
by band-bucket sizes.  ``fuzzy_pairs`` restricts the cross join to a
blocking key for the same reason.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_arrays(df: DataFrame, id_col: str, text_col: str,
                 ngram: int = 1) -> DataFrame:
    """(id, toks) — each document's DISTINCT token (or n-gram shingle)
    set as ONE array row, derived entirely row-locally (split /
    transform / array_distinct are JVM-side whole-stage codegen, no
    explode, no shuffle beyond the parallelism repartition).

    This is the bounded-memory base of the signature family (r19):
    consumers that need per-document set arithmetic (MinHash seeded
    minima, SimHash bit votes, set sizes) compute it as a PROJECTION
    over this frame — the document's tokens stream through as row
    data — instead of exploding to (id, token) and re-aggregating with
    ``collect_list``, whose per-group aggregation buffer re-built the
    same array as unbounded execution-memory state (a pathological
    multi-million-token document became a single aggregation-row
    memory spike; as row data it is no bigger than the document row
    itself and never enters a hash-aggregate buffer).
    """
    # Materialize the token array ONCE per row before shingling — a lambda
    # that calls split() per element re-tokenizes the whole text for every
    # shingle (O(len²) per doc; 4x wall-clock on the sf0.1 corpus).
    # repartition first: the corpus arrives as one parquet split, and the
    # explode/hash chain should run on all cores.
    base = (df.repartition(F.col(id_col))
              .select(F.col(id_col).alias("id"),
                      F.split(F.col(text_col), " ").alias("__toks"))
              .filter(F.size("__toks") >= ngram))
    if ngram == 1:
        tokens = F.col("__toks")
    else:
        # the size guard is a CASE ON THE EXPRESSION ITSELF, not just
        # the filter above: codegen subexpression elimination can
        # evaluate a merged filter's common subexpressions EAGERLY
        # (before the predicate's short-circuit AND), and on a
        # too-short row sequence(1, 0) is the DESCENDING [1, 0] whose
        # slice(·, 0, ·) raises — conditional branches are never
        # hoisted, so the CASE makes the transform total (the
        # _positioned_grams idiom).
        tokens = F.expr(
            f"CASE WHEN size(__toks) >= {ngram} THEN "
            f"transform(sequence(1, size(__toks) - {ngram - 1}), "
            f"i -> array_join(slice(__toks, i, {ngram}), ' ')) "
            f"ELSE array() END")
    # dedup is PER-DOCUMENT, so array_distinct does it row-locally —
    # no cross-row distinct shuffle needed.
    return base.select("id", F.array_distinct(tokens).alias("toks"))


def token_set(df: DataFrame, id_col: str, text_col: str,
              ngram: int = 1) -> DataFrame:
    """Distinct (id, token) pairs; word n-gram shingles when ``ngram`` > 1.

    Stays entirely in whole-stage codegen: split / transform / explode are
    JVM-side, no Python UDF.

    Deliberately NOT the explode of :func:`token_arrays` (r19): the
    CASE gate that function needs (its arrays nest into downstream
    join-key filters where codegen subexpression elimination can
    evaluate them eagerly on too-short rows) makes a Generate's
    generator expression conditional, and that demotes the hot explode
    out of whole-stage codegen — measured 4-5x wall on the
    explode-heavy consumers (e3/ng1 bench draws 0.99 → ~4.7 s before
    this split).  Here the ``size >= ngram`` filter sits immediately
    below its OWN projection with no such filter merging, so the
    ungated transform is safe — the pre-r19 shape, kept verbatim.
    """
    base = (df.repartition(F.col(id_col))
              .select(F.col(id_col).alias("id"),
                      F.split(F.col(text_col), " ").alias("__toks"))
              .filter(F.size("__toks") >= ngram))
    if ngram == 1:
        tokens = F.col("__toks")
    else:
        tokens = F.expr(
            f"transform(sequence(1, size(__toks) - {ngram - 1}), "
            f"i -> array_join(slice(__toks, i, {ngram}), ' '))")
    # dedup is PER-DOCUMENT, so array_distinct before the explode does it
    # row-locally — no cross-row distinct shuffle needed.
    return base.select("id",
                       F.explode(F.array_distinct(tokens)).alias("token"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float, ngram: int = 1) -> DataFrame:
    """All (id_a < id_b) pairs with token-set Jaccard >= threshold.

    Join-based: |A ∩ B| from an equi-join on token, |A ∪ B| = |A|+|B|-|∩|.
    Jaccard is BIGINT/BIGINT double division — bit-deterministic.
    """
    # The exploded token set feeds three consumers (sizes, both join sides);
    # cache it so the explode/shingle pipeline runs once.  Size is
    # O(corpus tokens) — the derived frame, not the corpus — and at 100 TB
    # this would be a checkpointed intermediate table instead.  Registered
    # for facade-level release (operators.core.release_plan_caches).
    from axonops_schema_registry_spark.operators.core import plan_cache

    toks = plan_cache(token_set(df, id_col, text_col, ngram))
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = toks.select(F.col("id").alias("id_a"), "token")
    b = toks.select(F.col("id").alias("id_b"), "token")
    inter = (a.join(b, "token")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (
        inter
        .join(sizes.select(F.col("id").alias("id_a"),
                           F.col("set_size").alias("size_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("set_size").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "size_a", "size_b", "jaccard")
    )
    return out


def fuzzy_pairs(df: DataFrame, id_col: str, name_col: str, block_col: str,
                threshold: float) -> DataFrame:
    """Fuzzy-score pairs within a blocking key (F7-F9).

    score = 1 - levenshtein(lower(a), lower(b)) / max(len(a), len(b)),
    the reference's FuzzyScore (internal/analysis/fuzzy.go:41-56).
    """
    a = df.select(F.col(block_col).alias("block"),
                  F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a"))
    b = df.select(F.col(block_col).alias("block"),
                  F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b"))
    pairs = (a.join(b, "block").filter(F.col("id_a") < F.col("id_b")))
    lev = F.levenshtein(F.lower(F.col("name_a")), F.lower(F.col("name_b")))
    maxlen = F.greatest(F.length("name_a"), F.length("name_b"))
    return (pairs
            .withColumn("lev", lev)
            .withColumn("fuzzy_score",
                        F.lit(1.0) - F.col("lev").cast("double")
                        / maxlen.cast("double"))
            .filter(F.col("fuzzy_score") >= threshold)
            .select("block", "id_a", "id_b", "name_a", "name_b", "lev",
                    "fuzzy_score"))


def naming_variants(words_col: str) -> F.Column:
    """F6 NamingVariants (internal/analysis/fuzzy.go:60-94): snake, camel,
    Pascal and kebab casings of a tokenized name, deduplicated, as an
    array column.  ``words_col`` must be an array<string> of lowercase
    words."""
    snake = F.array_join(F.col(words_col), "_")
    kebab = F.array_join(F.col(words_col), "-")
    pascal = F.expr(
        f"array_join(transform({words_col}, "
        f"w -> concat(upper(substring(w, 1, 1)), substring(w, 2))), '')")
    camel = F.expr(
        f"concat(element_at({words_col}, 1), "
        f"array_join(transform(slice({words_col}, 2, 1000000), "
        f"w -> concat(upper(substring(w, 1, 1)), substring(w, 2))), ''))")
    return F.array_distinct(F.array(snake, camel, pascal, kebab))


def normalize_name_snake(col: F.Column) -> F.Column:
    """F5 NormalizeFieldName (internal/analysis/fields.go:245-261):
    camel/Pascal/kebab/space → snake_case."""
    c = F.regexp_replace(col, "([a-z0-9])([A-Z])", r"$1_$2")
    c = F.regexp_replace(c, "[-\\s]+", "_")
    return F.lower(c)


def normalize_name_snake_str(name: str) -> str:
    """Python twin of :func:`normalize_name_snake` for driver-side
    strings.  ``re.ASCII`` keeps ``\\s`` to the ASCII whitespace set
    that Java's ``\\s`` matches in the Column version."""
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    return re.sub(r"[-\s]+", "_", s, flags=re.ASCII).lower()


def glob_to_regex(glob: str) -> str:
    """Translate a ``*``-glob into an anchored regex (F3;
    internal/api/handlers/analysis.go:684-715 — case-insensitive ``*`` only).
    """
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    IDF is the LINEAR inverse document frequency N/df (no logarithm):
    tf, N and df are exact integers and one IEEE double division is
    bit-identical on every engine, where ``ln`` would hash-mismatch
    between libm implementations.  Ranking by tf*N/df orders identically
    to tf*ln-IDF whenever tf ties break by df, which is the property a
    keyword extractor actually uses.

    Scale: tf is a (doc, token) groupBy with map-side combine; df is a
    token-keyed aggregate; the join back is token-keyed (vocabulary is
    sub-linear in corpus size); the final top-k window partitions by
    document — bounded state everywhere, no driver loops.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(F.split(F.col(text_col), " "))
                     .alias("token")).filter(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N stays IN-PLAN as a broadcast 1-row aggregate: an eager
    # driver-side count() here would scan the corpus a second time
    # before the real job starts
    n_docs = df.select(F.countDistinct(F.col(id_col)).cast("double")
                       .alias("__n_docs"))
    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("token"))
    return (tf.join(dfreq, "token")
            .crossJoin(F.broadcast(n_docs))
            .withColumn("score",
                        F.col("tf").cast("double") * F.col("__n_docs")
                        / F.col("df").cast("double"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(F.col("id").alias(id_col), "rnk", "token", "tf",
                    "df", "score"))


def repetition_stats(df: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Gopher-style repetition statistics (Rae et al. 2021 §A1.1, the
    repetition-removal half): per-document duplicate-word fraction and
    the token share of the most frequent word bigram — the signals that
    catch boilerplate / keyword-stuffed documents that pass the shape
    rules.

    Ratios divide exact integers as doubles (engine bit-identical).
    Scale: one (doc, bigram) aggregate with map-side combine, one
    per-doc max — state bounded by per-document vocabulary.
    """
    words = f"split({text_col}, ' ')"
    base = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"size({words})").cast("bigint").alias("n_words"),
        F.expr(f"size(array_distinct({words}))").cast("bigint")
        .alias("n_distinct"),
    )
    # Spark's sequence(1, 0) is the DESCENDING [1, 0] (not empty like
    # DuckDB) — single-word docs must be gated to an explicit empty
    # array, same trap as contamination.ngram_spans.  __ws is split
    # once: an inline split in the lambda re-evaluates per element
    bigrams = F.expr(
        "CASE WHEN size(__ws) >= 2 THEN "
        "transform(sequence(1, size(__ws) - 1), "
        "i -> concat(element_at(__ws, i), ' ', "
        "element_at(__ws, i + 1))) ELSE array() END")
    mx = (df.select(F.col(id_col).alias("id"),
                    F.split(F.col(text_col), " ").alias("__ws"))
          .select("id", F.explode(bigrams).alias("bigram"))
          .groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("c"))
          .groupBy("id").agg(F.max("c").alias("max_bigram_cnt")))
    return (base.join(mx, "id", "left")
            .na.fill({"max_bigram_cnt": 0})
            .select(
                F.col("id").alias(id_col), "n_words", "n_distinct",
                (F.lit(1.0) - F.col("n_distinct").cast("double")
                 / F.col("n_words").cast("double"))
                .alias("dup_word_frac"),
                "max_bigram_cnt",
                F.when(F.col("n_words") > 1,
                       F.col("max_bigram_cnt").cast("double")
                       / (F.col("n_words") - 1).cast("double"))
                .otherwise(F.lit(0.0)).alias("top_bigram_frac")))

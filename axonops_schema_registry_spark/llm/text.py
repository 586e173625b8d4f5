"""Text analysis operators: language ID, token counting, quality scoring,
rolling-hash document fingerprinting.

All pure column expressions (whole-stage codegen, no Python), each with a
DuckDB-twin SQL builder so the query specs stay oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword profiles for the n-gram/stopword-hit
#: heuristic.  (The driver corpus is synthetic English-ish vocabulary for
#: every ``lang`` label, so the detector's value here is determinism, not
#: label recovery.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def lang_hits(text_col: str, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.expr(
        "filter(split({c}, ' '), t -> t IN ({lst}))".format(
            c=text_col, lst=", ".join(f"'{w}'" for w in words))))


def lang_hits_sql(text_col: str, lang: str) -> str:
    words = LANG_STOPWORDS[lang]
    lst = ", ".join(f"'{w}'" for w in words)
    return (f"len(list_filter(string_split({text_col}, ' '), "
            f"t -> t IN ({lst})))")


def _argmax_lang(hits_by_lang: dict[str, Column]) -> Column:
    """argmax over per-language hit columns; 'unknown' when all zero.

    Deterministic tie-break: languages evaluated in sorted order, strict
    greater-than keeps the earlier winner.  Shared by
    :func:`predict_lang` (inline hit expressions — the oracle-replay
    shape) and :func:`predict_lang_ws` (hits over a pre-projected word
    array) so the tie-break cannot drift between them."""
    best_lang = F.lit("unknown")
    best_score = F.lit(0)
    for lang in sorted(hits_by_lang):
        h = hits_by_lang[lang]
        is_better = h > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, h).otherwise(best_score)
    return best_lang


def predict_lang(text_col: str) -> Column:
    """argmax over language stopword-hit scores; 'unknown' when all zero.

    Deterministic tie-break: languages evaluated in sorted order, strict
    greater-than keeps the earlier winner.
    """
    return _argmax_lang({lang: lang_hits(text_col, lang)
                         for lang in LANG_STOPWORDS})


def lang_hits_ws(words_col: str, lang: str) -> Column:
    """:func:`lang_hits` over an already-split word ARRAY column — the
    split-once form for hot compositions (the when-chain of the inline
    :func:`predict_lang` re-evaluates split(text) per language and per
    CASE branch — up to 8x per row, measured as the dominant cost of
    ccn1's gate stage)."""
    words = LANG_STOPWORDS[lang]
    return F.size(F.expr(
        "filter({c}, t -> t IN ({lst}))".format(
            c=words_col, lst=", ".join(f"'{w}'" for w in words))))


def predict_lang_ws(words_col: str) -> Column:
    """:func:`predict_lang` over a pre-projected word array.  For the
    CASE chain to evaluate each language's hits ONCE, project the four
    hit counts as columns first and pass plain column references —
    see ``llm/ccnet.py`` for the idiom."""
    return _argmax_lang({lang: lang_hits_ws(words_col, lang)
                         for lang in LANG_STOPWORDS})


def predict_lang_sql(text_col: str) -> str:
    langs = sorted(LANG_STOPWORDS)
    expr = "'unknown'"
    score = "0"
    for lang in langs:
        h = lang_hits_sql(text_col, lang)
        expr = (f"CASE WHEN {h} > {score} THEN '{lang}' ELSE {expr} END")
        score = f"CASE WHEN {h} > {score} THEN {h} ELSE {score} END"
    return expr


def token_count_ws(text_col: str) -> Column:
    """Whitespace tokenization count."""
    return F.size(F.split(F.col(text_col), "\\s+")).cast("bigint")


def token_count_bpe_ish(text_col: str) -> Column:
    """BPE-ish regex token count: letter runs, digit runs, single symbols."""
    return F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("bigint")


ROLLING_BASE = 31
ROLLING_MOD = 2147483647  # 2^31 - 1 (Mersenne)


def rolling_fingerprint(text_col: str) -> Column:
    """Polynomial rolling hash over codepoints (Karp-Rabin family):
    h = fold(h * 31 + code) mod (2^31 - 1).  Sequential fold keeps it
    bit-identical to the DuckDB twin."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({text_col})), "
        f"i -> CAST(ascii(substring({text_col}, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), "
        f"(acc, c) -> (acc * {ROLLING_BASE} + c) % {ROLLING_MOD})")


def rolling_fingerprint_sql(text_col: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(generate_series(1, len({text_col})), "
            f"i -> CAST(ascii({text_col}[i]) AS BIGINT))), "
            f"(acc, c) -> (acc * {ROLLING_BASE} + c) % {ROLLING_MOD})")


#: PII detector patterns — RE2-safe (run identically under Java regex
#: and DuckDB/RE2; no backrefs or lookarounds), the scrubbing pass a
#: training pipeline runs before release
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_counts(text_col: str) -> list[Column]:
    """Per-kind PII match counts as whole-stage-codegen columns."""
    return [F.regexp_count(F.col(text_col), F.lit(rx))
            .cast("bigint").alias(f"n_{kind}")
            for kind, rx in PII_PATTERNS.items()]


def pii_redact(text_col: str) -> Column:
    """Redaction pass: every PII match replaced by a typed tag — the
    write path of the scrub (detection above is the audit path)."""
    col = F.col(text_col)
    for kind, rx in PII_PATTERNS.items():
        col = F.regexp_replace(col, rx, f"<{kind.upper()}>")
    return col


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, §A1.1 — public)
# ---------------------------------------------------------------------------
#
# The standard heuristic filter a pretraining pipeline runs before
# anything expensive: cheap per-document shape statistics with hard
# accept bounds.  All pure column expressions with DuckDB twins; the
# ratios divide two exact integers as doubles, so both engines produce
# bit-identical values.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_stats(text_col: str) -> list[Column]:
    """The per-document statistics the rules test: word count, mean
    word length, symbol-to-word ratio (# and ellipsis), fraction of
    words containing an alphabetic character, stopword hits."""
    words = f"split({text_col}, ' ')"
    n_words = F.expr(f"size({words})").cast("bigint")
    # Σ length(word) ≡ length(text with the single-space separators
    # removed): split(' ') makes words partition the non-space chars
    # (empty words from runs contribute 0), so one codegen'd char scan
    # replaces the per-element higher-order aggregate (r18 — HOF
    # lambdas evaluate interpreted, outside whole-stage codegen).
    sum_len = F.length(F.expr(f"replace({text_col}, ' ', '')")) \
        .cast("bigint")
    n_hash = (F.length(F.col(text_col))
              - F.length(F.expr(f"replace({text_col}, '#', '')")))
    n_ellipsis = ((F.length(F.col(text_col))
                   - F.length(F.expr(f"replace({text_col}, '...', '')")))
                  / F.lit(3)).cast("bigint")
    n_alpha = F.expr(
        f"size(filter({words}, w -> w rlike '[a-zA-Z]'))").cast("bigint")
    return [
        n_words.alias("n_words"),
        (sum_len.cast("double") / n_words.cast("double"))
        .alias("mean_word_len"),
        ((n_hash + n_ellipsis).cast("double") / n_words.cast("double"))
        .alias("symbol_ratio"),
        (n_alpha.cast("double") / n_words.cast("double"))
        .alias("alpha_frac"),
        lang_hits(text_col, "en").cast("bigint").alias("stop_hits"),
    ]


def gopher_rules(n_words: Column, mean_word_len: Column,
                 symbol_ratio: Column, alpha_frac: Column,
                 stop_hits: Column) -> dict[str, Column]:
    """The five accept rules over pre-computed stats columns (compose
    with :func:`gopher_stats` via select-then-test)."""
    return {
        "ok_words": n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS),
        "ok_mean_len": mean_word_len.between(GOPHER_MIN_MEAN_WORD_LEN,
                                             GOPHER_MAX_MEAN_WORD_LEN),
        "ok_symbols": symbol_ratio < GOPHER_MAX_SYMBOL_RATIO,
        "ok_alpha": alpha_frac > GOPHER_MIN_ALPHA_FRAC,
        "ok_stop": stop_hits >= GOPHER_MIN_STOP_HITS,
    }


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalize_text(text_col: str) -> Column:
    """Canonical text normalization — the pass every curation pipeline
    runs BEFORE hashing/dedup so that whitespace and case variants of
    the same content collide: ASCII case fold, control characters
    stripped, whitespace runs collapsed to single spaces, ends
    trimmed.  Case folding is EXPLICITLY ASCII-only (``translate``,
    not ``lower()``): Spark's lower is Unicode-aware and DuckDB's is
    not on the same code points ('İ', final sigma), so lower() would
    silently diverge on non-ASCII text — translate is byte-identical
    on both engines and leaves non-ASCII untouched.  Compose the
    oracle side with :func:`normalize_text_sql`."""
    c = F.translate(F.col(text_col), _ASCII_UPPER, _ASCII_LOWER)
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def normalize_text_sql(text_col: str) -> str:
    """DuckDB twin of :func:`normalize_text` (same ASCII-only fold)."""
    return (f"trim(regexp_replace(regexp_replace(translate({text_col}, "
            f"'{_ASCII_UPPER}', '{_ASCII_LOWER}'), "
            f"'[\\x00-\\x1f\\x7f]', ' ', 'g'), '\\s+', ' ', 'g'))")


def unigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram LM perplexity scoring — the CCNet-style
    quality signal (Wenzek et al. 2020, public): fit token frequencies
    on the corpus itself, then score every document by its mean token
    surprisal -ln p(token); fluent/common text scores low, gibberish
    and boilerplate-free noise score high.  The operator the mixture
    builder thresholds on next to the Gopher shape gates.

    Output: (id, n_tokens, mean_surprisal).

    Float discipline: -ln p is computed ONCE per distinct vocabulary
    entry and rounded at 1e-6 there (vocabulary-sized work, not
    corpus-sized), then per-document totals are exact DECIMAL sums of
    those rounded scores (the psum convention) — order-independent and
    engine-portable by construction.

    Scale: token explode → vocabulary count is map-side combined and
    bounded by vocabulary size; the per-token score table broadcasts
    (a 10M-unigram web vocabulary is ~200 MB — at that point drop the
    broadcast hint and let the score join shuffle on token, everything
    else unchanged).  No window, no collect, no driver loop.
    """
    # Shared token-frame DEFINITION, no cache (r19, VERDICT r18 ask
    # #1): the r18 .cache() here regressed ccb1 28% in the driver's
    # record, and the interleaved cold-JVM A/B (script at commit
    # d15378d, min-of-3 per arm: cache 1.843/1.849 s vs nocache
    # 1.674/1.571 s) confirmed the cache-fill barrier costs more than
    # the explode it saves — the fit half consumes tokens inside a
    # pipelined map-side-combined aggregate, so recomputing the explode
    # per half stays in whole-stage codegen while the cache serializes
    # the frame through the block store first (§5: a cache is only a
    # win when the subtree cost exceeds the materialization barrier).
    # unigram_lm/surprisal_with_lm stay the independent
    # train-once/score-forever entry points.
    toks = _lm_tokens(docs, id_col, text_col)
    return _score_tokens(toks, _lm_from_tokens(toks), id_col)


def _lm_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.lower(F.col(text_col)),
                                          "\\s+")).alias("t"))
            .filter(F.col("t") != ""))


def unigram_lm(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """The FIT half of :func:`unigram_surprisal` (r17 split, the
    quality_filter_weights convention): the (t, s) per-token rounded
    surprisal table, vocabulary-bounded — train once on a calibration
    corpus, broadcast into every scoring pass (how CCNet actually
    deploys its LM: Wenzek et al. 2020 train on Wikipedia beforehand,
    the streaming twin scores micro-batches against the fixed
    table)."""
    return _lm_from_tokens(_lm_tokens(docs, id_col, text_col))


def _lm_from_tokens(toks: DataFrame) -> DataFrame:
    """:func:`unigram_lm` over an already-derived (id, t) token frame —
    factored out (r18) so self-scored compositions explode the corpus
    once for fit AND score."""
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    return (vocab.crossJoin(F.broadcast(total))
            .select("t", F.round(-F.log(F.col("c") / F.col("n")), 6)
                    .alias("s")))


def surprisal_with_lm(docs: DataFrame, lm: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The SCORE half: per-document mean surprisal against a FIXED
    (t, s) table.  Join is inner, so out-of-vocabulary tokens neither
    score nor count — self-scored corpora (the batch composition) have
    no OOV by construction; a production deployment scoring unseen
    text adds an OOV floor row.  Row-local given the broadcast table,
    so per-document scores are independent of batching (the streaming
    stream≡batch precondition)."""
    return _score_tokens(_lm_tokens(docs, id_col, text_col), lm,
                         id_col)


def _score_tokens(toks: DataFrame, lm: DataFrame,
                  id_col: str) -> DataFrame:
    """:func:`surprisal_with_lm`'s scoring over an already-derived
    (id, t) token frame (r18 factoring, see :func:`_lm_from_tokens`)."""
    return (toks.join(F.broadcast(lm), "t")
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum(F.col("s").cast("decimal(25,6)"))
                         .cast("double") / F.count(F.lit(1)), 4)
                 .alias("mean_surprisal")))


def perplexity_buckets(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       source_col: str = "source",
                       n_buckets: int = 3,
                       lm: DataFrame | None = None) -> DataFrame:
    """CCNet head/middle/tail partitioning (Wenzek et al. 2020 §4.2,
    public — the stage that made CCNet famous): within each source,
    documents are ranked by LM perplexity and split into equal-COUNT
    buckets; ``head`` (lowest surprisal — the most Wikipedia-like
    text) is what high-quality pretraining mixes keep, ``tail`` is
    what they drop or downweight.  Scoring reuses
    :func:`unigram_surprisal` verbatim (the ppl1 float discipline —
    per-vocab-entry rounding, exact decimal per-doc sums), so the
    bucket boundary replays bit-for-bit in an independent engine.

    Buckets are RANK-based, not value-threshold-based — bucket =
    ⌊(rank−1)·n/count⌋ over the deterministic (mean_surprisal, id)
    order — because a value threshold (percentile interpolation)
    differs across engines, the exact trap the rank form removes; the
    CCNet paper's terciles are equal-count too.  Returns per document
    (id, source, n_tokens, mean_surprisal, bucket, bucket_label) with
    bucket 0 = head; labels head/middle/tail when ``n_buckets`` is 3,
    else ``b<k>``.

    Scale shape: the LM fit/score is ppl1's (vocab-bounded, broadcast
    score table); the only added cost is one rank window per source
    plus a sources-sized count aggregate (broadcast back) — at 100 TB
    the per-source window shards by hash-range segments exactly like
    ``sampling.dataset_mixture_segmented`` (rank within segment +
    broadcast per-segment offsets), documented there."""
    from pyspark.sql import Window

    # lm (r17): score against a FIXED pre-fit table instead of the
    # self-fit — identical output when lm IS the corpus's own
    # unigram_lm (unigram_surprisal delegates to exactly that); the
    # streaming twin passes its calibration LM here
    scored = (surprisal_with_lm(docs, lm, id_col, text_col)
              if lm is not None
              else unigram_surprisal(docs, id_col, text_col))
    src = docs.select(F.col(id_col), F.col(source_col).alias("source"))
    # materialized ONCE (lazy checkpoint): the scored frame feeds BOTH
    # the per-source count and the rank window, and Spark does not
    # reuse the exchange across them — without this the corpus-scale
    # explode+score subtree runs twice (the dsir/_hashed_ngram_counts
    # lesson)
    j = scored.join(src, id_col).localCheckpoint(eager=False)
    cnt = j.groupBy("source").agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy("source").orderBy("mean_surprisal", id_col)
    return (j.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(cnt), "source")
            .withColumn("bucket",
                        F.expr(f"CAST(((__r - 1) * {int(n_buckets)}) "
                               f"DIV __cnt AS INT)"))
            .withColumn("bucket_label",
                        F.when(F.lit(n_buckets != 3),
                               F.concat(F.lit("b"), F.col("bucket")))
                        .when(F.col("bucket") == 0, "head")
                        .when(F.col("bucket") == 1, "middle")
                        .otherwise("tail"))
            .select(id_col, "source", "n_tokens", "mean_surprisal",
                    "bucket", "bucket_label"))


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY — the fraction of a document's
    distinct shingles whose FIRST corpus occurrence (smallest id) is
    this document: the doc-granular memorization/diversity diagnostic
    (ng1; also the annotation stage of the cur3 capstone and the
    CurationPipeline surface — ONE implementation for all three).

    Scale shape: one gram-keyed map-side-combinable MIN aggregate over
    the distinct (doc, shingle) pairs, then ONE doc-keyed aggregate
    over (shingle rows ∪ first-occurrence winners) — a 0/1-tagged
    union, so the per-doc size and the per-doc novel count come out
    of the same pass with no join anywhere; division is
    BIGINT/BIGINT.  Documents with no shingle (< ngram words) are
    absent.  No gram-keyed join back (r18): every shingle credits
    exactly ONE document (its corpus-min id), so n_novel is a count
    over the first-occurrence aggregate itself — the corpus-token-
    scale re-shuffle of the shingle frame through the old join is
    gone; the only frames shuffled after the election are doc-sized
    aggregate partials."""
    from axonops_schema_registry_spark.operators.text import token_set

    # cached (r18): the shingle explode feeds both the first-occurrence
    # aggregate and the tagged union — the jaccard_pairs toks-cache
    # contract (one-shot query callers, released via
    # operators.core.release_plan_caches; recompute instead at scale).
    from axonops_schema_registry_spark.operators.core import plan_cache

    toks = plan_cache(token_set(docs, id_col, text_col, ngram))
    first = toks.groupBy("token").agg(F.min("id").alias("id"))
    tagged = (toks.select("id", F.lit(0).alias("__w"))
              .unionByName(first.select("id", F.lit(1).alias("__w"))))
    return (tagged.groupBy("id")
            .agg((F.count(F.lit(1)) - F.sum("__w"))
                 .cast("bigint").alias("n_shingles"),
                 F.sum("__w").cast("bigint").alias("n_novel"))
            .select(F.col("id").alias(id_col), "n_shingles", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("novelty")))


def robust_length_stats(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        source_col: str = "source",
                        z_cut: float = 3.0) -> DataFrame:
    """Per-source robust (median/MAD) z-scores over word counts with
    |z| > ``z_cut`` outlier flags (qn1; the gate stage of cur3 and the
    CurationPipeline surface).  Exact sort-based percentiles (the qs1
    quantile_cont contract); n_words and median/MAD are integers or
    exact halves, so the z quotient is IEEE-deterministic with NO
    rounding; MAD = 0 yields NULL z / false flag.

    Scale shape: two grouped percentile passes on the source key plus
    a sources-sized broadcast join back (percentile_approx at web
    scale, as qs1 documents)."""
    words = docs.select(
        id_col, source_col,
        F.size(F.split(F.col(text_col), " ")).cast("bigint")
        .alias("n_words"))
    med = words.groupBy(source_col).agg(
        F.expr("percentile(n_words, 0.5)").alias("median_words"))
    j = words.join(F.broadcast(med), source_col)
    mad = (j.groupBy(source_col)
           .agg(F.expr("percentile(abs(n_words - median_words), 0.5)")
                .alias("mad_words")))
    z = F.when(F.col("mad_words") != 0.0,
               (F.col("n_words") - F.col("median_words"))
               / F.col("mad_words"))
    return (j.join(F.broadcast(mad), source_col)
            .select(id_col, source_col, "n_words", "median_words",
                    "mad_words", z.alias("robust_z"),
                    F.coalesce(F.abs(z) > F.lit(z_cut), F.lit(False))
                    .alias("is_len_outlier")))


def bigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     ref_mod: int = 7) -> DataFrame:
    """Bigram-LM quality scoring with STUPID BACKOFF (Brants et al.
    2007, public) — the KenLM-shaped escalation of
    :func:`unigram_surprisal`: the LM is fitted on a deterministic
    REFERENCE slice (``id % ref_mod != 0``) and every document is
    scored against it, so held-out documents genuinely exercise the
    backoff (an LM fitted on the full corpus has seen every bigram of
    every document and the backoff is dead code).

    Per token at position i > 1: -ln(c(u,w)/c(u)) when the reference
    saw the bigram, else -ln(0.4 · max(c(w),1)/N) (backoff to the
    unigram, unseen words floored to count 1); the first token scores
    -ln(max(c(w),1)/N).

    Output: (id, n_tokens, n_backoff, mean_surprisal) — ``n_backoff``
    counts scored tokens that fell back, the OOD signal a curation
    threshold reads next to the surprisal itself.

    Float discipline (tightened past ppl1's round(·, 6) after the r12
    out1 tie incident): every -ln is computed ONCE per distinct
    bigram / unigram TYPE and quantized to INTEGER micro-units via
    ``floor(x · 10^6)`` — floor of the shared double product has no
    tie semantics, unlike round (base.floor_q's contract) — then
    per-document totals are exact BIGINT sums and the mean is ONE
    correctly-rounded division, emitted raw (no final rounding to
    disagree on).  Residual assumption (ADVICE r12): this relies on
    Spark's ``Math.log`` and DuckDB's ``ln`` returning the SAME
    double for the same ratio.  Java permits 1-ulp error in ``log``,
    so a -ln landing within an ulp of an exact micro-unit boundary
    could in principle floor differently across engines — a
    probabilistic (~counts·2^-52-scale), not absolute, guarantee,
    the same IEEE caveat the qs1/psum contracts document.  What the
    floor DOES remove is the round()-tie class, where bit-identical
    inputs diverge deterministically.

    Scale: bigram extraction is ROW-LOCAL (one transform over the
    split array — no self-join, no window); type counts are map-side
    combined and bounded by type cardinality; both score tables
    broadcast at fixture scale (at web scale the bigram table joins by
    shuffle on (u, w), everything else unchanged).
    """
    arr = F.expr(f"filter(split(lower({text_col}), '\\\\s+'), "
                 "x -> x != '')")
    base = docs.select(F.col(id_col).alias("id"),
                       arr.alias("__a")).filter(F.size("__a") >= 1)
    ref = base.filter(F.col("id") % ref_mod != 0)
    # reference unigram counts + total
    rtok = ref.select(F.explode("__a").alias("t"))
    uni = rtok.groupBy("t").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.sum("cu").alias("n"))
    # reference bigram counts (row-local pair extraction)
    pair = F.expr("transform(sequence(2, size(__a)), "
                  "i -> struct(element_at(__a, i - 1) AS u, "
                  "element_at(__a, i) AS w))")
    rbig = (ref.filter(F.size("__a") >= 2)
            .select(F.explode(pair).alias("p"))
            .select("p.u", "p.w")
            .groupBy("u", "w").agg(F.count(F.lit(1)).alias("cb")))
    def q6(col):
        # integer micro-units: tie-free across engines (see docstring)
        return F.floor(col * F.lit(1000000.0)).cast("bigint")

    bscore = (rbig.join(F.broadcast(
                  uni.select(F.col("t").alias("u"), "cu")), "u")
              .select("u", "w",
                      q6(-F.log(F.col("cb") / F.col("cu")))
                      .alias("sb")))
    # unigram score tables: backoff (0.4 discount) + first-token
    uscore = (uni.crossJoin(F.broadcast(total))
              .select(F.col("t").alias("w"),
                      q6(-F.log(F.lit(0.4) * F.col("cu")
                                / F.col("n"))).alias("sk"),
                      q6(-F.log(F.col("cu") / F.col("n")))
                      .alias("s1")))
    oov = (total.select(
        q6(-F.log(F.lit(0.4) / F.col("n"))).alias("sk_oov"),
        q6(-F.log(F.lit(1.0) / F.col("n"))).alias("s1_oov")))

    first = base.select("id", F.element_at("__a", 1).alias("w"))
    f_sc = (first.join(F.broadcast(uscore.select("w", "s1")), "w",
                       "left")
            .crossJoin(F.broadcast(oov))
            .select("id", F.coalesce("s1", "s1_oov").alias("__s"),
                    F.lit(0).alias("__bk")))
    toks = (base.filter(F.size("__a") >= 2)
            .select("id", F.explode(pair).alias("p"))
            .select("id", "p.u", "p.w"))
    t_sc = (toks.join(F.broadcast(bscore), ["u", "w"], "left")
            .join(F.broadcast(uscore.select("w", "sk")), "w", "left")
            .crossJoin(F.broadcast(oov))
            .select("id",
                    F.coalesce("sb", "sk", "sk_oov").alias("__s"),
                    F.when(F.col("sb").isNull(), 1).otherwise(0)
                    .alias("__bk")))
    return (f_sc.unionByName(t_sc)
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("__bk").cast("bigint").alias("n_backoff"),
                 (F.sum("__s").cast("double")
                  / (F.count(F.lit(1)) * F.lit(1000000.0)))
                 .alias("mean_surprisal")))


_BPE_SEP = "\x1f"  # unit separator: joins symbols inside a word


def bpe_merges(docs: DataFrame, text_col: str = "text",
               k: int = 10) -> DataFrame:
    """k-step BPE trainer (Sennrich et al. 2016) at corpus scale: the
    iterated form of the single pair-count step bpe1 verifies.  Each
    step counts adjacent symbol pairs over the DISTINCT-word vocabulary
    (weighted by word frequency), folds the top pair (count DESC, pair
    ASC) into every word, and repeats — the checkpointed-loop pattern
    (llm/dedup.py connected_components): lineage is truncated per
    iteration and only the single winning pair rides the driver.

    Words are symbol sequences rendered as strings with every symbol
    wrapped in unit separators — ``SEP·sym1·SEP·SEP·sym2·SEP…`` — so a
    merge is one ``replace(s, SEP·a·SEP·SEP·b·SEP, SEP·ab·SEP)``:
    anchored on BOTH ends (a bare ``a‖b`` pattern could match the
    suffix of a preceding multi-char symbol — caught by the pure-Python
    reference test), and left-to-right non-overlapping in both Spark
    and DuckDB, which is exactly BPE's greedy merge order, so the
    unrolled-CTE oracle replays bit-for-bit.

    Scale: every step is vocabulary-bounded (distinct words, not
    corpus rows — the corpus-sized groupBy happens once), and the
    winning pair is a one-row driver fetch per step.

    Output: (step, lhs, rhs, pair_count) for the k merges, step 1..k.
    """
    spark = docs.sparkSession
    from axonops_schema_registry_spark.operators.core import (
        release_checkpoint,
    )

    words = (docs.select(F.explode(F.split(F.lower(text_col), r"\s+"))
                         .alias("w"))
             .filter(F.col("w") != ""))
    # ONE eager checkpoint materializes the corpus-sized groupBy; the
    # per-step merges are narrow replace-projections over the (small)
    # vocabulary, so the loop builds a k-deep narrow plan on top of
    # this base instead of re-checkpointing every round (halves the
    # job count — unlike connected_components, nothing here shuffles
    # per iteration, so lineage stays cheap to recompute)
    base = (words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
            .select(F.concat(F.lit(_BPE_SEP),
                             F.concat_ws(_BPE_SEP * 2,
                                         F.split("w", "")),
                             F.lit(_BPE_SEP)).alias("s"),
                    "n")
            .localCheckpoint(eager=True))
    vocab = base
    # the symbol array is projected ONCE per row (r19): the inline
    # form evaluated split(btrim(s)) four times per row — twice inside
    # the slices and twice more for their size() bounds — and that
    # string re-splitting was the dominant per-step task cost (the
    # _positioned_grams lesson applied at expression, not lambda,
    # granularity).  Same pairs, same counts.
    syms = f"split(btrim(s, '{_BPE_SEP}'), '{_BPE_SEP}{_BPE_SEP}')"
    pair_expr = ("explode(arrays_zip("
                 "slice(__sy, 1, size(__sy) - 1), "
                 "slice(__sy, 2, size(__sy) - 1))) AS p")
    merges: list[tuple[int, str, str, int]] = []
    # Batched elections with PROVEN-safe lookahead (r19, VERDICT r18
    # ask #7 — but the naive "winner-disjoint merges commute" form is
    # UNSOUND: folding the winner CREATES pairs, e.g. corpus
    # "x a b"×N elects (a,b) with count N and creates (x,ab) with
    # count N, outranking every pre-existing runner-up).  What IS
    # sound: fetch the top-M pairs per election job and accept
    # follow-up candidates from that ordered list only while every
    # alternative is provably outranked —
    #   * the candidate shares no symbol with an applied merge (its
    #     own count is then invariant: folds over disjoint symbols
    #     neither create nor destroy each other's adjacencies, so the
    #     recorded pair_count equals greedy's recount), and
    #   * every pair a prior applied merge (a,b) can CREATE is
    #     bounded out: (x,ab) / (ab,y) arise only from fetched pairs
    #     (x,a) / (b,y), with count <= min(count(x,a), count(a,b)) —
    #     if any bound beats the candidate (or ties and sorts lex
    #     before it), stop the batch.  Higher-order creations are
    #     dominated: their bound is <= the first-order bound and
    #     their (lhs, rhs) sorts lex-after the first-order pair.
    #   * pairs OUTSIDE the fetched window have count <= the last
    #     fetched count, so a candidate tying that floor stops the
    #     batch (an invisible tie could win on the lex tie-break).
    #   * an applied fold whose pa+pb equals a symbol minted earlier
    #     would add its created pairs to that symbol's existing pairs,
    #     and the bounds above do not sum the two, so such a fold
    #     ends the batch.  Serial greedy BPE over character-initialised
    #     words never mints one string twice (a search over every
    #     two-word corpus of length-2..5 words on {a,b,c} found none),
    #     so this guard keeps the contract without costing a job.
    # Each batch replays greedy EXACTLY (pinned against the pure-
    # Python reference in tests); what changes is driver round-trips
    # — 10 -> 5 election jobs on the bench corpus.
    top_m = 64
    while len(merges) < k:
        pairs = (vocab.selectExpr("n", f"{syms} AS __sy")
                 .selectExpr("n", pair_expr)
                 .select(F.col("p").getItem("0").alias("lhs"),
                         F.col("p").getItem("1").alias("rhs"), "n")
                 .groupBy("lhs", "rhs")
                 .agg(F.sum("n").alias("pair_count")))
        top = (pairs.orderBy(F.desc("pair_count"), F.asc("lhs"),
                             F.asc("rhs")).limit(top_m).collect())
        if not top:
            break
        fetched_all = len(top) < top_m
        floor_cnt = int(top[-1]["pair_count"])
        applied: list[tuple[str, str, int]] = []
        minted = {a + b for _, a, b, _ in merges}
        remint = False
        for row in top:
            if len(merges) + len(applied) >= k or remint:
                break
            a, b, cnt = row["lhs"], row["rhs"], int(row["pair_count"])
            if applied:
                used = set()
                for pa, pb, _ in applied:
                    used |= {pa, pb, pa + pb}
                if {a, b} & used:
                    break  # overlaps an applied fold: count unknown
                if not fetched_all and cnt == floor_cnt:
                    break  # an unfetched tie could win on lex order
                unsafe = False
                for pa, pb, pcnt in applied:
                    merged = pa + pb
                    for r2 in top:
                        x, y = r2["lhs"], r2["rhs"]
                        c2 = int(r2["pair_count"])
                        cands = []
                        if y == pa:
                            cands.append(((x, merged), min(c2, pcnt)))
                        if x == pb:
                            cands.append(((merged, y), min(c2, pcnt)))
                        for newpair, bound in cands:
                            if bound > cnt or (bound == cnt
                                               and newpair < (a, b)):
                                unsafe = True
                                break
                        if unsafe:
                            break
                    if unsafe:
                        break
                if unsafe:
                    break
            applied.append((a, b, cnt))
            remint = a + b in minted
            minted.add(a + b)
        for a, b, cnt in applied:
            merges.append((len(merges) + 1, a, b, cnt))
            vocab = vocab.select(
                F.replace(
                    "s",
                    F.lit(_BPE_SEP + a + _BPE_SEP * 2 + b + _BPE_SEP),
                    F.lit(_BPE_SEP + a + b + _BPE_SEP))
                .alias("s"), "n")
        if not applied:
            break
    release_checkpoint(base)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint")


def bpe_tokenize_counts(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 10) -> DataFrame:
    """Apply the k learned BPE merges (:func:`bpe_merges`) to the
    corpus — the ENCODE half of the tokenizer story: per DISTINCT word,
    replay the merge sequence (k chained narrow ``replace`` steps,
    greedy left-to-right like training) and count the resulting
    symbols; per document, sum over its words.

    Scale: the merge table is k driver rows; the apply runs over the
    distinct-word vocabulary (vocabulary-bounded, like training) and
    documents join the encoded vocabulary on the word — broadcast here
    (a natural-language vocabulary is bounded); at an adversarial
    vocabulary scale the same equi-join shuffles on the word key.

    Output: (id, n_words, n_bpe_tokens)."""
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_merges(docs, text_col, k)
              .orderBy("step").collect()]
    words_all = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(text_col), r"\s+")).alias("w")) \
        .filter(F.col("w") != "")
    sym = F.concat(F.lit(_BPE_SEP),
                   F.concat_ws(_BPE_SEP * 2, F.split("w", "")),
                   F.lit(_BPE_SEP))
    for a, b in merges:
        sym = F.replace(
            sym, F.lit(_BPE_SEP + a + _BPE_SEP * 2 + b + _BPE_SEP),
            F.lit(_BPE_SEP + a + b + _BPE_SEP))
    vocab = (words_all.select("w").distinct()
             .withColumn(
                 "n_sym",
                 F.size(F.split(F.btrim(sym, F.lit(_BPE_SEP)),
                                _BPE_SEP * 2))))
    return (words_all.join(F.broadcast(vocab), "w")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sym").cast("bigint").alias("n_bpe_tokens")))


def zipf_diagnostics(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     source_col: str = "source",
                     top_k: int = 50) -> DataFrame:
    """Per-source Zipf rank-frequency diagnostics (new in r14) — the
    vocabulary-health metric a curation pipeline tracks to spot
    diversity collapse or template spam: natural text follows
    freq ∝ rank^s with s ≈ -1 (Zipf's law, public); machine-generated
    or boilerplate-heavy feeds drift toward flatter (s → 0, templated
    vocabulary soup) or steeper (s « -1, few tokens dominating)
    spectra.  Emits, per source: vocabulary size, the OLS slope of
    ln(freq) vs ln(rank) over the top-k ranks, and the per-mille of
    total token mass those top-k ranks hold.

    Float discipline (the ppl2 pattern): ln(rank) and ln(freq) are
    computed ONCE per surviving (source, rank) row — top_k·n_sources
    rows, small cardinality — and quantized to INTEGER micro-units
    via floor(x·1e6); the OLS sums (Σx, Σy, Σxy, Σx²) are exact
    BIGINT sums of those units (magnitudes: x,y ≲ 2e7, xy ≲ 4e14,
    n·Σxy ≲ 1e18 < 2^63), and the slope is ONE correctly-rounded
    BIGINT/BIGINT double division (the ctm5 jaccard contract).  The
    residual 1-ulp ln() boundary caveat is the same documented,
    margin-tested class as bigram_surprisal's.

    Scale shape: one corpus scan into a (source, token) count
    aggregate (map-side combinable, vocab-bounded); the counts table
    feeds BOTH the rank window and the per-source totals, so it is
    lazily checkpointed (the temperature_quotas lesson — without it
    the corpus explode re-runs per consumer); everything after is
    windows and aggregates over vocab-sized data.  Ranks tie-break
    by token, so the spectrum is deterministic."""
    from pyspark.sql import Window

    toks = (docs.select(
        F.col(source_col).alias("source"),
        F.explode(F.expr(
            f"filter(split(lower({text_col}), '\\\\s+'), "
            "x -> x != '')")).alias("token")))
    counts = (toks.groupBy("source", "token")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .localCheckpoint(eager=False))
    totals = counts.groupBy("source").agg(
        F.sum("cnt").alias("__mass"),
        F.count(F.lit(1)).alias("vocab_size"))
    w = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("token"))
    ranked = (counts.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= top_k)
              .select("source", "cnt",
                      F.floor(F.log(F.col("rank").cast("double"))
                              * F.lit(1000000.0))
                      .cast("bigint").alias("__x"),
                      F.floor(F.log(F.col("cnt").cast("double"))
                              * F.lit(1000000.0))
                      .cast("bigint").alias("__y")))
    ols = (ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").alias("__sx"), F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum("cnt").alias("__topk_mass")))
    # a single-rank source (one distinct token — exactly the
    # monoculture this diagnostic flags) has a zero OLS denominator:
    # the slope is undefined, emitted as NULL in BOTH engines (under
    # the session's ANSI mode an unguarded division would raise
    # DIVIDE_BY_ZERO and kill the whole query)
    denom = (F.col("__n") * F.col("__sxx")
             - F.col("__sx") * F.col("__sx"))
    slope = ((F.col("__n") * F.col("__sxy")
              - F.col("__sx") * F.col("__sy")).cast("double")
             / denom.cast("double"))
    return (ols.join(totals, "source")
            .select("source",
                    F.col("vocab_size").cast("bigint"),
                    F.col("__n").alias("n_ranks"),
                    F.when(denom != 0, slope).alias("zipf_slope"),
                    F.expr("(1000 * __topk_mass) DIV __mass")
                    .alias("topk_mass_per_mille"))
            .orderBy("source"))


#: The mojibake/control audit's character set: U+FFFD (the replacement
#: character an earlier lossy transcode leaves behind), BEL/BS/VT/FF/ESC
#: (control chars that survive naive scraping), and the zero-width
#: space/joiner family (invisible tokens that corrupt tokenizers).
#: Shared by the Spark and DuckDB sides of tx9 so the set cannot drift.
BAD_CHARS = "�\x07\x08\x0b\x0c\x1b​‌‍﻿"


def encoding_scan(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """Per-source encoding-quality audit — the mojibake/control-char
    gate every production pipeline runs before any text operator
    (CCNet discards lines that fail its charset checks; Dolma's
    quality taggers count control and replacement characters):
    for each source, how many documents carry any :data:`BAD_CHARS`
    character, the total bad-character count, and the exact per-mille
    flagged-document rate (BIGINT division).

    Counting is ``length(x) - length(translate(x, BAD, ''))`` —
    ``translate`` has identical semantics in Spark and DuckDB, so the
    audit replays exactly with ZERO regex-dialect risk (Java regex vs
    RE2 class escapes are exactly the parity trap this avoids).

    Scale shape: one map-side-combinable aggregate off the scan; the
    per-doc character arithmetic is whole-stage-codegen'd string
    work, no explode, no shuffle beyond the sources-sized agg."""
    n_bad = (F.length(F.col(text_col))
             - F.length(F.translate(F.col(text_col), BAD_CHARS, ""))
             ).cast("bigint")
    return (docs
            .select(F.col(source_col).alias("source"),
                    n_bad.alias("__nb"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("__nb") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_flagged"),
                 F.sum("__nb").cast("bigint").alias("n_bad_chars"))
            .withColumn("flagged_per_mille",
                        F.expr("(1000 * n_flagged) DIV n_docs")))

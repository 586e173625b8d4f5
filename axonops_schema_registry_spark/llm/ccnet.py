"""CCNet end-to-end composition surface (Wenzek et al. 2020) — shared
by the BATCH capstone (``ccn1_ccnet_pipeline``, r16) and its STREAMING
twin (``CCNetStreamSink``, r17, VERDICT r16 ask #5).

``ccnet_receipt`` is the batch chain exactly as ccn1 shipped it (the
body moved here verbatim so the spec, the tests and the streaming
equality target share ONE implementation); ``ccnet_calibration`` runs
the same chain once on a calibration corpus and extracts the FIXED
artifacts a streaming deployment carries — the unigram LM score table,
per-source perplexity-tercile cutoff pairs, the NBSVM weight table +
the global top-k score cutoff pair, and the per-source token budgets.

Why cutoff PAIRS and not id sets: production CCNet applies value
thresholds computed on a calibration sample (the LM and cutoffs are
trained on Wikipedia beforehand — §4.2), so the streaming state must
be O(sources + vocabulary), never O(corpus).  Rank gates are made
row-local exactly: the tercile boundary is the LAST kept element's
(mean_surprisal, id) pair per source and the quality boundary is the
k-th element's (-score_micro, id) pair — lexicographic comparison
against the pair reproduces the rank cut INCLUDING its id tie-break,
which a bare value threshold cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lang_gate_en(docs: DataFrame) -> DataFrame:
    """``docs.filter(predict_lang('text') == 'en')`` in the split-once
    form (r19): the inline when-chain re-evaluates ``split(text)`` per
    language and per CASE branch (up to 8x per row — measured as the
    bulk of the gate stage's task time), so the word array and the
    four per-language hit counts are projected as columns first and
    the argmax chain compares plain column references.  Same
    tie-break (shared ``_argmax_lang``), same survivors — pinned
    against the inline form in tests/test_r19_optimizations.py."""
    from axonops_schema_registry_spark.llm.text import (
        LANG_STOPWORDS,
        _argmax_lang,
        lang_hits_ws,
    )

    langs = sorted(LANG_STOPWORDS)
    base = (docs.select("doc_id", "source", "text",
                        F.split(F.col("text"), " ").alias("__ws"))
            .select("doc_id", "source", "text",
                    *[lang_hits_ws("__ws", lang).alias(f"__h_{lang}")
                      for lang in langs]))
    return (base.filter(_argmax_lang(
        {lang: F.col(f"__h_{lang}") for lang in langs}) == "en")
        .drop(*[f"__h_{lang}" for lang in langs]))


def ccnet_receipt(docs: DataFrame, budget_tokens: int = 120,
                  n_quality: int = 100,
                  pos_source: str = "src0") -> DataFrame:
    """The ccn1 per-source stage receipt over an arbitrary corpus
    frame — see ``queries/llm_queries.ccn1_ccnet_pipeline`` for the
    full stage-by-stage rationale (this is its body, moved in r17 so
    the streaming twin pins against the SAME implementation)."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup
    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_scores,
        token_budget_mixture,
    )
    from axonops_schema_registry_spark.llm.text import (
        normalize_text,
        perplexity_buckets,
    )

    # Concurrent materialization of the two independent heads (r19,
    # guide §2.6 / VERDICT r18 ask #3): the chain is a serial sequence
    # of checkpoint materializations — with lazy checkpoints each
    # subtree's AQE stages run to completion one after another even
    # when two subtrees share no dependency.  srcs and gated both read
    # only `docs`, so their checkpoints are submitted from a 2-thread
    # pool and overlap; the rest of the chain is genuinely
    # data-dependent (gated → ln → buckets → hm → top), except ded_c —
    # overlapped further down.  Thread-pool size 2 (enough to fill the
    # tail, per the guide), plain threads (job groups unused here).
    from concurrent.futures import ThreadPoolExecutor

    srcs = (docs.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    gated = (_lang_gate_en(docs)
             .select("doc_id", "source",
                     normalize_text("text").alias("text")))
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_srcs = pool.submit(lambda: srcs.localCheckpoint(eager=True))
        f_gated = pool.submit(lambda: gated.localCheckpoint(eager=True))
        srcs = f_srcs.result()               # receipt + budgets
        gated = f_gated.result()             # count + dedup (2 uses)
    # hash_blocks=True (r19): the dedup election and join-back shuffle
    # 8-byte xxhash64 keys instead of ~10-word block strings — the
    # ln1-documented narrow-key form, output pinned identical to the
    # raw path (tests/test_llm_ops.py), so the raw-text oracle replay
    # and the stream≡batch equality target are unchanged.
    ln = (line_dedup(gated, "doc_id", "text",
                     block_words=10, min_block_words=5,
                     hash_blocks=True)
          .select(F.col("id").alias("doc_id"), "n_removed",
                  "cleaned_text")
          .join(gated.select("doc_id", "source"), "doc_id")
          .localCheckpoint(eager=False))     # stage agg + survivors
    # line_dedup emits exactly one row per input document (empty
    # survivors come back with cleaned_text = ''), so the lang-gate
    # count and the dedup-stage sums fuse into ONE aggregate pass
    # over the checkpointed frame — one exchange + one receipt join
    # instead of two of each (r18: the chain is serial-latency-bound,
    # every removed stage is wall time).  Contract note (ADVICE r18):
    # "one row per input document" additionally assumes non-NULL text
    # — a NULL-text doc cannot pass the predict_lang gate above
    # (filter(NULL == 'en') drops it), so no NULL ever reaches
    # line_dedup here and n_lang keeps the every-gated-doc invariant.
    ded_c = ln.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lang"),
        F.sum((F.col("cleaned_text") != "").cast("bigint"))
        .alias("n_dedup"),
        F.sum("n_removed").cast("bigint").alias("blocks_removed"))
    # overlap the receipt aggregate with the next stage's fit (guide
    # §2.6): ded_c depends only on the already-materialized ln, so its
    # checkpoint runs on a driver thread while the main thread builds
    # and materializes the perplexity/classifier chain below — the
    # future resolves before the final receipt join needs the frame.
    # The with-block shuts the worker down on the exception path too.
    with ThreadPoolExecutor(max_workers=1) as pool:
        f_ded = pool.submit(lambda: ded_c.localCheckpoint(eager=True))
        surv = (ln.filter(F.col("cleaned_text") != "")
                .select("doc_id", "source",
                        F.col("cleaned_text").alias("text")))
        pb = perplexity_buckets(surv)        # checkpoints internally
        hm = (surv.join(pb.filter(F.col("bucket") <= 1)
                        .select("doc_id"), "doc_id")
              .localCheckpoint(eager=False))  # count + fit + gate + mix
        pos = hm.filter(F.col("source") == pos_source).select("doc_id")
        top = (quality_filter_scores(hm, pos, n_buckets=4096)
               .orderBy(F.desc("score_micro"), "doc_id")
               .limit(n_quality)
               .select("doc_id")
               .localCheckpoint(eager=False))  # 100 rows; recompute =
        #                                        the whole classifier
        ded_c = f_ded.result()
    # Broadcast-tag the pool once: the head+middle count and the
    # quality-kept count come out of the SAME aggregate (an inner
    # join ≡ left-join + filter on the tag), fusing two receipt
    # passes over hm and two receipt joins into one each (r18).
    tagged = hm.join(
        F.broadcast(top.withColumn("__q", F.lit(True))), "doc_id", "left")
    hm_c = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_head_middle"),
        F.sum(F.col("__q").isNotNull().cast("bigint"))
        .cast("bigint").alias("n_quality"))
    qkept = tagged.filter(F.col("__q")).drop("__q")
    budgets = srcs.select("source").withColumn(
        "token_budget", F.lit(budget_tokens))
    manifest = token_budget_mixture(qkept, budgets)
    sel = (manifest.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_selected"),
                F.max("cum_tokens").alias("tokens_selected"),
                F.sum("doc_id").alias("id_checksum"),
                F.max("mix_rank").alias("max_rank")))
    out = srcs
    for frame in (ded_c, hm_c, sel):
        out = out.join(frame, "source", "left")
    tail = ("n_lang", "n_dedup", "blocks_removed", "n_head_middle",
            "n_quality", "n_selected", "tokens_selected",
            "id_checksum", "max_rank")
    return (out.select(
        "source", "n_docs",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
          for c in tail])
        .orderBy("source"))


def manifest_order_audit(docs: DataFrame,
                         key_col: str = "doc_id",
                         source_col: str = "source",
                         text_col: str = "text",
                         epoch_col: str = "epoch",
                         block_words: int = 10,
                         min_block_words: int = 5) -> DataFrame:
    """BATCH pre-flight audit of a streaming manifest's arrival order
    (r17 — the driver-checkable twin of
    ``streaming/ccnet_stream.CCNetStreamSink.order_report``): given an
    epoch-stamped corpus, verify PER EPOCH the two orderings under
    which the streaming CCNet / admission sinks equal their batch
    twins — run it BEFORE an ingest to know whether the stream's
    receipts will be batch-exact, instead of discovering divergence
    after the fact.

    * ``admission_order_ok`` / ``n_sources_out_of_order`` — every
      source's (portable_hash, key) minimum in this epoch sits above
      every prior epoch's maximum (the mix5 prefix-order
      precondition, checked exactly — pair comparison, id tie-break
      included);
    * ``line_order_ok`` / ``n_late_winner_keys`` — no duplicated
      block key's batch-global winner (smallest packed (id,
      block_idx) among eligible blocks) arrives in a LATER epoch than
      the key's first occurrence (the keep-first precondition,
      checked exactly per key — the violated keys are precisely the
      victim set ``LineDedupStore.repair()`` would move).

    Audited on the RAW corpus: the streaming chain gates/normalizes
    first, and order violations can only DISAPPEAR under subsetting
    or block-merging normalization, so all-True here is sufficient
    for the gated stream (conservative in the safe direction).

    Scale shape: the admission leg aggregates to sources × epochs
    rows (config-sized; the struct min/max SortAggregate is
    affordable at that cardinality); the line leg reuses ln1's
    HashAggregate-friendly packed-order election (min over the packed
    BIGINT, winner epoch recovered by an equi-join on the winning
    order, never a struct agg over corpus-scale groups) plus one
    epoch-keyed count."""
    from pyspark.sql import Window

    from axonops_schema_registry_spark.llm.dedup import (
        _packed_order,
        _word_blocks,
    )
    from axonops_schema_registry_spark.llm.sampling import portable_hash

    epochs = docs.select(epoch_col).distinct()
    pair = F.struct(
        portable_hash(F.col(key_col).cast("string")).alias("h"),
        F.col(key_col).alias("i"))
    pe = (docs.groupBy(source_col, epoch_col)
          .agg(F.min(pair).alias("mn"), F.max(pair).alias("mx")))
    wprev = (Window.partitionBy(source_col).orderBy(epoch_col)
             .rowsBetween(Window.unboundedPreceding, -1))
    adm = (pe.withColumn("__prev", F.max("mx").over(wprev))
           .withColumn("__bad",
                       F.col("__prev").isNotNull()
                       & (F.col("mn") <= F.col("__prev")))
           .groupBy(epoch_col)
           .agg(F.sum(F.col("__bad").cast("bigint"))
                .alias("n_sources_out_of_order")))
    # dedupe to one row per (btext, __ord) taking the EARLIEST epoch
    # (ADVICE r17): a manifest that delivers the same doc in two
    # epochs would otherwise fan out the winner equi-join below
    # (double-counting n_late_winner_keys) and make the winning epoch
    # nondeterministic; min(epoch) is the arrival that matters for
    # both legs of the keep-first analysis.
    ex = (_word_blocks(docs.select(key_col, text_col), key_col,
                       text_col, block_words)
          .filter(F.col("bwords") >= min_block_words)
          .join(docs.select(F.col(key_col).alias("id"),
                            F.col(epoch_col)), "id")
          .select("btext", epoch_col, _packed_order().alias("__ord"))
          .groupBy("btext", "__ord")
          .agg(F.min(epoch_col).alias(epoch_col))
          .localCheckpoint(eager=False))   # election + winner join
    per_key = (ex.groupBy("btext")
               .agg(F.min(epoch_col).alias("__first_e"),
                    F.min("__ord").alias("__gmin")))
    late = (per_key
            .join(ex.select(F.col("btext"),
                            F.col("__ord").alias("__gmin"),
                            F.col(epoch_col).alias("__win_e")),
                  ["btext", "__gmin"])
            .filter(F.col("__win_e") > F.col("__first_e"))
            .groupBy(F.col("__win_e").alias(epoch_col))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_late_winner_keys")))
    return (epochs
            .join(adm, epoch_col, "left")
            .join(late, epoch_col, "left")
            .select(F.col(epoch_col).cast("bigint").alias(epoch_col),
                    (F.coalesce("n_sources_out_of_order", F.lit(0))
                     == 0).alias("admission_order_ok"),
                    F.coalesce("n_sources_out_of_order", F.lit(0))
                    .cast("bigint").alias("n_sources_out_of_order"),
                    (F.coalesce("n_late_winner_keys", F.lit(0))
                     == 0).alias("line_order_ok"),
                    F.coalesce("n_late_winner_keys", F.lit(0))
                    .cast("bigint").alias("n_late_winner_keys"))
            .orderBy(epoch_col))


def order_safe_manifest(docs: DataFrame, n_epochs: int = 4,
                        key_col: str = "doc_id",
                        source_col: str = "source",
                        text_col: str = "text",
                        block_words: int = 10,
                        min_block_words: int = 5) -> DataFrame:
    """The CONSTRUCTIVE complement of :func:`manifest_order_audit`
    (r17): emit a streaming manifest that satisfies BOTH stream ≡
    batch order preconditions by construction, for any corpus.

    The audit showed the real fixture cannot be hash-order-streamed
    batch-equal (late-winner block keys).  The production fix is the
    pipeline recipe itself: LINE-DEDUP FIRST (batch — keep-first
    leaves each duplicated block exactly one surviving copy, so the
    cleaned corpus has no electable duplicates and the keep-first leg
    is order-insensitive), then assign epochs by HASH-RANGE cuts of
    the portable (hash, id) order (contiguous ranges, so every
    source's arrival subsequence is prefix-monotone — the admission
    leg).  Hash-range cuts — ``epoch = h · n_epochs DIV 2^48`` — are
    the deliberate scale choice over equal-count ntile: value-based,
    computed inside the scan, no global sort; epoch sizes are
    hash-uniform rather than exactly equal (the mix2 segmentation
    trade, documented there).

    Returns the manifest (key, source, epoch, n_tokens, cleaned
    text) over the dedup survivors; dropped-empty docs are not
    scheduled.  ``manifest_order_audit`` over this frame returns
    all-True by construction — the man1 spec pins exactly that
    through one composed oracle."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup
    from axonops_schema_registry_spark.llm.sampling import portable_hash

    cleaned = (line_dedup(docs, key_col, text_col,
                          block_words=block_words,
                          min_block_words=min_block_words)
               .filter(F.col("cleaned_text") != "")
               .select(F.col("id").alias(key_col),
                       F.col("cleaned_text").alias(text_col))
               .join(docs.select(key_col, source_col), key_col))
    h = portable_hash(F.col(key_col).cast("string"))
    # exact integer cut: (h · n) >> 48 — no float quotient anywhere
    # (HASH_SPACE = 2^48; h·n < 2^53 for any sane epoch count)
    return cleaned.select(
        key_col, source_col,
        F.shiftright(h * n_epochs, 48).cast("bigint").alias("epoch"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint")
        .alias("n_tokens"),
        text_col)


def ccnet_calibration(docs: DataFrame, budget_tokens: int = 120,
                      n_quality: int = 100,
                      pos_source: str = "src0") -> dict:
    """Calibrate-once artifacts for :class:`...streaming.ccnet_stream.
    CCNetStreamSink`: replay the :func:`ccnet_receipt` chain's
    corpus-global stages over the calibration corpus and freeze their
    decisions as row-local-appliable state.  When the calibration
    corpus IS the streamed corpus, gating each micro-batch against
    these artifacts reproduces the batch chain exactly (the stream ≡
    batch pin); a production deployment calibrates on a trusted
    sample and the artifacts are the model it serves.

    Returns ``{"lm", "ppl_cut", "weights", "q_cut", "budgets"}``:
    vocabulary-bounded LM table, per-source (cut_ms, cut_id) tercile
    boundary pairs, ≤4096-row NBSVM weight table, the global
    (neg_score_micro, id) top-k boundary pair as a 1-row frame, and
    the (source, token_budget) table — every frame eagerly
    checkpointed (fixed for the run, the eval_spans lifecycle)."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup
    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_weights,
        quality_score_with_weights,
    )
    from axonops_schema_registry_spark.llm.text import (
        normalize_text,
        perplexity_buckets,
        unigram_lm,
    )

    gated = (_lang_gate_en(docs)
             .select("doc_id", "source",
                     normalize_text("text").alias("text")))
    surv = (line_dedup(gated, "doc_id", "text",
                       block_words=10, min_block_words=5,
                       hash_blocks=True)
            .filter(F.col("cleaned_text") != "")
            .select(F.col("id").alias("doc_id"),
                    F.col("cleaned_text").alias("text"))
            .join(gated.select("doc_id", "source"), "doc_id")
            .localCheckpoint(eager=False))   # lm fit + buckets + pool
    lm = unigram_lm(surv).localCheckpoint(eager=True)
    pb = perplexity_buckets(surv, lm=lm)
    hm_pb = pb.filter(F.col("bucket") <= 1)
    # the LAST kept element per source in the (mean_surprisal, id)
    # rank order — lexicographic <= against this pair IS the tercile
    # rank cut, tie-break included
    ppl_cut = (hm_pb.groupBy("source")
               .agg(F.max(F.struct(
                   F.col("mean_surprisal").alias("cut_ms"),
                   F.col("doc_id").alias("cut_id"))).alias("c"))
               .select("source", "c.cut_ms", "c.cut_id")
               .localCheckpoint(eager=True))
    hm = surv.join(hm_pb.select("doc_id"), "doc_id") \
        .localCheckpoint(eager=False)        # fit + score (2 uses)
    pos = hm.filter(F.col("source") == pos_source).select("doc_id")
    weights = quality_filter_weights(hm, pos, n_buckets=4096) \
        .localCheckpoint(eager=True)
    scores = quality_score_with_weights(hm, weights, n_buckets=4096)
    # the k-th element of the (score desc, id asc) order, as the max
    # of the order-isomorphic (-score, id) key over the top-k — exact
    # BIGINT negation, no float anywhere
    q_cut = (scores
             .orderBy(F.desc("score_micro"), "doc_id").limit(n_quality)
             .agg(F.max(F.struct(
                 (-F.col("score_micro")).alias("cut_neg_s"),
                 F.col("doc_id").alias("cut_id"))).alias("c"))
             .select("c.cut_neg_s", "c.cut_id")
             .localCheckpoint(eager=True))
    budgets = (docs.select("source").distinct()
               .withColumn("token_budget", F.lit(budget_tokens))
               .localCheckpoint(eager=True))
    return {"lm": lm, "ppl_cut": ppl_cut, "weights": weights,
            "q_cut": q_cut, "budgets": budgets}

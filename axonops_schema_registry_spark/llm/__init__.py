"""Large-scale training-data-pipeline operators (the north-star extensions
beyond the reference's own surface — BASELINE.json):

- ``dedup``      — exact (fingerprint groupBy), MinHash-LSH, SimHash
- ``similarity`` — brute-force cosine top-k + LSH-bucketed ANN
- ``text``       — language ID, quality scoring, token counting, rolling
                   document fingerprints
- ``multimodal`` — opaque binary payload columns with typed metadata and
                   Arrow-batched decode plumbing; REAL header, PNG-pixel
                   and WAV-PCM-sample kernels (stdlib struct/zlib +
                   numpy) — only compressed codecs stay gated
- ``sampling``   — deterministic stratified sampling + exact-quota
                   dataset-mixture manifests
- ``contamination`` — benchmark decontamination via exact n-gram
                   span overlap against a broadcast evaluation set
- ``packing``    — training-context sequence packing: concat-then-chunk
                   (per-source and hash-range segmented windows),
                   whole-document next-fit via applyInPandas, and
                   overlapping chunking
- PII scrubbing — RE2-safe detector/redactor columns (``text.py``)
- Gopher-style quality rules — the five shape heuristics + accept gate
  (``text.py:gopher_stats/gopher_rules``) and repetition stats
  (``operators.text.repetition_stats``)
- TF-IDF term extraction — ``operators.text.tfidf_top_terms`` (linear
  IDF: exact-integer division, engine-portable ranking)
- Canonical normalization — ``text.normalize_text`` + SQL twin (the
  ASCII-fold/control-strip/whitespace-collapse pre-dedup pass)
- Winnowing fingerprints — ``dedup.winnowing_fingerprints`` (the MOSS
  rightmost-min window selection, shared-run guarantee)
- int8 quantization — ``similarity.quantize_int8`` (floor-based
  engine-portable codes)
- Exact-substring span dedup — ``dedup.duplicated_span_islands`` /
  ``dedup.remove_duplicated_spans`` (the Lee et al. ExactSubstr
  find + cut steps, with 64-bit gram-hash shuffle keys at scale)
- DSIR importance selection — ``sampling.dsir_log_weights`` (hashed
  n-gram bucket LMs, target-vs-pool log ratios, exact-decimal sums)
- Training-shard export — ``export.assign_shards`` /
  ``export.shard_manifest`` / ``export.write_shards`` (deterministic
  hash sharding, checksummed manifest receipt, partitioned writer)
- the release sign-off — ``CurationPipeline.release_report`` composes
  dedup + decontamination + quality + PII into one per-source rollup
- ``ccnet``      — the CCNet end-to-end composition surface:
  ``ccnet_receipt`` (the ccn1 batch chain), ``ccnet_calibration``
  (calibrate-once artifacts for the streaming twin) and
  ``manifest_order_audit`` (pre-flight stream ≡ batch order check)

``CurationPipeline`` below bundles the curation surface over a document
corpus the way ``api.RegistryAnalytics`` bundles the registry surface.

Every operator is designed shuffle-first for 100 TB: candidate generation
is always a bucketed equi-join (LSH bands, SimHash chunks, ANN buckets),
never an n² cross product; exact verification runs only on candidates.
"""


class CurationPipeline:
    """User-facing facade over a documents corpus: the operations a
    training-data pipeline chains, each backed by the driver-verified
    operator underneath."""

    def __init__(self, docs, id_col: str = "doc_id",
                 text_col: str = "text",
                 source_col: str = "source") -> None:
        self.docs = docs
        self.id_col, self.text_col = id_col, text_col
        self.source_col = source_col

    @classmethod
    def from_sf_dir(cls, spark, sf_dir: str) -> "CurationPipeline":
        from axonops_schema_registry_spark.catalog import load_table

        return cls(load_table(spark, sf_dir, "documents"))

    def near_dup_pairs(self, threshold: float = 0.8, ngram: int = 3):
        from axonops_schema_registry_spark.llm.dedup import (
            minhash_lsh_pairs,
        )

        return minhash_lsh_pairs(self.docs, self.id_col, self.text_col,
                                 threshold, ngram)

    def dedup_flags(self, threshold: float = 0.8, ngram: int = 3):
        """First-wins ingestion flags (dd7)."""
        from axonops_schema_registry_spark.llm.dedup import (
            incremental_dedup_flags,
        )

        return incremental_dedup_flags(self.docs, self.id_col,
                                       self.text_col, threshold, ngram)

    def deduplicated(self, threshold: float = 0.8, ngram: int = 3):
        """The cleaned corpus: originals only."""
        from pyspark.sql import functions as F

        flags = self.dedup_flags(threshold, ngram)
        return (self.docs.join(
            flags.filter(~F.col("is_dup")).select(self.id_col),
            self.id_col))

    def sample(self, rates):
        """Deterministic per-source sampling (smp1); ``rates`` is a
        (source, rate) DataFrame."""
        from axonops_schema_registry_spark.llm.sampling import (
            stratified_sample,
        )

        return stratified_sample(self.docs, rates, self.id_col,
                                 self.source_col)

    def mixture(self, quotas):
        """Exact-quota mixture manifest (mix1); ``quotas`` is a
        (source, quota) DataFrame with integer quotas."""
        from axonops_schema_registry_spark.llm.sampling import (
            dataset_mixture,
        )

        return dataset_mixture(self.docs, quotas, self.id_col,
                               self.source_col)

    def language_id(self):
        from axonops_schema_registry_spark.llm.text import predict_lang

        return self.docs.select(
            self.id_col, predict_lang(self.text_col).alias("lang"))

    def pii_scan(self):
        """Per-document PII match counts (tx7's audit path)."""
        from axonops_schema_registry_spark.llm.text import pii_counts

        return self.docs.select(self.id_col, *pii_counts(self.text_col))

    def redacted(self):
        """The corpus with every PII match replaced by a typed tag."""
        from axonops_schema_registry_spark.llm.text import pii_redact

        return self.docs.withColumn(self.text_col,
                                    pii_redact(self.text_col))

    def contamination(self, test_docs, n: int = 5):
        """Flag training documents carrying exact n-gram spans from a
        held-out evaluation set (ctm1)."""
        from axonops_schema_registry_spark.llm.contamination import (
            contamination_flags,
        )

        return contamination_flags(self.docs, test_docs, self.id_col,
                                   self.text_col, n)

    def quality_flags(self):
        """Per-document Gopher rule verdicts (gq1's per-doc stage)."""
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.llm.text import (
            gopher_rules,
            gopher_stats,
        )

        stats = self.docs.select(self.id_col,
                                 *gopher_stats(self.text_col))
        rules = gopher_rules(F.col("n_words"), F.col("mean_word_len"),
                             F.col("symbol_ratio"), F.col("alpha_frac"),
                             F.col("stop_hits"))
        return stats.select(
            self.id_col, *[v.alias(k) for k, v in rules.items()],
            F.expr(" AND ".join(rules)).alias("ok_all"))

    def packed(self, context_len: int = 4096):
        """Per-pack manifest for fixed-length training contexts (pk1)."""
        from axonops_schema_registry_spark.llm.packing import (
            pack_manifest,
        )

        return pack_manifest(self.docs, context_len, self.id_col,
                             self.source_col, self.text_col)

    def top_terms(self, k: int = 3):
        """Characteristic terms per document by TF-IDF (ti1)."""
        from axonops_schema_registry_spark.operators.text import (
            tfidf_top_terms,
        )

        return tfidf_top_terms(self.docs, self.id_col, self.text_col, k)

    def perplexity(self):
        """Corpus-fitted unigram-LM surprisal per document (ppl1) —
        the CCNet-style quality signal to threshold next to
        :meth:`quality_flags`."""
        from axonops_schema_registry_spark.llm.text import (
            unigram_surprisal,
        )

        return unigram_surprisal(self.docs, self.id_col, self.text_col)

    def chunked(self, chunk_words: int = 256, stride_words: int = 192):
        """Overlapping word-aligned chunk manifest (ch1)."""
        from axonops_schema_registry_spark.llm.packing import (
            chunk_documents,
        )

        return chunk_documents(self.docs, chunk_words, stride_words,
                               self.id_col, self.text_col)

    def packed_segmented(self, context_len: int = 4096,
                         n_segments: int = 16):
        """Hash-range segmented pack assignments (pk2) — the packing
        shape whose window parallelism is sources × segments."""
        from axonops_schema_registry_spark.llm.packing import (
            pack_assignments_segmented,
        )

        return pack_assignments_segmented(self.docs, context_len,
                                          n_segments, self.id_col,
                                          self.source_col,
                                          self.text_col)

    def packed_whole(self, context_len: int = 4096,
                     n_segments: int = 16):
        """Whole-document next-fit packing (pk3) — no straddling."""
        from axonops_schema_registry_spark.llm.packing import (
            pack_documents_whole,
        )

        return pack_documents_whole(self.docs, context_len, n_segments,
                                    self.id_col, self.source_col,
                                    self.text_col)

    def duplicated_spans(self, k: int = 8, min_count: int = 2,
                         hash_grams: bool = True):
        """Maximal duplicated word spans (es1, ExactSubstr find step);
        defaults to the 64-bit gram-hash shuffle keys — the scale
        form (output pinned identical to the raw-string path)."""
        from axonops_schema_registry_spark.llm.dedup import (
            duplicated_span_islands,
        )

        return duplicated_span_islands(self.docs, self.id_col,
                                       self.text_col, k, min_count,
                                       hash_grams)

    def span_deduplicated(self, k: int = 8, min_count: int = 2,
                          hash_grams: bool = True):
        """The corpus with every duplicated span CUT (es2 — all
        occurrences removed, the symmetric ExactSubstr policy)."""
        from axonops_schema_registry_spark.llm.dedup import (
            remove_duplicated_spans,
        )

        return remove_duplicated_spans(self.docs, self.id_col,
                                       self.text_col, k, min_count,
                                       hash_grams)

    def dsir_weights(self, target_ids, n_buckets: int = 4096):
        """Per-document DSIR log importance weights against a target
        slice (dsir1's scoring stage); resample by ranking on
        ``log_weight`` and keeping the top N."""
        from axonops_schema_registry_spark.llm.sampling import (
            dsir_log_weights,
        )

        return dsir_log_weights(self.docs, target_ids, self.id_col,
                                self.text_col, n_buckets)

    def quality_filter(self, positive_ids, n_buckets: int = 4096):
        """Per-document hashed-linear quality verdicts against a
        trusted reference slice (qf1 — the fastText-style CCNet/GPT-3
        quality filter): (id, n_feats, score_micro, keep)."""
        from axonops_schema_registry_spark.llm.sampling import (
            quality_filter_scores,
        )

        return quality_filter_scores(self.docs, positive_ids,
                                     self.id_col, self.text_col,
                                     n_buckets)

    def token_budget_mixture(self, budgets):
        """Token-budget mixture manifest (mix5 — 'give me N tokens
        per source'): hash-order prefix per source whose inclusive
        cumulative token count stays within ``budgets``'s
        (source, token_budget) rows."""
        from axonops_schema_registry_spark.llm.sampling import (
            token_budget_mixture,
        )

        return token_budget_mixture(self.docs, budgets, self.id_col,
                                    self.source_col, self.text_col)

    def perplexity_buckets(self, n_buckets: int = 3):
        """CCNet head/middle/tail partition of the corpus by
        per-source unigram-LM perplexity rank (ccb1): per document
        (id, source, n_tokens, mean_surprisal, bucket, label)."""
        from axonops_schema_registry_spark.llm.text import (
            perplexity_buckets,
        )

        return perplexity_buckets(self.docs, self.id_col,
                                  self.text_col, self.source_col,
                                  n_buckets)

    def ccnet_curated(self, reference_pos_ids, lang: str = "en",
                      block_words: int = 10, min_block_words: int = 5,
                      keep_buckets: int = 2, top_quality: int = 100,
                      token_budget: int = 120):
        """The full CCNet curation chain (ccn1 — Wenzek et al. 2020,
        composed in paper order) returning the SELECTED documents a
        training run would consume: language-ID gate (keep predicted
        ``lang``) → canonical normalization → keep-first paragraph
        dedup → per-source perplexity buckets (keep the lowest
        ``keep_buckets`` of 3) → quality rank gate (top
        ``top_quality`` by NBSVM score vs ``reference_pos_ids``) →
        per-source ``token_budget`` prefix mixture.  Output: one row
        per selected document (id, source, cleaned text, mix_rank,
        cum_tokens).  The per-source stage receipt — the audit view of
        the same chain — is the ccn1 query spec, whose DuckDB oracle
        pins every seam; this facade method shares the stage operators
        verbatim.  Every multi-consumer corpus-scale frame is lazily
        checkpointed once (the ccb1/qf2 two-consumer discipline)."""
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.llm.dedup import line_dedup
        from axonops_schema_registry_spark.llm.sampling import (
            quality_filter_scores,
            token_budget_mixture,
        )
        from axonops_schema_registry_spark.llm.text import (
            normalize_text,
            perplexity_buckets,
            predict_lang,
        )

        gated = (self.docs
                 .filter(predict_lang(self.text_col) == lang)
                 .select(self.id_col, self.source_col,
                         normalize_text(self.text_col)
                         .alias(self.text_col))
                 .localCheckpoint(eager=False))
        surv = (line_dedup(gated, self.id_col, self.text_col,
                           block_words=block_words,
                           min_block_words=min_block_words)
                .filter(F.col("cleaned_text") != "")
                .select(F.col("id").alias(self.id_col),
                        F.col("cleaned_text").alias(self.text_col))
                .join(gated.select(self.id_col, self.source_col),
                      self.id_col)
                .localCheckpoint(eager=False))
        pb = perplexity_buckets(surv, self.id_col, self.text_col,
                                self.source_col)
        hm = (surv.join(pb.filter(F.col("bucket") < keep_buckets)
                        .select(self.id_col), self.id_col)
              .localCheckpoint(eager=False))
        pos = (hm.join(reference_pos_ids.select(
                   F.col(reference_pos_ids.columns[0])
                   .alias(self.id_col)), self.id_col)
               .select(self.id_col))
        top = (quality_filter_scores(hm, pos, self.id_col,
                                     self.text_col)
               .orderBy(F.desc("score_micro"), self.id_col)
               .limit(top_quality).select(self.id_col)
               .localCheckpoint(eager=False))
        qkept = hm.join(F.broadcast(top), self.id_col)
        budgets = (self.docs.select(self.source_col).distinct()
                   .withColumn("token_budget", F.lit(token_budget)))
        return token_budget_mixture(qkept, budgets, self.id_col,
                                    self.source_col, self.text_col)

    def export_shards(self, out_dir: str, n_shards: int = 16):
        """Write the corpus as hash-sharded parquet directories and
        return the checksummed manifest receipt (shard1)."""
        from axonops_schema_registry_spark.llm.export import (
            write_shards,
        )

        return write_shards(self.docs, out_dir, n_shards, self.id_col,
                            self.text_col)

    def mixture_segmented(self, quotas, n_segments: int = 16):
        """Rank-exact segmented mixture manifest (mix2): identical
        output to :meth:`mixture`, sources × segments window tasks."""
        from axonops_schema_registry_spark.llm.sampling import (
            dataset_mixture_segmented,
        )

        return dataset_mixture_segmented(self.docs, quotas, n_segments,
                                         self.id_col, self.source_col)

    def release_report(self, eval_docs, threshold: float = 0.8,
                       ngram: int = 3, contam_n: int = 5):
        """The capstone per-source release sign-off (rel1's shape over
        THIS corpus): first-wins dedup + decontamination vs
        ``eval_docs`` + Gopher quality + PII incidence, rolled up with
        released document/token counts."""
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.llm.contamination import (
            contamination_flags,
        )
        from axonops_schema_registry_spark.llm.dedup import (
            incremental_dedup_flags,
        )
        from axonops_schema_registry_spark.llm.text import (
            gopher_rules,
            gopher_stats,
            pii_counts,
        )

        dedup = incremental_dedup_flags(self.docs, self.id_col,
                                        self.text_col, threshold, ngram)
        contam = (contamination_flags(self.docs, eval_docs, self.id_col,
                                      self.text_col, contam_n)
                  .select(self.id_col,
                          F.col("n_shared_spans").alias("n_eval_spans")))
        stats = self.docs.select(self.id_col, self.source_col,
                                 *gopher_stats(self.text_col),
                                 *pii_counts(self.text_col))
        rules = gopher_rules(F.col("n_words"), F.col("mean_word_len"),
                             F.col("symbol_ratio"), F.col("alpha_frac"),
                             F.col("stop_hits"))
        ok_all = None
        for r in rules.values():
            ok_all = r if ok_all is None else (ok_all & r)
        per_doc = (stats
                   .join(dedup, self.id_col)
                   .join(contam, self.id_col, "left")
                   .na.fill({"n_eval_spans": 0})
                   .withColumn("ok_all", ok_all)
                   .withColumn("has_pii",
                               (F.col("n_email") + F.col("n_phone")
                                + F.col("n_ssn") + F.col("n_ipv4")) > 0)
                   .withColumn("released",
                               ~F.col("is_dup")
                               & (F.col("n_eval_spans") == 0)
                               & F.col("ok_all")))
        return (per_doc.groupBy(self.source_col)
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_words").alias("total_tokens"),
                     F.sum(F.col("is_dup").cast("int")).cast("bigint")
                     .alias("n_dup"),
                     F.sum((F.col("n_eval_spans") > 0).cast("int"))
                     .cast("bigint").alias("n_contaminated"),
                     F.sum(F.col("has_pii").cast("int")).cast("bigint")
                     .alias("n_pii_docs"),
                     F.sum((~F.col("ok_all")).cast("int")).cast("bigint")
                     .alias("n_quality_fail"),
                     F.sum(F.col("released").cast("int")).cast("bigint")
                     .alias("n_released"),
                     F.sum(F.when(F.col("released"), F.col("n_words"))
                           .otherwise(F.lit(0)))
                     .alias("released_tokens")))

    # -- r12 surface ---------------------------------------------------------

    def length_outliers(self, z: float = 3.0):
        """Per-document robust length z-scores + outlier flags (qn1):
        per-source median/MAD over word counts — the outlier-resistant
        scaling to threshold before mixing heterogeneous sources."""
        from axonops_schema_registry_spark.llm.text import (
            robust_length_stats,
        )

        return robust_length_stats(self.docs, self.id_col,
                                   self.text_col, self.source_col, z)

    def novelty(self, ngram: int = 3):
        """Per-document n-gram novelty (ng1): the fraction of a doc's
        distinct shingles first seen in that doc — the memorization /
        diversity diagnostic."""
        from axonops_schema_registry_spark.llm.text import (
            ngram_novelty,
        )

        return ngram_novelty(self.docs, self.id_col, self.text_col,
                             ngram)

    def cluster_capped(self, k: int = 2, threshold: float = 0.8,
                       ngram: int = 3):
        """Cluster-capped keep set (cap1): each near-dup cluster keeps
        its ``k`` smallest ids — the softened dedup policy (bounded
        benign repetition instead of keep-one)."""
        from axonops_schema_registry_spark.llm.dedup import (
            cluster_capped_keep,
        )

        return cluster_capped_keep(self.docs, k, self.id_col,
                                   self.text_col, threshold, ngram)

    def split(self, train_milli: int = 800, val_milli: int = 100):
        """Deterministic stratified train/val/test assignment (split1)
        from the portable 48-bit hash against exact integer
        thresholds — reproducible across engines, runs, and cluster
        sizes.  Fractions enter as INTEGER per-mille; no float ever
        touches the threshold derivation."""
        from axonops_schema_registry_spark.llm.sampling import (
            hash_split,
        )

        return hash_split(self.docs, self.id_col, self.source_col,
                          train_milli, val_milli)

    def temperature_quotas(self, budget: int,
                           exact_budget: bool = False):
        """Per-source quotas from temperature-weighted token mass
        (mix3; Rae et al. 2021 non-proportional sampling).
        ``exact_budget=True`` adds the r13 largest-remainder top-up —
        integer-only, source-name tie-break — so sum(quota) ==
        budget exactly (mix4)."""
        from axonops_schema_registry_spark.llm.sampling import (
            temperature_quotas,
        )

        return temperature_quotas(self.docs, budget, self.source_col,
                                  self.text_col, exact_budget)

    def split_leakage(self, n: int = 5,
                      broadcast_threshold: int | None = None,
                      train_milli: int = 800, val_milli: int = 100):
        """Train/test split-leakage audit (ctm4): split the corpus
        deterministically, then report which TRAIN docs carry n-gram
        spans that also appear in the TEST split.
        ``broadcast_threshold`` switches to the bloom-prefilter
        escalation when the test split outgrows a broadcast (r13;
        identical flags either way)."""
        from axonops_schema_registry_spark.llm.contamination import (
            split_leakage_flags,
        )
        from axonops_schema_registry_spark.llm.sampling import (
            split_column,
        )

        lab = self.docs.withColumn(
            "split", split_column(self.id_col, train_milli, val_milli))
        return split_leakage_flags(lab, self.id_col, self.text_col,
                                   n, "split", broadcast_threshold)

    def perplexity_bigram(self, ref_mod: int = 7):
        """Bigram-LM surprisal with stupid backoff (ppl2): LM fitted
        on the ``id % ref_mod != 0`` slice, every doc scored;
        ``n_backoff`` is the OOD signal."""
        from axonops_schema_registry_spark.llm.text import (
            bigram_surprisal,
        )

        return bigram_surprisal(self.docs, self.id_col, self.text_col,
                                ref_mod)

    def line_deduplicated(self, block_words: int = 10,
                          min_block_words: int = 5,
                          hash_blocks: bool = False):
        """CCNet keep-first line/paragraph dedup on deterministic
        fixed-width blocks (ln1, r14): later copies of a duplicated
        block are cut, the first survives.  ``hash_blocks`` is the
        narrow-shuffle-key 100 TB form (output-identical)."""
        from axonops_schema_registry_spark.llm.dedup import line_dedup

        return line_dedup(self.docs, self.id_col, self.text_col,
                          block_words, min_block_words, hash_blocks)

    def line_decontaminated(self, eval_docs, block_words: int = 10,
                            min_block_words: int = 5):
        """Cross-corpus line decontamination (ln2, r14): cut from
        every train doc any block appearing as a block in the eval
        corpus; eval docs are never modified."""
        from axonops_schema_registry_spark.llm.dedup import (
            line_decontaminate,
        )

        return line_decontaminate(self.docs, eval_docs, self.id_col,
                                  self.text_col, block_words,
                                  min_block_words)

    def key_skew_profile(self, k: int = 8, top_n: int = 20):
        """ExactSubstr join-key skew diagnostic (kd1, r14): the
        top_n hottest k-gram shuffle keys with exact ppm shares —
        run before the es family to size salting."""
        from axonops_schema_registry_spark.llm.dedup import (
            gram_key_profile,
        )

        return gram_key_profile(self.docs, self.id_col, self.text_col,
                                k, top_n)

    def bucket_skew_profile(self, ngram: int = 3, n_hashes: int = 64,
                            bands: int = 16, top_n: int = 20):
        """LSH bucket-occupancy diagnostic (kd2, r14): candidate
        pairs grow quadratically with occupancy — the measurement
        behind the max_bucket rank cap."""
        from axonops_schema_registry_spark.llm.dedup import (
            lsh_bucket_profile,
        )

        return lsh_bucket_profile(self.docs, self.id_col,
                                  self.text_col, ngram, n_hashes,
                                  bands, top_n)

    def cluster_mixture(self, embeddings, budget: int,
                        centroid_stride: int = 61,
                        max_centroids: int = 8):
        """Cluster-balanced mixture quotas (sem2, r14): discovered-
        domain temperature quotas — nearest deterministic centroid
        per embedding, one corpus pass for per-cluster mass, the
        shared integer quota math via the mass_col hook.
        ``embeddings``: (vec_id, embedding) aligned with id_col."""
        from axonops_schema_registry_spark.llm.sampling import (
            cluster_mixture_quotas,
        )

        return cluster_mixture_quotas(self.docs, embeddings, budget,
                                      self.id_col, self.text_col,
                                      centroid_stride, max_centroids)

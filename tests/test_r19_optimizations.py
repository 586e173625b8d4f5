"""Round-19 optimization pins.

1. The row-local MinHash/SimHash signature forms (no collect_list
   aggregation state) are bit-identical to the r18 aggregate forms —
   replayed inline here — INCLUDING on a pathological multi-million-
   token document (VERDICT r18 ask #4: the aggregate buffer held every
   token hash of a document in one row; the row-local projection
   bounds execution-memory state by construction).
2. Library plan caches are released by the facade-level
   ``release_plan_caches`` contract (VERDICT r18 ask #6) — no pinned
   frames after a query completes in a shared session.
3. es2's hash_grams=True switch (VERDICT r18 ask #5) is output-
   identical to the raw-string-key path the DuckDB oracle replays.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table


def _old_shape_minhash(toks, n_hashes=64):
    """The r18 collect_list formulation, inlined as the reference."""
    return (toks.groupBy("id")
            .agg(F.collect_list(F.xxhash64(F.col("token")))
                 .alias("__h0"))
            .select("id", F.expr(
                f"transform(sequence(0, {n_hashes - 1}), s -> "
                f"array_min(transform(__h0, h -> xxhash64(h, s))))")
                .alias("sig")))


def test_minhash_row_local_equals_aggregate_form(spark, sf_dir):
    from axonops_schema_registry_spark.llm.dedup import (
        minhash_signatures,
    )
    from axonops_schema_registry_spark.operators.text import (
        token_arrays,
        token_set,
    )

    docs = load_table(spark, sf_dir, "documents")
    arrs = token_arrays(docs, "doc_id", "text", 3)
    got = {r["id"]: list(r["sig"])
           for r in minhash_signatures(arrs, 64).collect()}
    toks = token_set(docs, "doc_id", "text", 3)
    want = {r["id"]: list(r["sig"])
            for r in _old_shape_minhash(toks, 64).collect()}
    assert got == want and len(got) > 0


def test_minhash_pathological_megatoken_document(spark):
    """A single document with >= 10^6 distinct tokens signs correctly
    and identically to the aggregate-form replay — the memory-spike
    class the row-local rewrite bounds (the token array streams
    through as row data, never as per-group aggregation state)."""
    from axonops_schema_registry_spark.llm.dedup import (
        minhash_signatures,
    )
    from axonops_schema_registry_spark.operators.text import (
        token_arrays,
        token_set,
    )

    n = 1_000_000
    fat = spark.range(1).select(
        F.lit(7).alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(n)),
                        lambda i: F.concat(F.lit("w"),
                                           i.cast("string"))),
            " ").alias("text"))
    arrs = token_arrays(fat, "doc_id", "text", 1)
    # sanity: genuinely >= 10^6 distinct tokens in one row
    assert arrs.select(F.size("toks")).first()[0] == n
    got = minhash_signatures(arrs, 8).first()
    want = _old_shape_minhash(
        token_set(fat, "doc_id", "text", 1), 8).first()
    assert got["id"] == want["id"] == 7
    assert list(got["sig"]) == list(want["sig"])


def test_simhash_row_local_equals_aggregate_form(spark, sf_dir):
    """dd3's row-local bit vote matches the r18 collect_list replay
    (xxhash64 and portable paths both)."""
    from axonops_schema_registry_spark.llm.dedup import (
        N_PORTABLE_BITS,
        N_SIMHASH_BITS,
        simhash63,
    )
    from axonops_schema_registry_spark.llm.sampling import (
        portable_hash,
    )
    from axonops_schema_registry_spark.operators.text import token_set

    docs = load_table(spark, sf_dir, "documents")
    for portable in (False, True):
        n_bits = N_PORTABLE_BITS if portable else N_SIMHASH_BITS
        got = {r["id"]: r["simhash"]
               for r in simhash63(docs, "doc_id", "text", 3,
                                  portable=portable).collect()}
        toks = token_set(docs, "doc_id", "text", 3)
        h = (portable_hash(F.col("token")) if portable
             else F.xxhash64("token"))
        want = {r["id"]: r["simhash"]
                for r in (toks.withColumn("h", h)
                          .groupBy("id")
                          .agg(F.collect_list("h").alias("__h0"))
                          .select("id", F.expr(
                              f"aggregate(sequence(0, {n_bits - 1}), "
                              f"CAST(0 AS BIGINT), (acc, b) -> acc + "
                              f"IF(2 * size(filter(__h0, h -> "
                              f"((h >> b) & 1) = 1)) > size(__h0), "
                              f"shiftleft(CAST(1 AS BIGINT), b), "
                              f"CAST(0 AS BIGINT)))").alias("simhash"))
                          .collect())}
        assert got == want and len(got) > 0


def test_plan_caches_released_after_query(spark, sf_dir):
    """The shared-session lifecycle contract: after a cached-plan query
    completes, ``release_plan_caches()`` leaves no library-pinned
    frames (VERDICT r18 ask #6)."""
    from axonops_schema_registry_spark.llm.dedup import (
        minhash_lsh_pairs,
    )
    from axonops_schema_registry_spark.llm.text import ngram_novelty
    from axonops_schema_registry_spark.operators.core import (
        _PLAN_CACHES,
        release_plan_caches,
    )

    spark.catalog.clearCache()
    release_plan_caches()  # drain anything earlier tests left behind
    jsc = spark.sparkContext._jsc.sc()

    def _stored_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    # earlier tests in a shared session may have live localCheckpoint
    # RDD blocks (not CacheManager entries — release_plan_caches does
    # not and must not touch them), so assert on the DELTA.
    before = _stored_ids()
    docs = load_table(spark, sf_dir, "documents")
    minhash_lsh_pairs(docs, "doc_id", "text", 0.8, 3).collect()
    ngram_novelty(docs).collect()
    assert len(_PLAN_CACHES) >= 3  # arrs + buckets + ngram toks
    assert _stored_ids() - before  # caches are live now
    release_plan_caches()
    assert len(_PLAN_CACHES) == 0
    # unpersist is async (blocking=False) — poll briefly
    import time

    for _ in range(50):
        if not (_stored_ids() - before):
            break
        time.sleep(0.1)
    assert _stored_ids() - before == set()


def test_lang_gate_split_once_equals_inline(spark, sf_dir):
    """ccn1's split-once lang gate (``ccnet._lang_gate_en``) keeps the
    inline ``predict_lang == 'en'`` survivor set exactly (shared
    argmax chain, same tie-break) — including on ties and all-zero
    rows planted here."""
    from axonops_schema_registry_spark.llm.ccnet import _lang_gate_en
    from axonops_schema_registry_spark.llm.text import predict_lang

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.sparkSession.createDataFrame(
        [(9001, "s", "the der le el y to"),   # cross-lang tie-ish
         (9002, "s", ""),                      # no hits -> unknown
         (9003, "s", "der die das und ist"),   # de
         (9004, "s", "the a of and to")],      # en
        "doc_id bigint, source string, text string")
    corpus = docs.select("doc_id", "source", "text") \
        .unionByName(planted)
    want = {r["doc_id"] for r in corpus.filter(
        predict_lang("text") == "en").collect()}
    got = {r["doc_id"] for r in _lang_gate_en(corpus).collect()}
    assert got == want and 9004 in got and 9003 not in got


def test_es2_hash_grams_twin_is_output_identical(spark, sf_dir):
    """es2 now runs hash_grams=True (narrow 8-byte gram shuffle keys)
    while its oracle replays raw string keys — pinned equal here at
    the spec level (the es1h equivalence class, VERDICT r18 ask #5)."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    key = ["id", "n_words", "n_removed", "cleaned_text"]
    hashed = sorted(
        tuple(r[c] for c in key)
        for r in remove_duplicated_spans(docs, "doc_id", "text", k=8,
                                         min_count=2,
                                         hash_grams=True).collect())
    raw = sorted(
        tuple(r[c] for c in key)
        for r in remove_duplicated_spans(docs, "doc_id", "text", k=8,
                                         min_count=2,
                                         hash_grams=False).collect())
    assert hashed == raw and len(hashed) > 0


def test_concurrent_plan_cache_release_is_safe(spark):
    """Threads that cache and release frames on one session at once:
    no release raises and no frame is left persisted."""
    import threading
    import time

    from axonops_schema_registry_spark.operators.core import (
        _PLAN_CACHES,
        plan_cache,
        release_plan_caches,
    )

    release_plan_caches()  # drain anything earlier tests left behind
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    n_threads, per_thread = 4, 3
    cached = threading.Barrier(n_threads)
    errors: list[Exception] = []

    def work(t: int) -> None:
        try:
            for k in range(per_thread):
                df = plan_cache(spark.range(50 + 10 * t + k)
                                .selectExpr("id * 2 AS v"))
                assert df.count() == 50 + 10 * t + k
            cached.wait(60)       # every thread releases at once
            release_plan_caches()
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(_PLAN_CACHES) == 0
    for _ in range(50):       # unpersist is asynchronous
        if set(jsc.getPersistentRDDs().keySet()) <= before:
            break
        time.sleep(0.1)
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_plan_cache_registry_survives_racing_releases(monkeypatch):
    """Many threads caching and releasing stand-in frames, with a tiny
    thread switch interval: no release raises and every recorded frame
    is released exactly once."""
    import sys
    import threading

    from axonops_schema_registry_spark.operators import core

    class Frame:
        def __init__(self) -> None:
            self.released = 0

        def cache(self):
            return self

        def unpersist(self):
            self.released += 1

    monkeypatch.setattr(core, "_PLAN_CACHES", [])
    frames = [Frame() for _ in range(4000)]
    errors: list[Exception] = []

    def cacher(share):
        for f in share:
            core.plan_cache(f)
            if len(core._PLAN_CACHES) > 3:
                try:
                    core.release_plan_caches()
                except Exception as exc:
                    errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=cacher, args=(frames[t::8],))
                   for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    core.release_plan_caches()
    assert errors == []
    assert [f.released for f in frames] == [1] * len(frames)

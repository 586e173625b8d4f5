"""AnnIndexStore — stream ≡ batch pins for the persistent ANN index
(r18, VERDICT r17 ask #7).

Equality contract: store-built buckets equal ``_portable_buckets``
over the union of ingested batches, and ``lookup_topk`` equals
``lsh_ann_topk_portable``/``multiprobe_lsh_ann_topk`` over the same
corpus — in ANY arrival order (a vector's buckets depend only on the
fixed fit-once planes, so ingest commutes; this store structurally
has no repair domain, unlike the dedup stores).
"""

from __future__ import annotations

import pytest

# Multi-epoch store-lifecycle / stream-fuzz scale suite: every test but
# one smoke test is slow-marked (see pytest.ini; run with `pytest -m slow`).

import json
import os
import random

from pyspark.sql import functions as F

from axonops_schema_registry_spark.streaming.ann_store import (
    AnnIndexStore,
)

DIM = 8
N = 90


def _vecs(seed: int = 7, n: int = N):
    rnd = random.Random(seed)
    return [(i, [rnd.uniform(-1, 1) for _ in range(DIM)])
            for i in range(n)]


def _corpus(spark, rows=None):
    return spark.createDataFrame(
        rows if rows is not None else _vecs(),
        "corpus_id bigint, corpus_vec array<float>") \
        .localCheckpoint(eager=True)


def _queries(spark, seed: int = 99, n: int = 6):
    return spark.createDataFrame(
        [(1000 + i, v) for i, v in
         enumerate(v for _, v in _vecs(seed, n))],
        "query_id bigint, query_vec array<float>") \
        .localCheckpoint(eager=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_buckets(spark, corpus):
    from axonops_schema_registry_spark.llm.similarity import (
        _portable_buckets,
        _portable_planes,
    )

    planes = _portable_planes(corpus, 5, 2, 10)
    return _portable_buckets(corpus, "corpus_id", "corpus_vec",
                             planes)


@pytest.mark.slow
def test_store_buckets_equal_batch_any_order(spark, tmp_path):
    """Three interleaved non-id-ordered batches: the stored index
    equals the one-shot batch bucketing over the union — the
    order-insensitivity the module docstring claims, asserted."""
    corpus = _corpus(spark)
    store = AnnIndexStore(spark, str(tmp_path / "s"),
                          calibration=corpus)
    for e, m in enumerate((2, 0, 1)):       # deliberately shuffled
        store.process_batch(
            corpus.filter(F.col("corpus_id") % 3 == m), e)
    assert _rows(store.buckets()) == _rows(
        _batch_buckets(spark, corpus))


@pytest.mark.slow
def test_lookup_equals_batch_ann(spark, tmp_path):
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_ann_topk_portable,
        multiprobe_lsh_ann_topk,
    )

    corpus = _corpus(spark)
    queries = _queries(spark)
    store = AnnIndexStore(spark, str(tmp_path / "s"),
                          calibration=corpus)
    for e in range(3):
        store.process_batch(
            corpus.filter(F.col("corpus_id") % 3 == e), e)
    want = _rows(lsh_ann_topk_portable(queries, corpus, k=5))
    assert _rows(store.lookup_topk(queries, k=5)) == want
    # multiprobe lookup equals the batch multiprobe operator, and its
    # candidate superset can only raise recall (structural)
    wantm = _rows(multiprobe_lsh_ann_topk(queries, corpus, k=5))
    assert _rows(store.lookup_topk(queries, k=5,
                                   multiprobe=True)) == wantm


@pytest.mark.slow
def test_compact_preserves_lookup_and_bounds_partitions(
        spark, tmp_path):
    """Fold epochs below the watermark into a generation base: lookup
    identical before/after, folded epoch dirs swept, re-ingest below
    the watermark refused (the streaming-checkpoint guard)."""
    from axonops_schema_registry_spark.llm.similarity import (
        lsh_ann_topk_portable,
    )

    corpus = _corpus(spark)
    queries = _queries(spark)
    d = str(tmp_path / "s")
    store = AnnIndexStore(spark, d, calibration=corpus)
    for e in range(4):
        store.process_batch(
            corpus.filter(F.col("corpus_id") % 4 == e), e)
    want = _rows(lsh_ann_topk_portable(queries, corpus, k=5))
    assert _rows(store.lookup_topk(queries, k=5)) == want
    store.compact(3)
    assert _rows(store.lookup_topk(queries, k=5)) == want
    live = [x for x in os.listdir(os.path.join(d, "ann_buckets"))
            if x.startswith("epoch=")]
    assert live == ["epoch=3"], live
    assert os.path.isdir(os.path.join(d, "ann_buckets_base", "g0"))
    with pytest.raises(RuntimeError, match="watermark"):
        store.process_batch(corpus.limit(1), 1)
    # a second compact over everything folds the last live epoch too
    store.compact(4)
    assert _rows(store.lookup_topk(queries, k=5)) == want
    assert not os.path.isdir(os.path.join(d, "ann_buckets_base", "g0"))
    assert os.path.isdir(os.path.join(d, "ann_buckets_base", "g1"))


@pytest.mark.slow
def test_replay_is_idempotent_and_reopen_serves_same_planes(
        spark, tmp_path):
    corpus = _corpus(spark)
    queries = _queries(spark)
    d = str(tmp_path / "s")
    store = AnnIndexStore(spark, d, calibration=corpus)
    store.process_batch(corpus.filter(F.col("corpus_id") < 50), 0)
    store.process_batch(corpus.filter(F.col("corpus_id") >= 50), 1)
    want = _rows(store.lookup_topk(queries, k=5))
    # at-least-once replay of epoch 0 (identical content): no change
    store.process_batch(corpus.filter(F.col("corpus_id") < 50), 0)
    assert _rows(store.lookup_topk(queries, k=5)) == want
    # reopen WITHOUT calibration: planes come from disk, same answers
    re = AnnIndexStore(spark, d)
    assert _rows(re.lookup_topk(queries, k=5)) == want
    assert _rows(re.planes.select("g")) == _rows(
        store.planes.select("g"))


@pytest.mark.slow
def test_params_pin_refuses_mismatch_and_corruption(spark, tmp_path):
    corpus = _corpus(spark)
    d = str(tmp_path / "s")
    store = AnnIndexStore(spark, d, calibration=corpus)
    store.process_batch(corpus, 0)
    with pytest.raises(RuntimeError, match="different signature"):
        AnnIndexStore(spark, d, calibration=corpus, n_bits=4)
    # corrupt pin refuses rather than guessing
    with open(os.path.join(d, "ann_params.json"), "w") as f:
        f.write("{not json")
    with pytest.raises(RuntimeError, match="corrupt"):
        AnnIndexStore(spark, d, calibration=corpus)
    # restore, then simulate the pin-deleted hole: planes on disk
    # fitted under 5 bits, pin gone, reopen under 4 bits must refuse
    with open(os.path.join(d, "ann_params.json"), "w") as f:
        json.dump({"n_bits": 4, "n_tables": 2, "plane_base": 10,
                   "id_col": "corpus_id", "vec_col": "corpus_vec"}, f)
    with pytest.raises(RuntimeError, match="different parameters"):
        AnnIndexStore(spark, d, calibration=corpus, n_bits=4)


@pytest.mark.slow
def test_new_store_without_calibration_refuses(spark, tmp_path):
    with pytest.raises(RuntimeError, match="calibration"):
        AnnIndexStore(spark, str(tmp_path / "s"))


@pytest.mark.slow
def test_foreachbatch_wiring_stream_equals_batch(spark, tmp_path):
    """End-to-end: a structured-streaming file source delivers the
    corpus as three files through a real foreachBatch query targeting
    the store; lookups equal the batch ANN operator."""
    import shutil

    from axonops_schema_registry_spark.llm.similarity import (
        lsh_ann_topk_portable,
    )

    corpus = _corpus(spark)
    queries = _queries(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        sub = str(tmp_path / f"b{i}")
        corpus.filter(F.col("corpus_id") % 3 == i) \
            .coalesce(1).write.parquet(sub)
        f = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(sub, f), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = AnnIndexStore(spark, str(tmp_path / "s"),
                          calibration=corpus)
    stream = (spark.readStream
              .schema("corpus_id bigint, corpus_vec array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(store)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    want = _rows(lsh_ann_topk_portable(queries, corpus, k=5))
    assert _rows(store.lookup_topk(queries, k=5)) == want


def _batch_topk_fixed_planes(full_corpus, net_corpus, queries, k=5):
    """The deletion-equality comparator: the store's planes are FIXED
    at creation (fitted on the full calibration corpus), so the batch
    twin of a store with deletions buckets/reranks the NET corpus
    under the FULL corpus's planes — `lsh_ann_topk_portable(queries,
    net)` would refit planes from the net corpus and diverge whenever
    a deleted id sits in the plane range."""
    from axonops_schema_registry_spark.llm.similarity import (
        _exact_rerank,
        _portable_buckets,
        _portable_planes,
    )

    planes = _portable_planes(full_corpus, 5, 2, 10)
    qb = _portable_buckets(queries, "query_id", "query_vec", planes)
    cb = _portable_buckets(net_corpus, "corpus_id", "corpus_vec",
                           planes)
    cand = (qb.join(cb, ["table", "bucket"])
            .select("query_id", "corpus_id").distinct())
    return _exact_rerank(cand, queries, net_corpus, k, 4)


@pytest.mark.slow
def test_delete_resurrect_and_compact_consumes_tombstones(
        spark, tmp_path):
    """Deletion lifecycle (r18): a tombstone at epoch T kills inserts
    with epoch <= T; a later re-insert resurrects; lookups equal the
    fixed-planes batch computation over the NET corpus at every step;
    compaction applies below-watermark tombstones to the folded base
    and drops them."""
    corpus = _corpus(spark)
    queries = _queries(spark)
    d = str(tmp_path / "s")
    store = AnnIndexStore(spark, d, calibration=corpus)
    store.process_batch(corpus.filter(F.col("corpus_id") < 60), 0)
    store.process_batch(corpus.filter(F.col("corpus_id") >= 60), 1)
    # epoch 2: delete every id divisible by 7
    gone = corpus.filter(F.col("corpus_id") % 7 == 0) \
        .select("corpus_id")
    store.delete_ids(gone, 2)
    net = corpus.filter(F.col("corpus_id") % 7 != 0)
    want_net = _rows(_batch_topk_fixed_planes(corpus, net, queries))
    assert _rows(store.lookup_topk(queries, k=5)) == want_net
    assert store.buckets().filter(
        F.col("corpus_id") % 7 == 0).count() == 0
    # epoch 3: resurrect id 0 (insert AFTER its tombstone)
    store.process_batch(corpus.filter(F.col("corpus_id") == 0), 3)
    net2 = net.unionByName(corpus.filter(F.col("corpus_id") == 0))
    want2 = _rows(_batch_topk_fixed_planes(corpus, net2, queries))
    assert _rows(store.lookup_topk(queries, k=5)) == want2
    # fold everything below epoch 3: the tombstone (epoch 2) is
    # applied to the base and consumed; answers unchanged
    store.compact(3)
    assert _rows(store.lookup_topk(queries, k=5)) == want2
    tomb_dir = os.path.join(d, "ann_tombstones")
    live_tombs = [x for x in os.listdir(tomb_dir)
                  if x.startswith("epoch=")] \
        if os.path.isdir(tomb_dir) else []
    assert live_tombs == [], live_tombs
    # a live tombstone ABOVE the watermark still applies to base rows
    store.delete_ids(corpus.filter(F.col("corpus_id") == 1)
                     .select("corpus_id"), 3)
    net3 = net2.filter(F.col("corpus_id") != 1)
    want3 = _rows(_batch_topk_fixed_planes(corpus, net3, queries))
    assert _rows(store.lookup_topk(queries, k=5)) == want3
    # reopen: same state from disk
    re = AnnIndexStore(spark, d)
    assert _rows(re.lookup_topk(queries, k=5)) == want3


# Not slow-marked: the default gate's smoke test of this module.
def test_delete_watermark_guard(spark, tmp_path):
    corpus = _corpus(spark)
    store = AnnIndexStore(spark, str(tmp_path / "s"),
                          calibration=corpus)
    store.process_batch(corpus, 0)
    store.compact(1)
    with pytest.raises(RuntimeError, match="watermark"):
        store.delete_ids(corpus.select("corpus_id").limit(1), 0)


@pytest.mark.slow
def test_fuzz_random_splits_and_deletes_equal_batch(spark, tmp_path):
    """Seeded fuzz (the new-op convention): random batch assignments,
    random arrival order, and a random delete set — the store equals
    the fixed-planes batch computation over the net corpus every
    time."""
    corpus = _corpus(spark)
    queries = _queries(spark)
    for trial in range(3):
        rnd = random.Random(1000 + trial)
        n_ep = rnd.randint(2, 5)
        assign = {i: rnd.randrange(n_ep) for i in range(N)}
        order = list(range(n_ep))
        rnd.shuffle(order)
        d = str(tmp_path / f"s{trial}")
        store = AnnIndexStore(spark, d, calibration=corpus)
        for e in order:
            ids = [i for i, a in assign.items() if a == e]
            store.process_batch(
                corpus.filter(F.col("corpus_id").isin(ids)), e)
        dead = sorted(rnd.sample(range(N), rnd.randint(0, 15)))
        if dead:
            store.delete_ids(
                corpus.filter(F.col("corpus_id").isin(dead))
                .select("corpus_id"), n_ep)
        if rnd.random() < 0.5:
            store.compact(rnd.randint(1, n_ep))
        net = corpus.filter(~F.col("corpus_id").isin(dead)) \
            if dead else corpus
        want = _rows(_batch_topk_fixed_planes(corpus, net, queries))
        assert _rows(store.lookup_topk(queries, k=5)) == want, (
            f"trial {trial}: n_ep={n_ep} order={order} dead={dead}")


@pytest.mark.slow
def test_compact_crash_orphan_is_invisible_and_overwritten(
        spark, tmp_path):
    """The _EpochStore commit order under a simulated crash: a base
    generation written WITHOUT the meta swap (crash between step 1
    and 2) is invisible to readers and overwritten by the next
    compact."""
    import shutil

    corpus = _corpus(spark)
    queries = _queries(spark)
    d = str(tmp_path / "s")
    store = AnnIndexStore(spark, d, calibration=corpus)
    store.process_batch(corpus.filter(F.col("corpus_id") < 45), 0)
    store.process_batch(corpus.filter(F.col("corpus_id") >= 45), 1)
    want = _rows(store.lookup_topk(queries, k=5))
    # simulate a crash mid-compact: orphan g0 bases with WRONG content
    # (only epoch 0's rows), no meta swap
    for sub in ("ann_buckets", "ann_vectors"):
        orphan = os.path.join(d, sub + "_base", "g0")
        frame = spark.read.parquet(os.path.join(d, sub, "epoch=0"))
        frame.withColumn("epoch", F.lit(0)) \
            .write.mode("overwrite").parquet(orphan)
    # readers ignore the orphan (meta still gen=-1)
    assert _rows(store.lookup_topk(queries, k=5)) == want
    # the next compact overwrites it and commits
    store.compact(2)
    assert _rows(store.lookup_topk(queries, k=5)) == want
    re = AnnIndexStore(spark, d)
    assert _rows(re.lookup_topk(queries, k=5)) == want
    shutil.rmtree(d)


@pytest.mark.slow
def test_empty_store_reads(spark, tmp_path):
    corpus = _corpus(spark)
    store = AnnIndexStore(spark, str(tmp_path / "s"),
                          calibration=corpus)
    assert store.buckets() is None
    assert store.lookup_topk(_queries(spark)) is None

"""Production-path tests for the persistent dedup stores
(streaming/dedup_store.py): the flags-table read path (``all_flags``
with ``track_flags=False``, across a process restart), the
out-of-order ``reflag`` repair, compaction after reflag, the enforced
reflag quiescence precondition, the fail-loud partial-layout compact,
and the ``max_bucket`` hot-bucket cap.

Every equality oracle is the one-shot batch operator
(``llm.dedup.incremental_dedup_flags`` / ``embedding_dedup_flags``)
over the concatenated corpus — the store's documented contract
(dedup_store.py module docstring)."""

from __future__ import annotations

import pytest

# Multi-epoch store-lifecycle / stream-fuzz scale suite: every test but
# one smoke test is slow-marked (see pytest.ini; run with `pytest -m slow`).

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from axonops_schema_registry_spark.llm.dedup import incremental_dedup_flags
from axonops_schema_registry_spark.streaming.dedup_store import (
    BucketedDedupStore,
    EmbeddingDedupStore,
    embedding_dedup_flags,
)

_BASE = [f"tok{j}" for j in range(40)]


def _near(tag: str) -> str:
    """40-word doc differing from every other _near() doc in ONE word:
    pairwise Jaccard over 3-gram shingles = 35/41 ≈ 0.854 ≥ 0.8."""
    ws = list(_BASE)
    ws[20] = tag
    return " ".join(ws)


def _distinct(i: int) -> str:
    return " ".join(f"d{i}x{j}" for j in range(40))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _flags_dict(df) -> dict:
    return {r.doc_id: (r.is_dup, r.dup_of) for r in df.collect()}


@pytest.mark.slow
def test_bucketed_store_all_flags_across_restart(spark):
    """The DEFAULT construction (track_flags off) accumulates nothing
    on the driver; all_flags() — read by a SECOND store instance over
    the same directory, i.e. across a process restart — equals the
    one-shot batch run over the concatenated corpus."""
    b0 = _docs(spark, [(10, _near("pA")), (11, _near("pB")),
                       (12, _distinct(12)), (13, _distinct(13))])
    b1 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    full = b0.unionByName(b1)
    d = tempfile.mkdtemp(prefix="prod_store_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        assert store.flags == {}  # nothing rides the driver by default
        # "restart": a brand-new instance, state only on disk
        store2 = BucketedDedupStore(spark, d)
        store2(b1, epoch_id=1)
        assert store2.flags == {}
        want = _flags_dict(incremental_dedup_flags(full))
        got = _flags_dict(store2.all_flags())
        assert got == want
        # cross-restart dup actually happened through the store
        assert got[20] == (True, 10)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_embedding_store_all_flags_across_restart(spark):
    vecs = [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0]),
            (102, [0.0, 0.0, 1.0, 0.0])]
    b0 = spark.createDataFrame(vecs,
                               "vec_id bigint, embedding array<double>")
    b1 = spark.createDataFrame([(200, [1.0, 0.0, 0.0, 0.0]),
                                (201, [0.0, 0.0, 0.0, 1.0])],
                               "vec_id bigint, embedding array<double>")
    full = b0.unionByName(b1)
    d = tempfile.mkdtemp(prefix="prod_estore_")
    try:
        store = EmbeddingDedupStore(spark, d, dim=4)
        store(b0, epoch_id=0)
        assert store.flags == {}
        store2 = EmbeddingDedupStore(spark, d, dim=4)
        store2(b1, epoch_id=1)
        want = {r.vec_id: (r.is_dup, r.dup_of)
                for r in embedding_dedup_flags(full, dim=4).collect()}
        got = {r.vec_id: (r.is_dup, r.dup_of)
               for r in store2.all_flags().collect()}
        assert got == want
        assert got[200] == (True, 100)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_bucketed_store_reflag_repairs_out_of_order(spark):
    """A backfilled epoch carrying SMALLER ids than stored documents
    leaves stale first-wins verdicts (the store cannot flip flags it
    already emitted); reflag() converges the whole store to the batch
    answer, and the NEXT epoch inherits the repaired fps (a doc
    byte-identical to a late-arrived smaller id flags against the TRUE
    original)."""
    # epoch 0: larger ids first — 11 near-matches 10; 12..14 distinct
    b0 = _docs(spark, [(10, _near("pA")), (11, _near("pB")),
                       (12, _distinct(12)), (13, _distinct(13)),
                       (14, _distinct(14))])
    # epoch 1 (out-of-order backfill): 0 byte-identical to 10,
    # 1 near-matches both, 2 distinct
    b1 = _docs(spark, [(0, _near("pA")), (1, _near("pC")),
                       (2, _distinct(2))])
    full = b0.unionByName(b1)
    d = tempfile.mkdtemp(prefix="reflag_store_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        stale = _flags_dict(store.all_flags())
        # the staleness this repairs: 0 flagged against the LARGER
        # stored twin, 10/11 keep their pre-backfill verdicts
        assert stale[0] == (True, 10)
        assert stale[10] == (False, None)
        assert stale[1] == (False, None)

        store.reflag(below_epoch=2)
        want = _flags_dict(incremental_dedup_flags(full))
        assert _flags_dict(store.all_flags()) == want
        # spot-pin the true first-wins shape: 0 is now the original
        assert want[0] == (False, None)
        assert want[10] == (True, 0)
        assert want[11] == (True, 0)
        assert want[1] == (True, 0)

        # the store's next generation is consistent: epoch 2 arrivals
        # matching either fingerprint flag against the repaired eff
        b2 = _docs(spark, [(30, _near("pA")), (31, _near("pB")),
                           (32, _distinct(32))])
        store(b2, epoch_id=2)
        want2 = _flags_dict(
            incremental_dedup_flags(full.unionByName(b2)))
        assert _flags_dict(store.all_flags()) == want2
        assert want2[30] == (True, 0)
        assert want2[31] == (True, 0)

        # compact after reflag: epoch 2 folds into the next base
        # generation, verdicts unchanged, live epoch dirs gone
        store.compact(below_epoch=3)
        assert _flags_dict(store.all_flags()) == want2
        live = [e for e in os.listdir(store.buckets_dir)
                if e.startswith("epoch=")]
        assert live == []
        assert store._meta()["below"] == 3
        # and the store still works after the fold: a doc byte-equal
        # to 1's text flags to the EARLIEST near-match (0), matching
        # the batch operator
        b3 = _docs(spark, [(40, _near("pC"))])
        store(b3, epoch_id=3)
        want3 = _flags_dict(incremental_dedup_flags(
            full.unionByName(b2).unionByName(b3)))
        assert _flags_dict(store.all_flags())[40] == want3[40] \
            == (True, 0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_embedding_store_reflag_repairs_out_of_order(spark):
    b0 = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0]),
         (102, [0.0, 0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 1.0])],
        "vec_id bigint, embedding array<double>")
    full = b0.unionByName(b1)
    d = tempfile.mkdtemp(prefix="reflag_estore_")
    try:
        store = EmbeddingDedupStore(spark, d, dim=4)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        got = {r.vec_id: (r.is_dup, r.dup_of)
               for r in store.all_flags().collect()}
        assert got[1] == (True, 100)  # stale: flagged against larger id
        store.reflag(below_epoch=2)
        want = {r.vec_id: (r.is_dup, r.dup_of)
                for r in embedding_dedup_flags(full, dim=4).collect()}
        got = {r.vec_id: (r.is_dup, r.dup_of)
               for r in store.all_flags().collect()}
        assert got == want
        assert want[1] == (False, None)
        assert want[100] == (True, 1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_reflag_enforces_quiescence(spark):
    """reflag's docstring precondition is enforced, not advisory: a
    live epoch at-or-above below_epoch raises instead of silently
    leaving stale eff/rep values for later arrivals to inherit."""
    b0 = _docs(spark, [(10, _near("pA"))])
    b1 = _docs(spark, [(20, _near("pB"))])
    d = tempfile.mkdtemp(prefix="quiesce_store_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        with pytest.raises(RuntimeError, match="quiescent"):
            store.reflag(below_epoch=1)
        store.reflag(below_epoch=2)  # every epoch folds: fine
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_compact_raises_on_partial_layout(spark):
    """compact() must not silently no-op forever on a store whose
    layout predates the fps/flags tables (or lost a directory): data
    in some directories with none in others raises."""
    d = tempfile.mkdtemp(prefix="legacy_store_")
    try:
        store = BucketedDedupStore(spark, d)
        store(_docs(spark, [(1, _near("pA"))]), epoch_id=0)
        shutil.rmtree(store.fps_dir)  # simulated legacy/corrupt layout
        with pytest.raises(RuntimeError, match="legacy or corrupt"):
            store.compact(below_epoch=1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_max_bucket_caps_candidates_and_keeps_first_wins(spark):
    """The hot-bucket rank cap: on a near-identical (but not
    byte-identical, so the exact-collapse guard cannot help) corpus,
    ``max_bucket`` bounds the stored side of every (band, key) bucket
    — and because first-wins keeps smallest ids, which are exactly the
    ranks the cap preserves, the flags match the uncapped store."""
    # 30 near-identical docs: one changed word each → every pair ≥ 0.8
    rows = [(i, _near(f"p{i}")) for i in range(30)]
    corpus = _docs(spark, rows)
    d_cap = tempfile.mkdtemp(prefix="cap_store_")
    d_ref = tempfile.mkdtemp(prefix="ref_store_")
    try:
        capped = BucketedDedupStore(spark, d_cap, max_bucket=2)
        ref = BucketedDedupStore(spark, d_ref)
        for s in (capped, ref):
            s(corpus, epoch_id=0)
        assert (_flags_dict(capped.all_flags())
                == _flags_dict(ref.all_flags()))
        # everything dups to doc 0 (all pairwise ≥ threshold)
        assert all(v == (True, 0) for k, v in
                   _flags_dict(capped.all_flags()).items() if k != 0)
        # the cap itself: no (band, key) bucket survives _capped with
        # more than max_bucket members, vs 30 uncapped
        buckets = spark.read.parquet(
            os.path.join(d_cap, "buckets"))
        raw_max = (buckets.groupBy("band", "key").count()
                   .agg(F.max("count")).first()[0])
        assert raw_max >= 20  # the hot bucket is real
        capped_max = (capped._capped(buckets)
                      .groupBy("band", "key").count()
                      .agg(F.max("count")).first()[0])
        assert capped_max <= 2
    finally:
        for p in (d_cap, d_ref):
            shutil.rmtree(p, ignore_errors=True)


@pytest.mark.slow
def test_incremental_sink_flags_dir_disk_path(spark):
    """IncrementalDedupSink with flags_dir (and NO driver dict): the
    per-epoch verdict parquet equals the batch operator, replay of an
    epoch is idempotent, and constructing with neither output raises."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        IncrementalDedupSink,
    )

    with pytest.raises(ValueError, match="flags_dir"):
        IncrementalDedupSink()
    d = tempfile.mkdtemp(prefix="sink_flags_")
    try:
        sink = IncrementalDedupSink(flags_dir=d)
        b0 = _docs(spark, [(1, _near("pA")), (2, _near("pB")),
                           (3, _distinct(3))])
        b1 = _docs(spark, [(4, _near("pA")), (5, _distinct(5))])
        sink(b0, epoch_id=0)
        sink(b1, epoch_id=1)
        assert sink.flags == {}
        got = sink.all_flags(spark)
        assert got.count() == 5  # one verdict row per doc, on disk
        want = _flags_dict(incremental_dedup_flags(b0.unionByName(b1)))
        assert _flags_dict(got) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_curation_sink_results_dir_disk_path(spark):
    """CurationSink with results_dir and a store_dir — the all-disk
    production shape: nothing accumulates on the driver, all_results()
    equals the in-memory twin across a restart."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        CurationSink,
    )

    with pytest.raises(ValueError, match="results_dir"):
        CurationSink(_docs(spark, [(100, _distinct(100))]))
    eval_set = _docs(spark, [(100, _distinct(100))])
    # doc 2 quotes six consecutive eval words (= two shared 5-grams)
    # inside otherwise-unique text; doc 3 is byte-identical to doc 1
    quoting = ("own words here then " +
               " ".join(f"d100x{j}" for j in range(6)) +
               " and trailing filler tokens q r s t u v w x y z")
    b0 = _docs(spark, [(1, _near("pA")), (2, quoting)])
    b1 = _docs(spark, [(3, _near("pA")), (4, _distinct(4))])
    store_d = tempfile.mkdtemp(prefix="cur_store_")
    res_d = tempfile.mkdtemp(prefix="cur_res_")
    try:
        sink_a = CurationSink(eval_set, store_dir=store_d,
                              results_dir=res_d)
        sink_a(b0, epoch_id=0)
        # restart: fresh object, same directories
        sink_b = CurationSink(eval_set, store_dir=store_d,
                              results_dir=res_d)
        sink_b(b1, epoch_id=1)
        assert sink_a.results == {} and sink_b.results == {}
        got = {r.doc_id: (r.is_dup, r.dup_of, r.n_eval_spans)
               for r in sink_b.all_results(spark).collect()}
        assert got[3] == (True, 1, 0)   # cross-restart dup via store
        assert got[2][2] > 0            # contamination flagged
        assert got[1] == (False, None, 0)
        assert len(got) == 4
    finally:
        for p in (store_d, res_d):
            shutil.rmtree(p, ignore_errors=True)


@pytest.mark.slow
def test_embedding_store_max_bucket_cap(spark):
    """The embedding twin's hot-bucket cap: near-identical-but-
    byte-distinct vectors (the case the fingerprint collapse cannot
    touch) all collide in every hyperplane bucket; max_bucket bounds
    the stored side while first-wins flags stay identical to the
    uncapped store (the cap keeps the smallest ids — exactly the ones
    first-wins needs)."""
    rows = [(i, [1.0, i * 1e-3, 0.0, 0.0]) for i in range(20)]
    vecs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    d_cap = tempfile.mkdtemp(prefix="ecap_store_")
    d_ref = tempfile.mkdtemp(prefix="eref_store_")
    try:
        capped = EmbeddingDedupStore(spark, d_cap, dim=4, max_bucket=2)
        ref = EmbeddingDedupStore(spark, d_ref, dim=4)
        for s in (capped, ref):
            s(vecs, epoch_id=0)
        got = {r.vec_id: (r.is_dup, r.dup_of)
               for r in capped.all_flags().collect()}
        want = {r.vec_id: (r.is_dup, r.dup_of)
                for r in ref.all_flags().collect()}
        assert got == want
        assert all(v == (True, 0) for k, v in got.items() if k != 0)
        # the hot bucket is real: uncapped stored buckets hold all 20
        buckets = spark.read.parquet(os.path.join(d_ref, "ebuckets"))
        raw_max = (buckets.groupBy("table", "bucket").count()
                   .agg(F.max("count")).first()[0])
        assert raw_max == 20
    finally:
        for p in (d_cap, d_ref):
            shutil.rmtree(p, ignore_errors=True)


@pytest.mark.slow
def test_store_params_pinned_across_restart(spark):
    """The signature parameters are written on first ingest and a
    reopen with DIFFERENT values fails loudly — silently mismatched
    bucketing (every lookup missing, dedup quietly off) is the worst
    failure mode a dedup filter has.  Matching reopens keep working."""
    b0 = _docs(spark, [(1, _distinct(1))])
    d = tempfile.mkdtemp(prefix="prod_params_")
    try:
        BucketedDedupStore(spark, d, bands=16)(b0, epoch_id=0)
        # same params: fine
        BucketedDedupStore(spark, d, bands=16)(
            _docs(spark, [(2, _distinct(2))]), epoch_id=1)
        # different bucketing: refuse before touching the store
        with pytest.raises(RuntimeError, match="bands.*(16|8)"):
            BucketedDedupStore(spark, d, bands=8)(
                _docs(spark, [(3, _distinct(3))]), epoch_id=2)
        # threshold is part of the signature too (verdicts depend on it)
        with pytest.raises(RuntimeError, match="threshold"):
            BucketedDedupStore(spark, d, threshold=0.5)(
                _docs(spark, [(3, _distinct(3))]), epoch_id=2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_embedding_store_params_pinned(spark):
    """The embedding twin pins (threshold, dim, n_bits, n_tables,
    seed0) — a reopen with different planes would bucket new vectors
    incompatibly with the stored bucket table."""
    b0 = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                               "vec_id bigint, embedding array<double>")
    d = tempfile.mkdtemp(prefix="prod_eparams_")
    try:
        EmbeddingDedupStore(spark, d, dim=4, n_bits=6)(b0, epoch_id=0)
        EmbeddingDedupStore(spark, d, dim=4, n_bits=6)(
            spark.createDataFrame([(2, [0.0, 1.0, 0.0, 0.0])],
                                  "vec_id bigint, "
                                  "embedding array<double>"),
            epoch_id=1)
        with pytest.raises(RuntimeError, match="n_bits"):
            EmbeddingDedupStore(spark, d, dim=4, n_bits=8)(b0,
                                                           epoch_id=2)
        with pytest.raises(RuntimeError, match="seed0"):
            EmbeddingDedupStore(spark, d, dim=4, n_bits=6, seed0=7)(
                b0, epoch_id=2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Not slow-marked: the default gate's smoke test of this module.
def test_store_params_corrupt_file_fails_loudly(spark):
    """A present-but-unreadable params.json is store corruption, not
    'no params yet' — the same discipline as the corrupt-meta guard."""
    d = tempfile.mkdtemp(prefix="prod_cparams_")
    try:
        store = BucketedDedupStore(spark, d)
        store(_docs(spark, [(1, _distinct(1))]), epoch_id=0)
        with open(store.params_path, "w") as f:
            f.write("{not json")
        with pytest.raises(RuntimeError, match="corrupt"):
            BucketedDedupStore(spark, d)(
                _docs(spark, [(2, _distinct(2))]), epoch_id=1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_legacy_store_without_params_refuses_auto_pin(spark):
    """A store that holds data but no params.json (created before
    parameter pinning existed) must NOT silently adopt the current
    session's parameters — the current session may differ from the
    unknown creation-time values, which is exactly the silent
    bucketing mismatch the pin prevents (ADVICE r10).  An explicit
    migration (writing the original parameters) unblocks it."""
    import json

    b0 = _docs(spark, [(1, _distinct(1))])
    d = tempfile.mkdtemp(prefix="prod_legacy_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        os.remove(store.params_path)  # simulate a pre-pinning store
        with pytest.raises(RuntimeError, match="legacy|auto-pin"):
            BucketedDedupStore(spark, d)(
                _docs(spark, [(2, _distinct(2))]), epoch_id=1)
        # the guard must not have pinned anything
        assert not os.path.exists(store.params_path)
        # explicit migration: write the creation-time values by hand
        with open(store.params_path, "w") as f:
            json.dump(store._signature_params(), f)
        BucketedDedupStore(spark, d)(
            _docs(spark, [(2, _distinct(2))]), epoch_id=1)
        assert _flags_dict(BucketedDedupStore(spark, d).all_flags()) \
            == _flags_dict(incremental_dedup_flags(
                b0.unionByName(_docs(spark, [(2, _distinct(2))]))))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_empty_dir_still_auto_pins(spark):
    """The legacy guard keys on DATA, not on the directory existing:
    a pre-created empty store_dir (mkdtemp, a mounted volume) is a
    brand-new store and pins normally on first ingest."""
    d = tempfile.mkdtemp(prefix="prod_freshdir_")  # exists, empty
    try:
        store = BucketedDedupStore(spark, d)
        store(_docs(spark, [(1, _distinct(1))]), epoch_id=0)
        assert os.path.exists(store.params_path)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_embedding_store_expected_corpus_sizes_bits(spark):
    """VERDICT r10 ask #5: since params.json pins n_bits forever at
    first ingest, the constructor must offer the occupancy-targeted
    sizing path — an ``expected_corpus`` hint resolved through
    ``recommended_lsh_bits`` — and the pinned value must be the
    resolved one.  A literal together with the hint is ambiguous and
    refused."""
    import json

    from axonops_schema_registry_spark.llm.similarity import (
        recommended_lsh_bits,
    )

    b0 = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                               "vec_id bigint, embedding array<double>")
    d = tempfile.mkdtemp(prefix="prod_hint_")
    try:
        store = EmbeddingDedupStore(spark, d, dim=4,
                                    expected_corpus=1_000_000)
        want_bits = recommended_lsh_bits(1_000_000)
        assert store.n_bits == want_bits > 8
        store(b0, epoch_id=0)
        with open(store.params_path) as f:
            assert json.load(f)["n_bits"] == want_bits
        # reopening with the same hint resolves to the same pin
        EmbeddingDedupStore(spark, d, dim=4, expected_corpus=1_000_000)(
            spark.createDataFrame(
                [(2, [0.0, 1.0, 0.0, 0.0])],
                "vec_id bigint, embedding array<double>"),
            epoch_id=1)
        # a mismatched hint is caught by the existing params pin
        with pytest.raises(RuntimeError, match="n_bits"):
            EmbeddingDedupStore(spark, d, dim=4, expected_corpus=100)(
                b0, epoch_id=2)
        with pytest.raises(ValueError, match="not both"):
            EmbeddingDedupStore(spark, d, dim=4, n_bits=6,
                                expected_corpus=1_000_000)
    finally:
        shutil.rmtree(d, ignore_errors=True)

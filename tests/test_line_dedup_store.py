"""`LineDedupStore` — ln1's persistent out-of-order repair domain
(VERDICT r14 ask #5).

Equality contract: under ordered id arrival the store's per-epoch
outputs equal one batch :func:`line_dedup` over the union (the
LineDedupSink pin, now for the store); under OUT-OF-ORDER arrival —
the case the sink explicitly scopes out to "the persistent store's
repair domain" — :meth:`repair` converges `all_results()` to the exact
batch answer, moving each keep from its arrival-first keeper to the
batch-global (id, block_idx) winner.  Repair is idempotent and its
victim set is bounded by the late batch's key set (asserted via the
returned repaired-doc count).
"""

from __future__ import annotations

import pytest

# Multi-epoch store-lifecycle / stream-fuzz scale suite: every test but
# one smoke test is slow-marked (see pytest.ini; run with `pytest -m slow`).

import random
import shutil
import tempfile


from axonops_schema_registry_spark.llm.dedup import line_dedup
from axonops_schema_registry_spark.streaming.dedup_store import (
    LineDedupStore,
)

BLK_A = "a1 a2 a3 a4 a5"
BLK_B = "b1 b2 b3 b4 b5"
BLK_C = "c1 c2 c3 c4 c5"


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _batch_want(spark, rows):
    return {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
            for r in line_dedup(_mkdocs(spark, rows), "doc_id", "text",
                                block_words=5,
                                min_block_words=3).collect()}


def _store(spark, d):
    return LineDedupStore(spark, d, block_words=5, min_block_words=3)


def _got(store):
    return {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
            for r in store.all_results().collect()}


@pytest.mark.slow
def test_line_store_ordered_arrival_equals_batch(spark):
    """In-id-order epochs: the store's union of outputs IS the batch
    answer with no repair at all, and re-delivering an epoch against
    post-stream state rewrites a value-identical partition."""
    e0 = [(1, f"{BLK_A} {BLK_B}"), (2, BLK_A)]
    e1 = [(3, f"{BLK_B} {BLK_C}"), (4, BLK_C)]
    d = tempfile.mkdtemp(prefix="ln_store_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, e1), 1)
        want = _batch_want(spark, e0 + e1)
        assert _got(store) == want
        assert store.repair() == 0          # nothing out of order
        # at-least-once replay: epoch 0 re-delivered, value-identical
        store.process_batch(_mkdocs(spark, e0), 0)
        assert _got(store) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_out_of_order_repair_equals_batch(spark):
    """A late epoch carrying SMALLER doc ids: before repair the
    arrival-first keepers hold the duplicated blocks (sink semantics);
    after repair the batch-global winners do — all_results equals one
    batch line_dedup over the concatenated corpus, exactly."""
    e0 = [(10, f"{BLK_A} {BLK_B}"), (11, BLK_B)]
    late = [(1, BLK_A), (2, f"{BLK_B} {BLK_C}")]   # ids sort FIRST
    d = tempfile.mkdtemp(prefix="ln_store_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, late), 1)
        want = _batch_want(spark, e0 + late)
        before = _got(store)
        assert before != want               # the divergence is real:
        # doc 10 kept A+B on arrival; batch wants doc 1 to keep A and
        # doc 2 to keep B+C
        n = store.repair()
        assert n > 0
        assert _got(store) == want
        # idempotent: a second repair finds the same winners
        assert store.repair() == n
        assert _got(store) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_foreachbatch_out_of_order_stream(spark, tmp_path):
    """End-to-end wiring: a structured-streaming file source delivers
    the HIGH-id file first and the low-id file second (out-of-order
    arrival through a real foreachBatch query), then one repair()
    converges the persisted results to the batch answer."""
    import os

    e0 = [(10, f"{BLK_A} {BLK_B}"), (11, BLK_B)]
    late = [(1, BLK_A), (2, f"{BLK_B} {BLK_C}")]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate((e0, late)):
        part_dir = str(tmp_path / f"b{i}")
        _mkdocs(spark, rows).coalesce(1).write.parquet(part_dir)
        part = next(p for p in os.listdir(part_dir)
                    if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        import shutil as sh
        sh.copy(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    store = _store(spark, str(tmp_path / "store"))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(store)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    want = _batch_want(spark, e0 + late)
    assert _got(store) != want          # arrival-first until repaired
    assert store.repair() > 0
    assert _got(store) == want


@pytest.mark.slow
def test_line_store_repair_seeded_fuzz(spark):
    """Seeded random corpora split into shuffled-id epochs: repair
    always converges the store to the batch answer (the
    test_dedup_store_incremental convention for the line family)."""
    rng = random.Random(1507)
    vocab = [f"w{j}" for j in range(12)]
    for trial in range(4):
        rows = []
        for i in range(24):
            nblk = rng.randint(1, 4)
            blocks = [" ".join(rng.choice(vocab) for _ in range(5))
                      for _ in range(nblk)]
            rows.append((i, " ".join(blocks)))
        rng.shuffle(rows)
        cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
        epochs = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
        d = tempfile.mkdtemp(prefix="ln_fuzz_")
        try:
            store = _store(spark, d)
            for e, batch in enumerate(epochs):
                store.process_batch(_mkdocs(spark, batch), e)
            store.repair()
            assert _got(store) == _batch_want(spark, rows), \
                f"trial {trial} diverged after repair"
        finally:
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_repair_large_ids_integer_unpack(spark):
    """Doc ids >= 2^33 round-trip the packed election key exactly
    (ADVICE r15: a float divide would make the double quotient inexact
    above 2^53 packed and repair could rewrite the WRONG document);
    ids near the documented 2^43 bound repair to the batch answer."""
    hi = (1 << 42) + 7777
    lo = (1 << 41) + 3
    e0 = [(hi, f"{BLK_A} {BLK_B}")]
    late = [(lo, BLK_A)]                       # smaller id arrives late
    import tempfile as tf
    d = tf.mkdtemp(prefix="ln_store_bigid_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, late), 1)
        assert store.repair() > 0
        assert _got(store) == _batch_want(spark, e0 + late)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_repair_does_not_accrete_overlays(spark):
    """A second repair that recomputes an identical delta SKIPS the
    overlay write (ADVICE r15 #3): the overlay-dir count — and with it
    the all_results join chain — stays flat across repeated repairs."""
    import os

    e0 = [(10, f"{BLK_A} {BLK_B}"), (11, BLK_B)]
    late = [(1, BLK_A), (2, f"{BLK_B} {BLK_C}")]
    d = tempfile.mkdtemp(prefix="ln_store_acc_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, late), 1)
        n = store.repair()
        assert n > 0
        n_dirs = len(store._repair_dirs())
        assert n_dirs == 1
        assert store.repair() == n          # same verdicts...
        assert len(store._repair_dirs()) == n_dirs  # ...no new overlay
        assert _got(store) == _batch_want(spark, e0 + late)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_compact_preserves_results_and_repairability(spark):
    """compact() folds epochs + repair overlays into a generation base:
    all_results is value-identical before/after, the repair-overlay
    count drops to zero, and the store keeps working — post-compaction
    ingest plus repair still converges to the batch answer (VERDICT
    r15 ask #5's done-clause, all three legs)."""
    import os

    e0 = [(10, f"{BLK_A} {BLK_B}"), (11, BLK_B)]
    late = [(1, BLK_A), (2, f"{BLK_B} {BLK_C}")]
    e2 = [(20, f"{BLK_C} d1 d2 d3 d4 d5"), (21, BLK_A)]
    d = tempfile.mkdtemp(prefix="ln_store_cmp_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, late), 1)
        assert store.repair() > 0
        before = _got(store)
        store.compact(below_epoch=2)        # quiescent: folds overlays
        assert len(store._repair_dirs()) == 0
        assert not os.path.isdir(store.repairs_dir)
        assert store._meta() == {"gen": 0, "below": 2}
        # folded epoch partitions are swept; the base carries them now
        for p in (store.blocks_dir, store.elections_dir,
                  store.results_dir):
            assert not any(x.startswith("epoch=") for x in
                           (os.listdir(p) if os.path.isdir(p) else []))
        assert _got(store) == before        # value-identical reads
        # idempotent / no-op re-compact
        store.compact(below_epoch=2)
        assert _got(store) == before
        # post-compaction ingest still dedups against the folded base,
        # and repair still converges to the batch answer (e2's doc 21
        # re-carries BLK_A which the base already elected)
        store.process_batch(_mkdocs(spark, e2), 2)
        assert _got(store) == _batch_want(spark, e0 + late + e2)
        # the historical victims are still counted (repair's contract:
        # n = candidate keeper docs of keys whose keep sits away from
        # arrival order — here docs 1/2/10 plus 21, epoch 2's first
        # for BLK_A) but the folded base already holds the
        # corrections, so no overlay reappears
        assert store.repair() == 4
        assert len(store._repair_dirs()) == 0
        # partial compact with a LIVE epoch above keeps overlay machinery
        late2 = [(5, BLK_C)]                # smaller than doc 2's win? no:
        # doc 2 owns BLK_C (id 2 < 5) — but doc 5 also carries it, so the
        # new epoch is cut against stored state; then a genuinely late
        # smaller id (0) forces a post-compaction repair
        store.process_batch(_mkdocs(spark, late2), 3)
        late3 = [(0, BLK_B)]
        store.process_batch(_mkdocs(spark, late3), 4)
        assert store.repair() > 0
        want = _batch_want(spark, e0 + late + e2 + late2 + late3)
        assert _got(store) == want
        store.compact(below_epoch=5)
        assert _got(store) == want
        assert len(store._repair_dirs()) == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Not slow-marked: the default gate's smoke test of this module.
def test_line_store_ingest_below_watermark_refused(spark):
    """Replaying an epoch the compaction already folded must fail
    loudly — the fold deleted its partitions, so a silent rewrite
    would double its rows via the base."""
    e0 = [(1, BLK_A)]
    d = tempfile.mkdtemp(prefix="ln_store_wm_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.compact(below_epoch=1)
        with pytest.raises(RuntimeError, match="watermark"):
            store.process_batch(_mkdocs(spark, e0), 0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_repair_composes_across_late_arrivals(spark):
    """Repair after repair: a SECOND late batch arriving after an
    earlier repair moved the keep to an intermediate winner must
    re-clean that intermediate keeper too (r16 regression: the old
    {arrival owner, global winner} candidate set missed it and the
    intermediate doc silently kept its stale copy)."""
    e0 = [(10, f"{BLK_A} {BLK_B}"), (11, BLK_B)]
    late1 = [(2, f"{BLK_B} {BLK_C}")]   # repair moves BLK_B keep 10 -> 2
    late2 = [(0, BLK_B)]                # batch winner is doc 0; doc 2
    #                                     (the intermediate winner) must
    #                                     now LOSE the block
    d = tempfile.mkdtemp(prefix="ln_store_chain_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, e0), 0)
        store.process_batch(_mkdocs(spark, late1), 1)
        assert store.repair() > 0
        assert _got(store) == _batch_want(spark, e0 + late1)
        store.process_batch(_mkdocs(spark, late2), 2)
        assert store.repair() > 0
        assert _got(store) == _batch_want(spark, e0 + late1 + late2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_line_store_signature_params_pinned(spark):
    """Reopening a LineDedupStore with a DIFFERENT segmentation must
    fail loudly (the _EpochStore params-pin discipline, extended to
    the line store in r16): mismatched block_words would segment new
    batches incompatibly with the stored elections and the store
    would silently stop deduplicating against the prior corpus."""
    import json
    import os

    d = tempfile.mkdtemp(prefix="ln_store_params_")
    try:
        store = _store(spark, d)
        store.process_batch(_mkdocs(spark, [(1, BLK_A)]), 0)
        # same params reopen: fine, continues
        again = _store(spark, d)
        again.process_batch(_mkdocs(spark, [(2, BLK_B)]), 1)
        # different segmentation: refused
        bad = LineDedupStore(spark, d, block_words=7, min_block_words=3)
        with pytest.raises(RuntimeError, match="signature parameters"):
            bad.process_batch(_mkdocs(spark, [(3, BLK_C)]), 2)
        # corrupt pin: refused
        with open(os.path.join(d, "line_params.json"), "w") as f:
            f.write("{not json")
        with pytest.raises(RuntimeError, match="corrupt"):
            again.process_batch(_mkdocs(spark, [(3, BLK_C)]), 2)
        # legacy store (data, no pin): refused with migration pointer
        os.remove(os.path.join(d, "line_params.json"))
        with pytest.raises(RuntimeError, match="legacy"):
            again.process_batch(_mkdocs(spark, [(3, BLK_C)]), 2)
        # migration: write the original params back, ingest resumes
        with open(os.path.join(d, "line_params.json"), "w") as f:
            json.dump(again._signature_params(), f)
        again.process_batch(_mkdocs(spark, [(3, BLK_C)]), 2)
        assert _got(again) == _batch_want(
            spark, [(1, BLK_A), (2, BLK_B), (3, BLK_C)])
    finally:
        shutil.rmtree(d, ignore_errors=True)

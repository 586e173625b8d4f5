"""r18: ADVICE r17 regression pins + the CCNetStreamSink fail-fast
(strict) mode (VERDICT r17 ask #6).

- final_receipt must roll up sources streamed but ABSENT from the
  calibration budgets (production calibrate-on-sample) instead of
  silently dropping them;
- order_report must emit a row for an epoch whose quality-kept set was
  empty (0-row order_state partition), marked vacuously OK;
- manifest_order_audit must not double-count late-winner keys when a
  manifest delivers the same doc in two epochs;
- LineDedupStore.process_batch must invalidate the repaired-through
  record when it REWRITES an existing epoch partition (the signature
  captures names, not content);
- strict=True refuses a planted out-of-order batch BEFORE mutating
  state, naming the violated sources/keys; ordered feeds and identical
  replays pass, and non-strict behavior is unchanged.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_ccnet_stream import (
    BUDGET,
    N_QUALITY,
    _build_corpus,
    _epochs,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, text string") \
        .localCheckpoint(eager=True)


def test_final_receipt_includes_uncalibrated_sources(spark, tmp_path):
    """A streamed source absent from the calibration corpus must
    appear in the aggregated receipt (observed, zero selected — no
    budget row means the admission leg never admits it), not vanish
    (ADVICE r17 #1)."""
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    calib = _docs(spark, rows)
    sink = CCNetStreamSink(calib, str(tmp_path / "s"),
                           budget_tokens=BUDGET, n_quality=N_QUALITY)
    novel = spark.createDataFrame(
        [(10_000, "novel_src",
          "the n1 of n2 and n3 to n4 the n5 is n6 a n7 was n8")],
        "doc_id bigint, source string, text string")
    sink(calib.unionByName(novel), 0)
    rec = {r.source: r for r in sink.final_receipt(spark).collect()}
    assert "novel_src" in rec, "uncalibrated source dropped from rollup"
    assert rec["novel_src"].n_docs == 1
    assert rec["novel_src"].n_selected == 0  # no budget -> not admitted


def test_order_report_covers_empty_epoch(spark, tmp_path):
    """An epoch whose quality-kept set is empty writes a 0-row
    order_state partition; the report must still carry its row,
    vacuously OK (ADVICE r17 #4)."""
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = _docs(spark, rows)
    sink = CCNetStreamSink(docs, str(tmp_path / "s"),
                           budget_tokens=BUDGET, n_quality=N_QUALITY)
    epochs = _epochs(rows, n=2)
    sink(docs.filter(F.col("doc_id").isin(epochs[0])), 0)
    # epoch 1: German-only docs — fully lang-gated, nothing kept
    de = spark.createDataFrame(
        [(9_000 + k, f"src{k}",
          f"der g{k}a die g{k}b das g{k}c und g{k}d ist g{k}e")
         for k in range(3)],
        "doc_id bigint, source string, text string")
    sink(de, 1)
    rep = {r.epoch: (r.admission_order_ok, r.line_order_ok)
           for r in sink.order_report(spark).collect()}
    assert 1 in rep, "fully-gated epoch absent from order_report"
    assert rep == {0: (True, True), 1: (True, True)}


def test_manifest_audit_duplicate_doc_across_epochs(spark):
    """A manifest delivering the SAME doc in two epochs must not fan
    out the winner join: each late-winner key counts once and the
    winning epoch is the earliest carrier (ADVICE r17 #3)."""
    from axonops_schema_registry_spark.llm.ccnet import (
        manifest_order_audit,
    )

    blk = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            # key's first occurrence: epoch 0 via doc 5 (a duplicate)
            (5, "src0", blk, 0),
            # the batch-global winner (doc 1) arrives in epoch 1 AND
            # is replayed identically in epoch 2
            (1, "src0", blk, 1),
            (1, "src0", blk, 2),
        ],
        "doc_id bigint, source string, text string, epoch bigint")
    rep = {r.epoch: r for r in manifest_order_audit(docs).collect()}
    assert rep[1].n_late_winner_keys == 1, (
        "duplicate delivery double-counted the late-winner key or "
        "attributed it nondeterministically")
    assert rep[2].n_late_winner_keys == 0
    assert not rep[1].line_order_ok and rep[2].line_order_ok


def test_repair_record_invalidated_on_epoch_rewrite(spark, tmp_path):
    """Re-ingesting an EXISTING epoch with different data must not let
    repair() serve the stale repaired-through record (ADVICE r17 #2:
    the signature captures epoch names, not content)."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        LineDedupStore,
    )

    d = str(tmp_path / "store")
    store = LineDedupStore(spark, d, block_words=5, min_block_words=3)
    blk = "a1 a2 a3 a4 a5"
    store.process_batch(spark.createDataFrame(
        [(10, blk)], "doc_id bigint, text string"), 0)
    store.process_batch(spark.createDataFrame(
        [(20, blk)], "doc_id bigint, text string"), 1)
    assert store.repair() == 0          # ordered arrival: no victims
    sig = os.path.join(d, "line_repair.json")
    assert os.path.exists(sig)
    # REWRITE epoch 1 with different data: doc 5 now holds the block,
    # making it the batch-global winner ahead of epoch 0's doc 10
    store.process_batch(spark.createDataFrame(
        [(5, blk)], "doc_id bigint, text string"), 1)
    assert not os.path.exists(sig), (
        "epoch rewrite left the repaired-through record in place")
    assert store.repair() == 2          # both holders move
    res = {r.id: r.cleaned_text for r in store.all_results().collect()}
    assert res[5] == blk and res[10] == ""


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_strict_mode_refuses_out_of_order_batch(spark, tmp_path):
    """strict=True: a batch violating either precondition is refused
    BEFORE any state mutates — stores, receipts and order_state are
    exactly as before the call — and the violated sources/keys are
    named; the ordered prefix continues to stream after the refusal."""
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = _docs(spark, rows)
    epochs = _epochs(rows, n=3)
    bcol = F.col("doc_id")
    d = str(tmp_path / "s")
    sink = CCNetStreamSink(docs, d, budget_tokens=BUDGET,
                           n_quality=N_QUALITY, strict=True)
    sink(docs.filter(bcol.isin(epochs[0])), 0)
    before = sorted(tuple(r)
                    for r in sink.final_receipt(spark).collect())

    def _snapshot():
        out = {}
        for sub in ("receipts", "order_state", "line_dedup",
                    "admission"):
            p = os.path.join(d, sub)
            out[sub] = sorted(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(p) for f in fs) \
                if os.path.isdir(p) else None
        return out

    files_before = _snapshot()
    # epoch 2's docs delivered as epoch 1 skips epoch 1's hash range:
    # fine (gaps are allowed) — the violation is delivering epoch 1's
    # docs AFTERWARD.  Feed epoch 2 first, then epoch 1's batch.
    sink(docs.filter(bcol.isin(epochs[2])), 1)
    with pytest.raises(RuntimeError) as exc:
        sink(docs.filter(bcol.isin(epochs[1])), 2)
    msg = str(exc.value)
    assert "strict mode" in msg and "epoch 2" in msg
    assert "src" in msg  # violated sources are named
    # state untouched by the refused call: the accepted epochs remain
    rep = {r.epoch: (r.admission_order_ok, r.line_order_ok)
           for r in sink.order_report(spark).collect()}
    assert rep == {0: (True, True), 1: (True, True)}
    after = sorted(tuple(r)
                   for r in sink.final_receipt(spark).collect())
    assert after != before or len(epochs[2]) == 0  # epoch 1 landed
    # an identical at-least-once replay of an ACCEPTED epoch passes
    files_mid = _snapshot()
    sink(docs.filter(bcol.isin(epochs[2])), 1)
    assert _snapshot().keys() == files_mid.keys()


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_real_fixture_streams_batch_equal_via_man1(spark, tmp_path):
    """VERDICT r17 ask #5, the composed demonstration: ord1 proved the
    REAL fixture is not hash-order streamable (late-winner keys);
    man1 constructs the order-safe manifest; streaming man1's epochs
    through CCNetStreamSink — in STRICT mode, so acceptance of every
    batch is itself the precondition witness — yields receipts equal
    to the batch ccnet_receipt over the same corpus, with
    order_report all-True.  Run at the conftest SF here; the sf0.1
    replay script is at commit d15378d (SCALING.md r18)."""
    from axonops_schema_registry_spark.llm.ccnet import (
        ccnet_receipt,
        order_safe_manifest,
    )
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    docs = (spark.read.parquet(
                "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "source", "text"))
    man = (order_safe_manifest(docs, n_epochs=3)
           .select("doc_id", "source", "text", "epoch")
           .localCheckpoint(eager=True))
    corpus = man.select("doc_id", "source", "text")
    pos = sorted(r[0] for r in
                 docs.select("source").distinct().collect())[0]
    want = sorted(tuple(r) for r in ccnet_receipt(
        corpus, budget_tokens=2000, n_quality=50,
        pos_source=pos).collect())
    sink = CCNetStreamSink(corpus, str(tmp_path / "s"),
                           budget_tokens=2000, n_quality=50,
                           pos_source=pos, strict=True)
    for e in range(3):
        sink(man.filter(F.col("epoch") == e)
             .select("doc_id", "source", "text"), e)
    got = sorted(tuple(r)
                 for r in sink.final_receipt(spark).collect())
    assert got == want
    rep = sink.order_report(spark).collect()
    assert rep and all(r.admission_order_ok and r.line_order_ok
                       for r in rep)


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_receipt_compaction_lifecycle(spark, tmp_path):
    """VERDICT r17 stretch #8: receipts/epoch=N accreted one tiny
    parquet directory per epoch forever.  compact_receipts folds
    epochs below the checkpoint watermark into a generation base
    (additive-by-source groupBy): final_receipt is value-identical
    before/after, folded dirs are swept, continued ingest composes
    with the base, re-compaction extends the fold, and replaying a
    folded epoch is refused (the watermark guard)."""
    import os

    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = _docs(spark, rows)
    epochs = _epochs(rows, n=4)
    d = str(tmp_path / "s")
    sink = CCNetStreamSink(docs, d, budget_tokens=BUDGET,
                           n_quality=N_QUALITY)
    bcol = F.col("doc_id")
    for e in range(3):
        sink(docs.filter(bcol.isin(epochs[e])), e)
    mid = sorted(tuple(r) for r in sink.final_receipt(spark).collect())
    sink.compact_receipts(spark, 2)
    assert sorted(tuple(r) for r in
                  sink.final_receipt(spark).collect()) == mid
    live = [x for x in os.listdir(os.path.join(d, "receipts"))
            if x.startswith("epoch=")]
    assert sorted(live) == ["epoch=2"], live
    assert os.path.isdir(os.path.join(d, "receipts_base", "g0"))
    with pytest.raises(RuntimeError, match="watermark"):
        sink(docs.filter(bcol.isin(epochs[0])), 0)
    # continued ingest over the base: equals the full batch answer
    sink(docs.filter(bcol.isin(epochs[3])), 3)
    want = sorted(tuple(r) for r in ccnet_receipt(
        docs, budget_tokens=BUDGET, n_quality=N_QUALITY).collect())
    assert sorted(tuple(r) for r in
                  sink.final_receipt(spark).collect()) == want
    # a second fold over everything: still batch-equal, old gen swept
    sink.compact_receipts(spark, 4)
    assert sorted(tuple(r) for r in
                  sink.final_receipt(spark).collect()) == want
    assert not os.path.isdir(os.path.join(d, "receipts_base", "g0"))
    assert os.path.isdir(os.path.join(d, "receipts_base", "g1"))
    # a restarted sink over the same directories reads the same view
    re = CCNetStreamSink(docs, d, budget_tokens=BUDGET,
                         n_quality=N_QUALITY)
    assert sorted(tuple(r) for r in
                  re.final_receipt(spark).collect()) == want


# Not slow-marked: the default gate keeps this stream ≡ batch check.
def test_strict_mode_ordered_feed_matches_batch(spark, tmp_path):
    """strict=True on an ordered feed is behavior-identical to the
    default: all epochs accepted, receipts batch-equal."""
    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = _docs(spark, rows)
    want = sorted(tuple(r) for r in ccnet_receipt(
        docs, budget_tokens=BUDGET, n_quality=N_QUALITY).collect())
    epochs = _epochs(rows, n=2)
    sink = CCNetStreamSink(docs, str(tmp_path / "s"),
                           budget_tokens=BUDGET, n_quality=N_QUALITY,
                           strict=True)
    for k, ids in enumerate(epochs):
        sink(docs.filter(F.col("doc_id").isin(ids)), k)
    got = sorted(tuple(r)
                 for r in sink.final_receipt(spark).collect())
    assert got == want

"""ccn2 — stream ≡ batch pins for the CCNet streaming capstone
(r17, VERDICT r16 ask #5).

The fixture PLANS its arrival order instead of hoping for it: the
portable 48-bit hash is an md5 prefix, computable driver-side, so the
corpus is constructed such that the two ordering preconditions hold
simultaneously —

* epochs are contiguous cuts of the GLOBAL hash order, so every
  source's arrival subsequence is (hash, id)-increasing (the
  admission-leg precondition), and
* every planted duplicate block's batch-global winner (its smallest
  doc id) also hashes EARLIEST among the holders, so keep-first by
  arrival elects the same copy the batch packed-order election does
  (the line-dedup-leg precondition; pairs are searched for, not
  assumed).
"""

from __future__ import annotations

import pytest

# Multi-epoch store-lifecycle / stream-fuzz scale suite: every test but
# one smoke test is slow-marked (see pytest.ini; run with `pytest -m slow`).

import hashlib

from pyspark.sql import functions as F

N_SOURCES = 4
N_DOCS = 120
N_QUALITY = 40
BUDGET = 120


def _phash(i: int) -> int:
    """Driver-side twin of llm.sampling.portable_hash(str(id))."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)


def _segment(seed: str, de: bool = False) -> str:
    """One exact 10-word block: 5 language stopwords interleaved with
    5 seed-unique content words (lowercase ASCII, normalize-stable)."""
    if de:
        return (f"der {seed}a die {seed}b das {seed}c und {seed}d "
                f"ist {seed}e")
    return (f"the {seed}a of {seed}b and {seed}c to {seed}d "
            f"the {seed}e")


def _build_corpus():
    """(rows, n_pairs): 120 docs over 4 sources; ~1/6 German (lang
    gate fodder); 12 planted duplicate-block pairs (a, b) with a < b
    AND phash(a) < phash(b), four of whose victims are single-segment
    docs (cleaned to empty — the n_dedup leg observably fires)."""
    ids = list(range(N_DOCS))
    de_ids = {i for i in ids if i % 6 == 5}
    en_ids = [i for i in ids if i not in de_ids]
    pairs, used = [], set()
    for a in en_ids:
        if a in used:
            continue
        for b in en_ids:
            if b <= a or b in used or _phash(a) >= _phash(b):
                continue
            pairs.append((a, b))
            used.update((a, b))
            break
        if len(pairs) == 12:
            break
    assert len(pairs) == 12, "fixture could not plant 12 ordered pairs"
    dup_of = {b: a for a, b in pairs}
    single_seg = {b for k, (a, b) in enumerate(pairs) if k < 4}
    rows = []
    for i in ids:
        de = i in de_ids
        segs = [_segment(f"d{dup_of[i]}s0" if i in dup_of else f"d{i}s0",
                         de)]
        if i not in single_seg:
            segs.append(_segment(f"d{i}s1", de))
            if i % 3 == 0:
                segs.append(_segment(f"d{i}s2", de))
        rows.append((i, f"src{i % N_SOURCES}", " ".join(segs)))
    return rows, pairs


def _epochs(rows, n=4):
    order = sorted((r[0] for r in rows), key=lambda i: (_phash(i), i))
    cut = len(order) // n
    return [set(order[k * cut:(k + 1) * cut if k < n - 1 else None])
            for k in range(n)]


@pytest.mark.slow
def test_ccnet_stream_equals_batch_with_restart_and_replay(
        spark, tmp_path):
    """The capstone pin: aggregated per-epoch receipts equal the
    batch ccnet_receipt over the same corpus — across four epochs, a
    mid-stream RESTART (fresh sink object, same store), and an epoch
    REPLAY after later epochs landed (value-idempotent).  Every gate
    observably fires along the way."""
    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string") \
        .localCheckpoint(eager=True)
    want = ccnet_receipt(docs, budget_tokens=BUDGET,
                         n_quality=N_QUALITY).collect()
    wrows = [tuple(r) for r in want]
    # every leg fires in the batch target (so equality is meaningful)
    tot = {c: sum(r[c] for r in want) for c in want[0].asDict()
           if c != "source"}
    assert tot["n_lang"] < tot["n_docs"]            # lang gate
    assert tot["blocks_removed"] > 0                # line dedup
    assert tot["n_dedup"] < tot["n_lang"]           # emptied victims
    assert tot["n_head_middle"] < tot["n_dedup"]    # tercile gate
    assert tot["n_quality"] < tot["n_head_middle"]  # top-k gate
    assert tot["n_selected"] < tot["n_quality"]     # budget binds

    epochs = _epochs(rows)
    d = str(tmp_path / "store")
    sink = CCNetStreamSink(docs, d, budget_tokens=BUDGET,
                           n_quality=N_QUALITY)
    bcol = F.col("doc_id")
    sink(docs.filter(bcol.isin(epochs[0])), 0)
    sink(docs.filter(bcol.isin(epochs[1])), 1)
    # mid-stream restart: a fresh sink over the same directories
    # re-derives the calibration artifacts and continues the stores
    sink2 = CCNetStreamSink(docs, d, budget_tokens=BUDGET,
                            n_quality=N_QUALITY)
    sink2(docs.filter(bcol.isin(epochs[2])), 2)
    sink2(docs.filter(bcol.isin(epochs[3])), 3)
    got = [tuple(r) for r in sink2.final_receipt(spark).collect()]
    assert got == wrows
    # at-least-once replay of a MIDDLE epoch after later epochs
    # landed: every leg recomputes from pre-epoch state — identical
    sink2(docs.filter(bcol.isin(epochs[1])), 1)
    got2 = [tuple(r) for r in sink2.final_receipt(spark).collect()]
    assert got2 == wrows


@pytest.mark.slow
def test_ccnet_fixture_orderings_hold():
    """The fixture's two planned preconditions, asserted directly so
    a fixture edit cannot silently void the capstone equality."""
    rows, pairs = _build_corpus()
    epochs = _epochs(rows)
    epoch_of = {i: k for k, ids in enumerate(epochs) for i in ids}
    # per-source (hash, id) order is epoch-monotone
    for s in range(N_SOURCES):
        seq = sorted((r[0] for r in rows if r[1] == f"src{s}"),
                     key=lambda i: (_phash(i), i))
        ep = [epoch_of[i] for i in seq]
        assert ep == sorted(ep)
    # every planted pair's batch winner arrives no later than its dup
    for a, b in pairs:
        assert a < b and _phash(a) < _phash(b)
        assert epoch_of[a] <= epoch_of[b]


@pytest.mark.slow
def test_ccnet_order_report_detects_violations(spark, tmp_path):
    """The arrival-order guard: an ordered feed reports every epoch
    OK; feeding the same two batches REVERSED flags the late epoch on
    both legs, and its receipts genuinely diverge from the batch
    answer — the guard fires exactly where the equality contract
    breaks, instead of the stream silently diverging."""
    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string") \
        .localCheckpoint(eager=True)
    epochs = _epochs(rows, n=2)
    bcol = F.col("doc_id")
    b0 = docs.filter(bcol.isin(epochs[0]))
    b1 = docs.filter(bcol.isin(epochs[1]))

    ok_dir = str(tmp_path / "ordered")
    sink = CCNetStreamSink(docs, ok_dir, budget_tokens=BUDGET,
                           n_quality=N_QUALITY)
    sink(b0, 0)
    sink(b1, 1)
    rep = {r.epoch: (r.admission_order_ok, r.line_order_ok)
           for r in sink.order_report(spark).collect()}
    assert rep == {0: (True, True), 1: (True, True)}

    bad_dir = str(tmp_path / "reversed")
    bad = CCNetStreamSink(docs, bad_dir, budget_tokens=BUDGET,
                          n_quality=N_QUALITY)
    bad(b1, 0)
    bad(b0, 1)
    brep = {r.epoch: (r.admission_order_ok, r.line_order_ok)
            for r in bad.order_report(spark).collect()}
    assert brep[0] == (True, True)      # first epoch is always a prefix
    assert brep[1] == (False, False)    # the late batch flags both legs
    # and the flag marks a REAL divergence: reversed receipts != batch
    want = [tuple(r) for r in ccnet_receipt(
        docs, budget_tokens=BUDGET, n_quality=N_QUALITY).collect()]
    got = [tuple(r) for r in bad.final_receipt(spark).collect()]
    assert got != want


@pytest.mark.slow
def test_ccnet_stream_foreachbatch_wiring(spark, tmp_path):
    """End-to-end wiring: a structured-streaming file source delivers
    the planted corpus as two hash-ordered files through a real
    foreachBatch query; the aggregated receipts equal the batch
    ccnet_receipt and the order report is clean."""
    import os
    import shutil

    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rows, _ = _build_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string") \
        .localCheckpoint(eager=True)
    want = [tuple(r) for r in ccnet_receipt(
        docs, budget_tokens=BUDGET, n_quality=N_QUALITY).collect()]
    epochs = _epochs(rows, n=2)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, ids in enumerate(epochs):
        sub = str(tmp_path / f"b{i}")
        docs.filter(F.col("doc_id").isin(ids)) \
            .coalesce(1).write.parquet(sub)
        f = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(sub, f), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = CCNetStreamSink(docs, str(tmp_path / "store"),
                           budget_tokens=BUDGET, n_quality=N_QUALITY)
    stream = (spark.readStream
              .schema("doc_id bigint, source string, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = [tuple(r) for r in sink.final_receipt(spark).collect()]
    assert got == want
    rep = sink.order_report(spark).collect()
    assert all(r.admission_order_ok and r.line_order_ok for r in rep)


@pytest.mark.slow
def test_manifest_order_audit_polarities(spark):
    """The batch pre-flight audit on the planted corpus: stamping
    epochs by the fixture's hash cuts passes BOTH legs everywhere
    (the ordered-manifest polarity the oracle fixture cannot show);
    reversing the stamps flags the late epoch's sources and
    attributes every planted cross-epoch pair's winner to its (late)
    winning epoch."""
    from axonops_schema_registry_spark.llm.ccnet import (
        manifest_order_audit,
    )

    rows, pairs = _build_corpus()
    epochs = _epochs(rows, n=2)
    stamp = {i: k for k, ids in enumerate(epochs) for i in ids}
    docs = spark.createDataFrame(
        [(i, s, t, stamp[i]) for i, s, t in rows],
        "doc_id bigint, source string, text string, epoch bigint")
    rep = {r.epoch: tuple(r)[1:]
           for r in manifest_order_audit(docs).collect()}
    assert rep == {0: (True, 0, True, 0), 1: (True, 0, True, 0)}

    rev = docs.withColumn("epoch", 1 - F.col("epoch"))
    # cross-epoch planted pairs: winner a (smaller hash -> originally
    # epoch 0) now arrives in epoch 1 AFTER its duplicate
    cross = [(a, b) for a, b in pairs if stamp[a] == 0 and stamp[b] == 1]
    assert cross, "fixture must split some pairs across the cut"
    got = {r.epoch: tuple(r)[1:]
           for r in manifest_order_audit(rev).collect()}
    assert got[0] == (True, 0, True, 0)   # first epoch is a prefix
    adm_ok, n_src, line_ok, n_late = got[1]
    assert not adm_ok and n_src > 0
    assert not line_ok and n_late == len(cross)


@pytest.mark.slow
def test_ccnet_stream_seeded_fuzz(spark, tmp_path):
    """Seeded random corpora through the same two-precondition
    construction (random language mix, doc lengths, planted-dup
    search, epoch count): the streamed receipts always equal the
    batch chain — the LineDedupSink fuzz convention applied to the
    full capstone, so the equality does not hinge on one fixture's
    luck."""
    import random

    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt
    from axonops_schema_registry_spark.streaming.ccnet_stream import (
        CCNetStreamSink,
    )

    rng = random.Random(1717)
    for trial in range(2):
        n_docs = rng.choice([80, 100])
        n_sources = rng.choice([3, 5])
        ids = list(range(n_docs))
        de_ids = {i for i in ids if rng.random() < 0.2}
        en_ids = [i for i in ids if i not in de_ids]
        pairs, used = [], set()
        rng.shuffle(en_ids)
        for a in sorted(en_ids):
            if a in used or len(pairs) >= 8:
                continue
            for b in sorted(en_ids):
                if b <= a or b in used or _phash(a) >= _phash(b):
                    continue
                pairs.append((a, b))
                used.update((a, b))
                break
        dup_of = {b: a for a, b in pairs}
        rows = []
        for i in ids:
            de = i in de_ids
            seed0 = f"t{trial}d{dup_of[i]}s0" if i in dup_of \
                else f"t{trial}d{i}s0"
            segs = [_segment(seed0, de)]
            for k in range(rng.randint(0, 2)):
                segs.append(_segment(f"t{trial}d{i}s{k + 1}", de))
            rows.append((i, f"src{i % n_sources}", " ".join(segs)))
        docs = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string") \
            .localCheckpoint(eager=True)
        nq = rng.choice([25, 40])
        want = [tuple(r) for r in ccnet_receipt(
            docs, budget_tokens=100, n_quality=nq).collect()]

        n_epochs = rng.choice([2, 3])
        epochs = _epochs(rows, n=n_epochs)
        sink = CCNetStreamSink(docs, str(tmp_path / f"f{trial}"),
                               budget_tokens=100, n_quality=nq)
        for e, eids in enumerate(epochs):
            sink(docs.filter(F.col("doc_id").isin(eids)), e)
        got = [tuple(r) for r in sink.final_receipt(spark).collect()]
        assert got == want, f"trial {trial} diverged"
        rep = sink.order_report(spark).collect()
        assert all(r.admission_order_ok and r.line_order_ok
                   for r in rep), f"trial {trial} order flags"


# Not slow-marked: the default gate's smoke test of this module.
def test_order_safe_manifest_fixes_unsafe_corpus(spark):
    """The constructive complement: the planted corpus with reversed
    stamps FAILS the audit (shown above), but order_safe_manifest
    over the same rows schedules a manifest the audit passes
    everywhere — each doc at most once, the emptied dedup victims not
    scheduled at all, epochs contiguous in the portable hash order."""
    from axonops_schema_registry_spark.llm.ccnet import (
        manifest_order_audit,
        order_safe_manifest,
    )

    rows, pairs = _build_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string") \
        .localCheckpoint(eager=True)
    man = order_safe_manifest(docs, n_epochs=3).localCheckpoint(
        eager=True)
    rep = manifest_order_audit(man).collect()
    assert rep and all(
        r.admission_order_ok and r.line_order_ok
        and r.n_sources_out_of_order == 0
        and r.n_late_winner_keys == 0 for r in rep)
    ids = [r.doc_id for r in man.select("doc_id").collect()]
    assert len(ids) == len(set(ids))
    # the four single-segment dup victims clean to empty: unscheduled
    single_victims = {b for k, (a, b) in enumerate(pairs) if k < 4}
    assert single_victims.isdisjoint(ids)
    # epochs are contiguous hash ranges: every doc's hash cut matches
    for r in man.select("doc_id", "epoch").collect():
        assert r.epoch == (_phash(r.doc_id) * 3) >> 48

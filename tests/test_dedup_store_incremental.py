"""`BucketedDedupStore.reflag_incremental` — the bounded out-of-order
repair (VERDICT r10 ask #4).

Equality contract: after repairing the SAME late epochs, the
incremental path must be indistinguishable from the full
:meth:`reflag` — identical flags, identical behavior for every future
ingest (which exercises the repaired fps/bucket/token views), and
identical to the one-shot batch operator over the concatenated corpus
(the store's documented ground truth).  Pinned deterministically and
with seeded random corpora; the cost shape (∝ batch, not store) is
measured separately by the reflag smoke script at commit d15378d
(results in docs/SCALING.md).
"""

from __future__ import annotations

import pytest

# Multi-epoch store-lifecycle / stream-fuzz scale suite: driver-window
# opt-in (see pytest.ini); run with `pytest -m slow`.
pytestmark = pytest.mark.slow

import os
import random
import shutil
import tempfile


from axonops_schema_registry_spark.llm.dedup import incremental_dedup_flags
from axonops_schema_registry_spark.streaming.dedup_store import (
    BucketedDedupStore,
)

_BASE = [f"tok{j}" for j in range(40)]


def _near(tag: str) -> str:
    ws = list(_BASE)
    ws[20] = str(tag)
    return " ".join(ws)


def _distinct(i) -> str:
    return " ".join(f"d{i}x{j}" for j in range(40))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _flags_dict(df) -> dict:
    return {r.doc_id: (r.is_dup, r.dup_of) for r in df.collect()}


def _two_stores(spark, batches):
    """Ingest identical epoch sequences into two fresh stores and
    return them (caller repairs one fully, one incrementally)."""
    dirs = [tempfile.mkdtemp(prefix="rfi_full_"),
            tempfile.mkdtemp(prefix="rfi_incr_")]
    stores = [BucketedDedupStore(spark, d) for d in dirs]
    for store in stores:
        for e, b in enumerate(batches):
            store(b, epoch_id=e)
    return stores, dirs


def test_incremental_equals_full_reflag_and_batch(spark):
    """The deterministic scenario from the full-reflag test: epoch 0
    carries larger ids (near-dup pair + distincts), epoch 1 backfills
    smaller ids including a byte-identical twin (rep re-key), a new
    near-dup, and a distinct doc."""
    b0 = _docs(spark, [(10, _near("pA")), (11, _near("pB")),
                       (12, _distinct(12)), (13, _distinct(13)),
                       (14, _distinct(14))])
    b1 = _docs(spark, [(0, _near("pA")), (1, _near("pC")),
                       (2, _distinct(2))])
    (full, incr), dirs = _two_stores(spark, [b0, b1])
    try:
        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = _flags_dict(incremental_dedup_flags(b0.unionByName(b1)))
        assert _flags_dict(full.all_flags()) == want
        assert _flags_dict(incr.all_flags()) == want
        # the repair is an overlay, not a rewrite: epoch dirs intact,
        # one committed delta
        assert incr._meta().get("nrep", 0) == 1
        assert os.path.isdir(os.path.join(dirs[1], "repairs", "r0"))

        # future ingests read THROUGH the overlay: a doc byte-equal to
        # the re-keyed group and a near-dup of it must flag against
        # the TRUE original on both stores
        b2 = _docs(spark, [(30, _near("pA")), (31, _near("pB")),
                           (32, _distinct(32))])
        full(b2, epoch_id=2)
        incr(b2, epoch_id=2)
        want2 = _flags_dict(incremental_dedup_flags(
            b0.unionByName(b1).unionByName(b2)))
        assert _flags_dict(full.all_flags()) == want2
        assert _flags_dict(incr.all_flags()) == want2
        assert want2[30] == (True, 0)

        # a quiescent compact folds the overlay into the base and
        # sweeps it; verdicts unchanged
        incr.compact(below_epoch=3)
        assert _flags_dict(incr.all_flags()) == want2
        assert incr._meta().get("nrep", 0) == 0
        assert not os.path.isdir(os.path.join(dirs[1], "repairs"))
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_incremental_reflag_preconditions(spark):
    b0 = _docs(spark, [(5, _distinct(5))])
    d = tempfile.mkdtemp(prefix="rfi_pre_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        with pytest.raises(RuntimeError, match="quiescent"):
            store.reflag_incremental([0], below_epoch=0)
        with pytest.raises(RuntimeError, match="live range"):
            store.reflag_incremental([7], below_epoch=1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_incremental_equals_full_on_random_out_of_order(spark, seed):
    """Seeded random corpora: identical-text groups (rep re-keys),
    near-dup families (first-wins flips), and distincts, dealt into 3
    epochs with ids shuffled so later epochs carry smaller ids.
    Repairing all post-first epochs must equal the full reflag AND
    the one-shot batch answer, and a follow-up ingest must behave
    identically on both stores."""
    rng = random.Random(seed)
    texts = []
    for fam in range(4):                      # near-dup families
        for _ in range(rng.randint(1, 3)):
            texts.append(_near(f"f{fam}v{rng.randint(0, 2)}"))
    for g in range(3):                        # identical-text groups
        texts += [_near(f"ident{g}")] * rng.randint(2, 3)
    for i in range(6):
        texts.append(_distinct(f"s{seed}i{i}"))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = list(zip(ids, texts))
    rng.shuffle(rows)
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    batches = [_docs(spark, rows[:cut1]),
               _docs(spark, rows[cut1:cut2]),
               _docs(spark, rows[cut2:])]
    corpus = _docs(spark, rows)
    (full, incr), dirs = _two_stores(spark, batches)
    try:
        full.reflag(below_epoch=3)
        incr.reflag_incremental([1, 2], below_epoch=3)
        want = _flags_dict(incremental_dedup_flags(corpus))
        assert _flags_dict(full.all_flags()) == want
        assert _flags_dict(incr.all_flags()) == want

        nxt = _docs(spark, [(100 + seed, _near("ident0")),
                            (101 + seed, _near(f"f0v{seed % 3}")),
                            (102 + seed, _distinct(f"n{seed}"))])
        full(nxt, epoch_id=3)
        incr(nxt, epoch_id=3)
        want2 = _flags_dict(
            incremental_dedup_flags(corpus.unionByName(nxt)))
        assert _flags_dict(full.all_flags()) == want2
        assert _flags_dict(incr.all_flags()) == want2
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_two_successive_incremental_repairs(spark):
    """Repairs stack: a second out-of-order wave after the first
    repair commits a second overlay (later overrides earlier), still
    converging to the batch answer."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA")), (11, _near("pB"))])   # late
    b2 = _docs(spark, [(30, _near("pB")), (31, _distinct(31))])
    b3 = _docs(spark, [(0, _near("pA")), (1, _distinct(1))])    # later
    d = tempfile.mkdtemp(prefix="rfi_stack_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        store.reflag_incremental([1], below_epoch=2)
        store(b2, epoch_id=2)
        store(b3, epoch_id=3)
        store.reflag_incremental([3], below_epoch=4)
        assert store._meta().get("nrep", 0) == 2
        want = _flags_dict(incremental_dedup_flags(
            b0.unionByName(b1).unionByName(b2).unionByName(b3)))
        assert _flags_dict(store.all_flags()) == want
        # full reflag folds both overlays away and agrees
        store.reflag(below_epoch=4)
        assert store._meta().get("nrep", 0) == 0
        assert _flags_dict(store.all_flags()) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Embedding twin
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows,
                                 "vec_id bigint, embedding array<double>")


def _u(*xs):
    return [float(x) for x in xs]


def test_embedding_incremental_equals_full_reflag_and_batch(spark):
    """Embedding twin of the deterministic scenario: epoch 0 carries
    larger ids (a cosine near-pair + distincts), epoch 1 backfills
    smaller ids including a byte-identical vector (rep re-key) and a
    new near-dup."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
        embedding_dedup_flags,
    )

    near_a = _u(1, 0.10, 0, 0)
    near_b = _u(1, 0.12, 0, 0)
    near_c = _u(1, 0.08, 0, 0)
    b0 = _vecs(spark, [(10, near_a), (11, near_b),
                       (12, _u(0, 1, 0, 0)), (13, _u(0, 0, 1, 0)),
                       (14, _u(0, 0, 0, 1))])
    b1 = _vecs(spark, [(0, near_a), (1, near_c),
                       (2, _u(1, -1, 1, -1))])
    full_corpus = b0.unionByName(b1)

    def fdict(df):
        return {r.vec_id: (r.is_dup, r.dup_of) for r in df.collect()}

    dirs = [tempfile.mkdtemp(prefix="erfi_full_"),
            tempfile.mkdtemp(prefix="erfi_incr_")]
    stores = [EmbeddingDedupStore(spark, d, dim=4) for d in dirs]
    try:
        for store in stores:
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        full, incr = stores
        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = fdict(embedding_dedup_flags(full_corpus, dim=4))
        assert fdict(full.all_flags()) == want
        assert fdict(incr.all_flags()) == want
        # the backfilled byte-identical vector is the true original
        assert want[0] == (False, None)
        assert want[10] == (True, 0)

        # future ingests read THROUGH the overlay on both stores
        b2 = _vecs(spark, [(30, near_a), (31, near_b),
                           (32, _u(-1, 0, 0, 1))])
        full(b2, epoch_id=2)
        incr(b2, epoch_id=2)
        want2 = fdict(embedding_dedup_flags(
            full_corpus.unionByName(b2), dim=4))
        assert fdict(full.all_flags()) == want2
        assert fdict(incr.all_flags()) == want2
        assert want2[30] == (True, 0)

        # quiescent compact folds the overlay away
        incr.compact(below_epoch=3)
        assert fdict(incr.all_flags()) == want2
        assert incr._meta().get("nrep", 0) == 0
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("seed", [5, 19])
def test_embedding_incremental_random_out_of_order(spark, seed):
    import math

    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
        embedding_dedup_flags,
    )

    rng = random.Random(seed)
    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0], [1.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 1.0]]
    vecs = []
    for fam in range(4):                       # near-dup families
        b = base[fam]
        for _ in range(rng.randint(1, 3)):
            eps = rng.randint(5, 15) / 100.0
            v = [x + (eps if i == 3 else 0.0)
                 for i, x in enumerate(b)]
            n = math.sqrt(sum(x * x for x in v))
            vecs.append([round(x / n, 6) for x in v])
    for g in range(2):                         # byte-identical groups
        vecs += [base[g]] * rng.randint(2, 3)
    for i in range(4):                         # distinct-ish
        vecs.append([float(rng.randint(-5, 5)) for _ in range(4)])
    ids = list(range(len(vecs)))
    rng.shuffle(ids)
    rows = list(zip(ids, vecs))
    rng.shuffle(rows)
    cut = len(rows) // 2
    b0, b1 = _vecs(spark, rows[:cut]), _vecs(spark, rows[cut:])
    corpus = _vecs(spark, rows)

    def fdict(df):
        return {r.vec_id: (r.is_dup, r.dup_of) for r in df.collect()}

    dirs = [tempfile.mkdtemp(prefix="erfi_f_"),
            tempfile.mkdtemp(prefix="erfi_i_")]
    stores = [EmbeddingDedupStore(spark, d, dim=4) for d in dirs]
    try:
        for store in stores:
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        full, incr = stores
        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = fdict(embedding_dedup_flags(corpus, dim=4))
        assert fdict(full.all_flags()) == want
        assert fdict(incr.all_flags()) == want
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_orphan_repair_dir_is_invisible_and_overwritten(spark):
    """Crash-safety of the repair commit: deltas are fully written to
    repairs/r<n> BEFORE meta.json advances nrep, so a crash in between
    leaves an orphan directory that (a) no read applies (nrep still
    0) and (b) the next repair overwrites on its way to a proper
    commit."""
    b0 = _docs(spark, [(10, _near("pA")), (11, _distinct(11))])
    b1 = _docs(spark, [(0, _near("pA")), (1, _distinct(1))])
    d = tempfile.mkdtemp(prefix="rfi_orphan_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        stale = _flags_dict(store.all_flags())

        # simulate the crash: an orphan r0 holding garbage (a real
        # crash would hold valid-but-uncommitted deltas; garbage is
        # strictly harder — it must never be read)
        orphan = os.path.join(d, "repairs", "r0", "flags")
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "junk.txt"), "w") as f:
            f.write("not parquet")

        # invisible: nrep is still 0, reads are the stale pre-repair
        # verdicts, not an error
        assert store._meta().get("nrep", 0) == 0
        assert _flags_dict(store.all_flags()) == stale

        # the next repair overwrites the orphan and commits
        store.reflag_incremental([1], below_epoch=2)
        want = _flags_dict(incremental_dedup_flags(b0.unionByName(b1)))
        assert _flags_dict(store.all_flags()) == want
        assert store._meta().get("nrep", 0) == 1
        # the overwrite replaced the orphan's contents wholesale
        assert not os.path.exists(os.path.join(orphan, "junk.txt"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# max_bucket composition (VERDICT r11 ask #2): the rank cap and the bounded
# repair must coexist — equality target is the CAPPED full reflag (the cap
# changes candidate-generation semantics, so the uncapped batch operator is
# not the ground truth here)
# ---------------------------------------------------------------------------

def _far(tag_a: str, tag_b: str) -> str:
    """Two words changed (positions 5 and 17): J ≈ 0.62 to every
    `_near` text — BELOW the 0.8 threshold, yet (searched offline,
    pinned by the in-test bucket assertion) sharing the 2-hash/1-band
    minhash bucket of the `_near` family."""
    ws = list(_BASE)
    ws[5], ws[17] = tag_a, tag_b
    return " ".join(ws)


_CAP_KW = dict(n_hashes=2, bands=1, max_bucket=1)


def test_capped_incremental_planted_eviction_withdrawal(spark):
    """The withdrawal case the r11 guard existed to avoid, now handled:
    a late SMALLER id lands in the one bucket that generated a stored
    verdict, evicts the verdict's dup_of from the capped top-1, and
    does NOT verify against anyone — the capped full reflag therefore
    WITHDRAWS the verdict (20.dup_of: 10 → None), and the incremental
    repair must match (the _replace_min path, not a least-merge)."""
    X, Y, Z = _near("pA"), _near("pB"), _far("z4a", "z4b")
    b0 = _docs(spark, [(10, X), (20, Y)])
    b1 = _docs(spark, [(5, Z)])                      # late, dissimilar
    dirs = [tempfile.mkdtemp(prefix="cap_full_"),
            tempfile.mkdtemp(prefix="cap_incr_")]
    stores = [BucketedDedupStore(spark, d, **_CAP_KW) for d in dirs]
    try:
        for store in stores:
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        full, incr = stores
        # planted structure sanity: the pre-repair verdict exists (the
        # three texts DO share a bucket — guards hash drift) and the
        # late doc is unflagged
        pre = _flags_dict(full.all_flags())
        assert pre[20] == (True, 10), (
            "planted bucket collision broke — re-search _far tags")
        assert pre[5] == (False, None)

        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = _flags_dict(full.all_flags())
        assert _flags_dict(incr.all_flags()) == want
        # the withdrawal actually happened (this is the scenario)
        assert want[20] == (False, None)
        assert want[10] == (False, None)

        # future ingests read through the overlay identically: a new
        # near-dup of Y is now compared against the capped top-1 = 5,
        # which does NOT verify -> unflagged on BOTH stores
        b2 = _docs(spark, [(30, _near("pB2"))])
        full(b2, epoch_id=2)
        incr(b2, epoch_id=2)
        assert (_flags_dict(incr.all_flags())
                == _flags_dict(full.all_flags()))
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_capped_incremental_rekey_eviction(spark):
    """Re-key-driven ranking shift: a late doc byte-identical to the
    stored verdict's dup_of re-keys 10 → 5; in every shared bucket 5
    replaces 10 at the top, so the stale (10, 20) pair regenerates as
    (5, 20) and the old-rep id 10 itself becomes a dup of 5."""
    X, Y = _near("pA"), _near("pB")
    b0 = _docs(spark, [(10, X), (20, Y)])
    b1 = _docs(spark, [(5, X)])            # late byte-identical twin
    dirs = [tempfile.mkdtemp(prefix="capr_full_"),
            tempfile.mkdtemp(prefix="capr_incr_")]
    stores = [BucketedDedupStore(spark, d, **_CAP_KW) for d in dirs]
    try:
        for store in stores:
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        full, incr = stores
        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = _flags_dict(full.all_flags())
        assert _flags_dict(incr.all_flags()) == want
        assert want[5] == (False, None)
        assert want[10] == (True, 5)
        assert want[20] == (True, 5)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("seed", [3, 31, 59])
def test_capped_incremental_random_equals_capped_full(spark, seed):
    """Seeded random out-of-order corpora on max_bucket=2 stores with
    DEFAULT banding: near-dup families (some larger than the cap),
    identical-text groups, distincts, dealt into 3 epochs with ids
    shuffled so later epochs backfill smaller ids.  Incremental must
    equal the capped full reflag, including for a follow-up ingest."""
    rng = random.Random(seed)
    texts = []
    for fam in range(3):                   # families larger than cap=2
        for _ in range(rng.randint(2, 5)):
            texts.append(_near(f"c{fam}v{rng.randint(0, 2)}"))
    for g in range(2):
        texts += [_near(f"cid{g}")] * rng.randint(2, 3)
    for i in range(5):
        texts.append(_distinct(f"c{seed}i{i}"))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = list(zip(ids, texts))
    rng.shuffle(rows)
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    batches = [_docs(spark, rows[:cut1]), _docs(spark, rows[cut1:cut2]),
               _docs(spark, rows[cut2:])]
    dirs = [tempfile.mkdtemp(prefix="capx_full_"),
            tempfile.mkdtemp(prefix="capx_incr_")]
    stores = [BucketedDedupStore(spark, d, max_bucket=2) for d in dirs]
    try:
        for store in stores:
            for e, b in enumerate(batches):
                store(b, epoch_id=e)
        full, incr = stores
        full.reflag(below_epoch=3)
        incr.reflag_incremental([1, 2], below_epoch=3)
        assert (_flags_dict(incr.all_flags())
                == _flags_dict(full.all_flags()))

        nxt = _docs(spark, [(200 + seed, _near("c0v0")),
                            (201 + seed, _near("cid0")),
                            (202 + seed, _distinct(f"cn{seed}"))])
        full(nxt, epoch_id=3)
        incr(nxt, epoch_id=3)
        assert (_flags_dict(incr.all_flags())
                == _flags_dict(full.all_flags()))
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_embedding_capped_incremental_planted_eviction(spark):
    """Embedding twin of the planted withdrawal: one 1-bit hyperplane
    table puts the low-cosine late vector (searched offline, pinned by
    the in-test sanity assertion) in the SAME half-space bucket as the
    stored near-pair; with max_bucket=1 it evicts vec 10 from the
    top-1, the (10, 20) verdict is withdrawn by the capped full
    reflag, and the incremental repair must match."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
    )

    va, vb = _u(1, 0.10, 0, 0), _u(1, 0.12, 0, 0)   # cos ≈ 0.9998
    vz = _u(1, 0, -5, 0)                            # cos ≈ 0.195 to both
    b0 = _vecs(spark, [(10, va), (20, vb)])
    b1 = _vecs(spark, [(5, vz)])
    kw = dict(dim=4, n_bits=1, n_tables=1, max_bucket=1)
    dirs = [tempfile.mkdtemp(prefix="ecap_full_"),
            tempfile.mkdtemp(prefix="ecap_incr_")]
    stores = [EmbeddingDedupStore(spark, d, **kw) for d in dirs]

    def fdict(df):
        return {r.vec_id: (r.is_dup, r.dup_of) for r in df.collect()}

    try:
        for store in stores:
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        full, incr = stores
        pre = fdict(full.all_flags())
        assert pre[20] == (True, 10), (
            "planted hyperplane collision broke — re-search vz")
        assert pre[5] == (False, None)

        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        want = fdict(full.all_flags())
        assert fdict(incr.all_flags()) == want
        assert want[20] == (False, None)

        b2 = _vecs(spark, [(30, _u(1, 0.11, 0, 0))])
        full(b2, epoch_id=2)
        incr(b2, epoch_id=2)
        assert fdict(incr.all_flags()) == fdict(full.all_flags())
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("seed", [7, 41])
def test_embedding_capped_incremental_random(spark, seed):
    import math

    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
    )

    rng = random.Random(seed)
    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0]]
    vecs = []
    for fam in range(3):                    # families larger than cap
        b = base[fam]
        for _ in range(rng.randint(2, 4)):
            eps = rng.randint(5, 15) / 100.0
            v = [x + (eps if i == 3 else 0.0) for i, x in enumerate(b)]
            n = math.sqrt(sum(x * x for x in v))
            vecs.append([round(x / n, 6) for x in v])
    for g in range(2):
        vecs += [base[g]] * rng.randint(2, 3)
    for i in range(4):
        vecs.append([float(rng.randint(-5, 5)) for _ in range(4)])
    ids = list(range(len(vecs)))
    rng.shuffle(ids)
    rows = list(zip(ids, vecs))
    rng.shuffle(rows)
    cut = len(rows) // 2
    batches = [_vecs(spark, rows[:cut]), _vecs(spark, rows[cut:])]

    def fdict(df):
        return {r.vec_id: (r.is_dup, r.dup_of) for r in df.collect()}

    dirs = [tempfile.mkdtemp(prefix="ecapx_f_"),
            tempfile.mkdtemp(prefix="ecapx_i_")]
    stores = [EmbeddingDedupStore(spark, d, dim=4, max_bucket=2)
              for d in dirs]
    try:
        for store in stores:
            for e, b in enumerate(batches):
                store(b, epoch_id=e)
        full, incr = stores
        full.reflag(below_epoch=2)
        incr.reflag_incremental([1], below_epoch=2)
        assert fdict(incr.all_flags()) == fdict(full.all_flags())
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Late-epoch tracking + enforcement (ADVICE r11): the store derives which
# epochs arrived out-of-order from per-epoch id ranges recorded at ingest;
# a repair call that omits one is rejected, and late_epochs=None derives
# the exact set
# ---------------------------------------------------------------------------

def test_repair_rejects_omitted_late_epoch(spark):
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA"))])      # late
    b2 = _docs(spark, [(5, _near("pB"))])       # also late
    d = tempfile.mkdtemp(prefix="rfi_omit_")
    try:
        store = BucketedDedupStore(spark, d)
        for e, b in enumerate([b0, b1, b2]):
            store(b, epoch_id=e)
        assert store._outstanding_late() == {1, 2}
        with pytest.raises(RuntimeError, match=r"\[2\].*missing"):
            store.reflag_incremental([1], below_epoch=3)
        # nothing was committed by the refusal
        assert store._meta().get("nrep", 0) == 0
        # the full set (or a superset) passes, and marks both repaired
        store.reflag_incremental([1, 2], below_epoch=3)
        assert store._outstanding_late() == set()
        assert store._meta().get("repaired") == [1, 2]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_repair_derives_late_set_when_none(spark):
    """late_epochs=None (the recommended call) derives the exact
    outstanding set and matches the full reflag; ordered stores
    no-op (no delta committed)."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA")), (11, _near("pB"))])  # late
    (full, incr), dirs = _two_stores(spark, [b0, b1])
    try:
        full.reflag(below_epoch=2)
        incr.reflag_incremental(below_epoch=2)        # derived
        assert _flags_dict(incr.all_flags()) == _flags_dict(
            full.all_flags())
        assert incr._meta().get("repaired") == [1]
        # a second derived call finds nothing outstanding: no new delta
        incr.reflag_incremental(below_epoch=2)
        assert incr._meta().get("nrep", 0) == 1
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_ordered_store_derives_empty_even_after_replay(spark):
    """Per-epoch (min, max) entries — not a running max — so an
    at-least-once REPLAY of an epoch cannot fake lateness: the epoch's
    own recorded range is replaced with identical values and is never
    compared against itself."""
    b0 = _docs(spark, [(10, _near("pA")), (11, _distinct(11))])
    b1 = _docs(spark, [(30, _near("pB")), (31, _distinct(31))])
    d = tempfile.mkdtemp(prefix="rfi_replay_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        store(b1, epoch_id=1)                       # replay
        assert store._outstanding_late() == set()
        store.reflag_incremental(below_epoch=2)     # derives empty
        assert store._meta().get("nrep", 0) == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compacting_unrepaired_late_epoch_disables_bounded_repair(spark):
    """A compact that folds an unrepaired late epoch bakes the stale
    verdicts into the base — the bounded repair must refuse from then
    on (needs_full_reflag), and the full reflag clears the state."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA"))])          # late, unrepaired
    d = tempfile.mkdtemp(prefix="rfi_bake_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        store.compact(below_epoch=2)                # folds the lateness
        assert store._meta().get("needs_full_reflag") is True
        with pytest.raises(RuntimeError, match="full reflag"):
            store.reflag_incremental(below_epoch=2)
        store.reflag(below_epoch=2)                 # the one true fix
        assert not store._meta().get("needs_full_reflag")
        want = _flags_dict(incremental_dedup_flags(b0.unionByName(b1)))
        assert _flags_dict(store.all_flags()) == want
        # and the bounded repair is usable again afterwards
        b2 = _docs(spark, [(5, _near("pA"))])       # new late wave
        store(b2, epoch_id=2)
        assert store._outstanding_late() == {2}
        store.reflag_incremental(below_epoch=3)
        want2 = _flags_dict(incremental_dedup_flags(
            b0.unionByName(b1).unionByName(b2)))
        assert _flags_dict(store.all_flags()) == want2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_embedding_store_tracks_late_epochs_too(spark):
    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
    )

    b0 = _vecs(spark, [(10, _u(1, 0.10, 0, 0)), (11, _u(0, 1, 0, 0))])
    b1 = _vecs(spark, [(5, _u(1, 0.12, 0, 0))])     # late near-dup
    d = tempfile.mkdtemp(prefix="erfi_track_")
    try:
        store = EmbeddingDedupStore(spark, d, dim=4)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        assert store._outstanding_late() == {1}
        with pytest.raises(RuntimeError, match="missing"):
            store.reflag_incremental([], below_epoch=2)
        store.reflag_incremental(below_epoch=2)     # derived
        flags = {r.vec_id: (r.is_dup, r.dup_of)
                 for r in store.all_flags().collect()}
        assert flags[10] == (True, 5)
        assert flags[5] == (False, None)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hint_created_store_full_maintenance_lifecycle(spark):
    """VERDICT r11 ask #6: an EmbeddingDedupStore created through the
    expected_corpus constructor path (bits derived, not literal) runs
    the complete maintenance sequence — late ingest → incremental
    repair → more late ingest → stacked repair → quiescent compact
    (folds both deltas) → post-compact ingest — with flag equality to
    the one-shot batch operator at every step."""
    from axonops_schema_registry_spark.llm.similarity import (
        recommended_lsh_bits,
    )
    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
        embedding_dedup_flags,
    )

    near = lambda e: _u(1, e, 0, 0)           # noqa: E731
    b0 = _vecs(spark, [(100, near(0.10)), (101, near(0.12)),
                       (102, _u(0, 1, 0, 0)), (103, _u(0, 0, 1, 0))])
    b1 = _vecs(spark, [(50, near(0.10)), (51, near(0.11)),
                       (52, _u(0, 0, 0, 1))])          # late wave 1
    b2 = _vecs(spark, [(200, near(0.13)), (201, _u(1, -1, 0, 0))])
    b3 = _vecs(spark, [(10, near(0.12)), (11, _u(0, 1, 0.1, 0))])  # late 2
    b4 = _vecs(spark, [(300, near(0.10)), (301, _u(0, 0, 1, 0))])

    d = tempfile.mkdtemp(prefix="erfi_life_")
    try:
        store = EmbeddingDedupStore(spark, d, dim=4,
                                    expected_corpus=1000)
        bits = recommended_lsh_bits(1000)
        assert store.n_bits == bits

        def fdict(df):
            return {r.vec_id: (r.is_dup, r.dup_of)
                    for r in df.collect()}

        def want(*batches):
            corpus = batches[0]
            for b in batches[1:]:
                corpus = corpus.unionByName(b)
            return fdict(embedding_dedup_flags(corpus, dim=4,
                                               n_bits=bits))

        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        store.reflag_incremental(below_epoch=2)        # derived set
        assert fdict(store.all_flags()) == want(b0, b1)

        store(b2, epoch_id=2)
        store(b3, epoch_id=3)
        store.reflag_incremental(below_epoch=4)        # stacked delta
        assert store._meta().get("nrep", 0) == 2
        assert fdict(store.all_flags()) == want(b0, b1, b2, b3)

        store.compact(below_epoch=4)                   # folds deltas
        assert store._meta().get("nrep", 0) == 0
        assert not store._meta().get("needs_full_reflag")
        assert fdict(store.all_flags()) == want(b0, b1, b2, b3)

        store(b4, epoch_id=4)                          # reads the base
        assert fdict(store.all_flags()) == want(b0, b1, b2, b3, b4)
        # the reopened store sees the pinned derived bits: a literal
        # mismatch still refuses
        with pytest.raises(RuntimeError, match="different signature"):
            EmbeddingDedupStore(spark, d, dim=4, n_bits=bits + 1)(
                b4, epoch_id=5)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_capped_stacked_repairs_and_compact(spark):
    """Two out-of-order waves on a max_bucket store: the second capped
    repair runs ON TOP of the first delta (re-keyed views, rank
    windows over overlay-substituted ids), both stack as overlays, a
    quiescent compact folds them, and every step equals a capped full
    reflag on a twin store."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _near("pB")),
                       (22, _distinct(22))])
    b1 = _docs(spark, [(10, _near("pA")), (11, _near("pC"))])  # late 1
    b2 = _docs(spark, [(30, _near("pB")), (31, _distinct(31))])
    b3 = _docs(spark, [(0, _near("pA")), (1, _near("pB"))])    # late 2
    dirs = [tempfile.mkdtemp(prefix="capst_full_"),
            tempfile.mkdtemp(prefix="capst_incr_")]
    full, incr = [BucketedDedupStore(spark, d, max_bucket=2)
                  for d in dirs]
    try:
        for store in (full, incr):
            store(b0, epoch_id=0)
            store(b1, epoch_id=1)
        incr.reflag_incremental(below_epoch=2)       # derived: {1}
        full.reflag(below_epoch=2)
        assert _flags_dict(incr.all_flags()) == _flags_dict(
            full.all_flags())
        for store in (full, incr):
            store(b2, epoch_id=2)
            store(b3, epoch_id=3)
        incr.reflag_incremental(below_epoch=4)       # derived: {3}
        full.reflag(below_epoch=4)
        want = _flags_dict(full.all_flags())
        assert _flags_dict(incr.all_flags()) == want
        assert incr._meta().get("nrep", 0) == 2
        # quiescent compact folds both overlays; verdicts unchanged
        incr.compact(below_epoch=4)
        assert incr._meta().get("nrep", 0) == 0
        assert not incr._meta().get("needs_full_reflag")
        assert _flags_dict(incr.all_flags()) == want
        # post-compact ingest reads the folded base identically
        b4 = _docs(spark, [(40, _near("pA")), (41, _distinct(41))])
        full(b4, epoch_id=4)
        incr(b4, epoch_id=4)
        assert _flags_dict(incr.all_flags()) == _flags_dict(
            full.all_flags())
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_untracked_legacy_epoch_refuses_derived_repair(spark):
    """ADVICE r12: a live NON-EMPTY epoch with no emm entry (a
    pre-tracking legacy store, simulated by stripping the entry from
    meta.json) cannot be classified as in-order vs late — the derived
    path must REFUSE rather than silently treat it as in-order, while
    an explicit caller list (the documented escape hatch) and the
    full reflag() both still work."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA"))])          # late, but the
    d = tempfile.mkdtemp(prefix="rfi_legacy_")      # emm entry will go
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        # strip epoch 1's emm entry — the legacy shape
        meta = store._meta()
        del meta["emm"]["1"]
        store._write_meta(meta)
        assert store._untracked_live_epochs() == [1]
        # derived set can no longer see epoch 1 as late...
        assert store._outstanding_late() == set()
        # ...so the derived path refuses instead of no-opping
        with pytest.raises(RuntimeError, match="no recorded id range"):
            store.reflag_incremental(below_epoch=2)
        assert store._meta().get("nrep", 0) == 0    # nothing committed
        # escape hatch 1: the caller names the late set explicitly
        store.reflag_incremental([1], below_epoch=2)
        flags = _flags_dict(store.all_flags())
        assert flags[20] == (True, 10)              # repaired verdict
        assert flags[10] == (False, None)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_untracked_epoch_full_reflag_escape_hatch(spark):
    """Escape hatch 2 for the legacy-epoch refusal: one full reflag()
    rewrites every verdict (no emm needed), and after compaction folds
    the untracked epoch the derived path works again."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA"))])
    d = tempfile.mkdtemp(prefix="rfi_legacy2_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        meta = store._meta()
        del meta["emm"]["1"]
        store._write_meta(meta)
        with pytest.raises(RuntimeError, match="no recorded id range"):
            store.reflag_incremental(below_epoch=2)
        store.reflag(below_epoch=2)                 # full rewrite
        flags = _flags_dict(store.all_flags())
        assert flags[20] == (True, 10)
        assert store._untracked_live_epochs() == []  # folded
        # tracked ingests resume; derived path accepted again
        store(_docs(spark, [(30, _distinct(30))]), epoch_id=2)
        store.reflag_incremental(below_epoch=3)     # derives empty set
        assert store._meta().get("nrep", 0) == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_empty_epoch_partition_does_not_trigger_refusal(spark):
    """A genuinely EMPTY micro-batch writes a schema-only partition
    and records no emm entry by design — the one-row probe must not
    confuse it with a legacy epoch."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    d = tempfile.mkdtemp(prefix="rfi_empty_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(empty, epoch_id=1)
        assert store._untracked_live_epochs() == []
        store.reflag_incremental(below_epoch=2)     # derives empty set
        assert store._meta().get("nrep", 0) == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compacting_untracked_epoch_disables_bounded_repair(spark):
    """Compaction-side of the ADVICE r12 legacy hole: folding a
    non-empty UNTRACKED epoch erases the last evidence that it ever
    existed (the live-dir probe can't see folded epochs), so the
    compact must set needs_full_reflag — bounded repair refuses until
    one full reflag clears it."""
    b0 = _docs(spark, [(20, _near("pA")), (21, _distinct(21))])
    b1 = _docs(spark, [(10, _near("pA"))])          # actually late
    d = tempfile.mkdtemp(prefix="rfi_legacy3_")
    try:
        store = BucketedDedupStore(spark, d)
        store(b0, epoch_id=0)
        store(b1, epoch_id=1)
        meta = store._meta()
        del meta["emm"]["1"]                        # legacy shape
        store._write_meta(meta)
        store.compact(below_epoch=2)                # folds epoch 1
        assert store._meta().get("needs_full_reflag") is True
        store(_docs(spark, [(30, _distinct(30))]), epoch_id=2)
        with pytest.raises(RuntimeError, match="full"):
            store.reflag_incremental(below_epoch=3)
        store.reflag(below_epoch=3)                 # clears the flag
        assert not store._meta().get("needs_full_reflag")
        flags = _flags_dict(store.all_flags())
        assert flags[20] == (True, 10)              # verdict repaired
    finally:
        shutil.rmtree(d, ignore_errors=True)

"""curation_batch: the llm/ curation layer over generated shards.

Each pass takes the next shard and runs, through ``llm.CurationPipeline``
and ``llm.similarity``:
  deduplicated()           MinHash-LSH first-wins near-duplicate removal
  line_deduplicated()      CCNet keep-first block dedup
  multiprobe_lsh_ann_topk  top-k neighbours of the shard's queries
and checks each answer against the generator's planted structure.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from common import WORK_DIR, log, median, percentile, run_concurrently
from stage import DOCS_SCHEMA, EMB_SCHEMA, docs_columns, fresh_dir, write_table

DOCS_PER_SHARD = 400
CLUSTER_SHARE = 0.12        # share of unique docs that get near copies
EXACT_COPY_SHARE = 0.3      # share of copies that are byte-identical
BOILERPLATE_SHARE = 0.2     # docs opening with a shared 10-word block
VOCAB = 3000
DIM = 32
VECS_PER_SHARD = 1500
QUERIES_PER_SHARD = 20
K = 5
# the planted-set recall floor the repository pins for its LSH top-k
# (tests/test_llm_ops.py::test_lsh_ann_recall_vs_exact_baseline)
RECALL_FLOOR = 0.9
N_SHARDS = 12
BLOCK_WORDS = 10
# the warm-up runs the same operators on a quarter-size shard: it starts
# the same code paths, and the run spends less time before measuring
WARMUP_DIVISOR = 4


class Shard:
    """One shard's documents, vectors and expected answers."""

    def __init__(self, rng: random.Random, words: list[str],
                 boiler: list[str], first_id: int, divisor: int = 1) -> None:
        self.n_docs = DOCS_PER_SHARD // divisor
        self.n_vecs = VECS_PER_SHARD // divisor
        self.n_queries = QUERIES_PER_SHARD // divisor
        self.path = ""                 # where setup() stages it
        docs: list[tuple[int, str]] = []
        copies: set[int] = set()
        next_id = first_id
        pending: list[list[str]] = []          # copies still to place
        while len(docs) < self.n_docs:
            if pending and rng.random() < 0.3:
                toks = pending.pop(rng.randrange(len(pending)))
                docs.append((next_id, " ".join(toks)))
                copies.add(next_id)
                next_id += 1
                continue
            # 30% of words from a heavy-tailed head, the rest uniform
            toks = [words[min(int(rng.paretovariate(1.0)) - 1, VOCAB - 1)
                          if rng.random() < 0.3 else rng.randrange(VOCAB)]
                    for _ in range(rng.randint(50, 90))]
            if rng.random() < BOILERPLATE_SHARE:
                toks = boiler[rng.randrange(len(boiler))].split() + toks
            docs.append((next_id, " ".join(toks)))
            if rng.random() < CLUSTER_SHARE:
                for _ in range(rng.randint(1, 3)):
                    copy = list(toks)
                    if rng.random() >= EXACT_COPY_SHARE:
                        # one substituted word past the opening block:
                        # 3-shingle Jaccard with the original >= 0.85
                        pos = rng.randrange(BLOCK_WORDS, len(copy))
                        copy[pos] += "0"       # never a vocabulary word
                    pending.append(copy)
            next_id += 1
        self.docs = docs
        self.keep = {d for d, _ in docs if d not in copies}
        self.expect_lines = _line_dedup(docs)
        # vectors: uniform noise plus, per query, K planted neighbours
        nrng = np.random.default_rng(rng.randrange(1 << 30))
        corpus = nrng.standard_normal((self.n_vecs, DIM))
        queries = nrng.standard_normal((self.n_queries, DIM))
        self.planted: dict[int, set[int]] = {}
        slots = nrng.permutation(np.arange(40, self.n_vecs))
        for q in range(self.n_queries):
            ids = slots[q * K:(q + 1) * K]
            for i in ids:
                corpus[i] = queries[q] + 0.15 * nrng.standard_normal(DIM)
            self.planted[q] = {int(i) for i in ids}
        self.corpus = corpus.astype(np.float32)
        self.queries = queries.astype(np.float32)


def _line_dedup(docs) -> dict[int, tuple]:
    """Keep-first fixed-width block dedup, as line_deduplicated documents
    it: blocks of BLOCK_WORDS words, blocks under 5 words always kept, the
    first (id, block) occurrence of a block text kept, later ones cut."""
    seen: set[str] = set()
    out = {}
    for doc_id, text in sorted(docs):
        ws = text.split(" ")
        blocks = [" ".join(ws[i:i + BLOCK_WORDS])
                  for i in range(0, len(ws), BLOCK_WORDS)]
        kept, removed = [], 0
        for b in blocks:
            if len(b.split(" ")) < 5:
                kept.append(b)
            elif b in seen:
                removed += 1
            else:
                seen.add(b)
                kept.append(b)
        out[doc_id] = (len(blocks), removed, " ".join(kept))
    return out


class CurationBatch:
    name = "curation_batch"

    def __init__(self, spark, seed: int, tracer, jobs) -> None:
        self.spark, self.tracer, self.jobs = spark, tracer, jobs
        rng = random.Random(seed * 977 + 3)
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set[str] = set()
        while len(words) < VOCAB:
            words.add("".join(rng.choice(letters)
                              for _ in range(rng.randint(3, 8))))
        self.words = sorted(words)
        boiler = [" ".join(rng.choice(self.words) for _ in range(BLOCK_WORDS))
                  for _ in range(5)]
        self.shards = [Shard(rng, self.words, boiler, 1 + s * 10000)
                       for s in range(N_SHARDS)]
        self.warm_shard = Shard(rng, self.words, boiler, 1 + N_SHARDS * 10000,
                                WARMUP_DIVISOR)
        self.n_pass = 0
        self.pass_s: list[float] = []
        self.dedup_s: list[float] = []
        self.ann_s: list[float] = []
        self.recalls: list[float] = []
        self.dedup_jobs: list[dict] = []
        self.pairs: list[tuple[int, int]] = []
        self.cands_per_query: list[float] = []
        self.exact_ok: list[bool] = []

    def setup(self) -> None:
        root = fresh_dir(os.path.join(WORK_DIR, self.name))
        for i, sh in enumerate(self.shards + [self.warm_shard]):
            sh.path = os.path.join(root, f"shard{i:02d}")
            os.makedirs(sh.path)
            write_table(os.path.join(sh.path, "documents.parquet"),
                        docs_columns((i_, "web", t) for i_, t in sh.docs),
                        DOCS_SCHEMA)
            write_table(os.path.join(sh.path, "embeddings.parquet"),
                        {"vec_id": list(range(sh.n_vecs + sh.n_queries)),
                         "embedding": [v.tolist() for v in sh.corpus]
                         + [v.tolist() for v in sh.queries],
                         "label": [0] * sh.n_vecs + [1] * sh.n_queries},
                        EMB_SCHEMA)

    def _frames(self, sh: Shard):
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(
            os.path.join(sh.path, "documents.parquet"))
        emb = self.spark.read.parquet(
            os.path.join(sh.path, "embeddings.parquet"))
        corpus = emb.filter(F.col("vec_id") < sh.n_vecs).select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("corpus_vec"))
        queries = emb.filter(F.col("vec_id") >= sh.n_vecs).select(
            (F.col("vec_id") - sh.n_vecs).alias("query_id"),
            F.col("embedding").alias("query_vec"))
        return docs, queries, corpus

    def op(self, sh: Shard) -> tuple[int, int]:
        from axonops_schema_registry_spark.llm import CurationPipeline
        from axonops_schema_registry_spark.llm.similarity import (
            multiprobe_lsh_ann_topk,
        )
        from axonops_schema_registry_spark.operators.core import (
            release_plan_caches,
        )

        docs, queries, corpus = self._frames(sh)
        pipe = CurationPipeline(docs)
        self.tracer.new_op()
        t0 = time.perf_counter()
        with self.tracer.span("op.curation_pass"):
            with self.jobs.group() as js:
                with self.tracer.span("llm.dedup"):
                    kept = {r.doc_id for r in
                            pipe.deduplicated().select("doc_id").collect()}
            t1 = time.perf_counter()
            with self.tracer.span("llm.line_dedup"):
                lines = {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
                         for r in pipe.line_deduplicated().collect()}
            t2 = time.perf_counter()
            with self.tracer.span("llm.similarity"):
                top = multiprobe_lsh_ann_topk(queries, corpus, k=K).collect()
            t3 = time.perf_counter()
        release_plan_caches()
        self.pass_s.append(t3 - t0)
        self.dedup_s.append(t1 - t0)
        self.ann_s.append(t3 - t2)
        if js is not None:
            self.dedup_jobs.append(js)
        failed = 0
        if kept != sh.keep:
            failed += 1
            log(f"{sh.path}: dedup kept {len(kept)} docs, "
                f"{len(sh.keep)} expected")
        bad_lines = sum(1 for d, v in sh.expect_lines.items()
                        if lines.get(d) != v)
        if bad_lines or len(lines) != len(sh.expect_lines):
            failed += 1
            log(f"{sh.path}: line dedup differs on {bad_lines} docs")
        # every query's exact top-k is its planted neighbours
        got: dict[int, set] = {}
        for r in top:
            got.setdefault(r.query_id, set()).add(r.corpus_id)
        hits = sum(len(got.get(q, set()) & p) for q, p in sh.planted.items())
        recall = hits / float(K * len(sh.planted))
        self.recalls.append(recall)
        if recall < RECALL_FLOOR:
            failed += 1
            log(f"{sh.path}: ANN recall@{K} {recall:.3f} < {RECALL_FLOOR}")
        if self.tracer.enabled:
            self._trace_counts(sh, pipe, queries, corpus)
            if not self.exact_ok[-1]:
                failed += 1
                log(f"{sh.path}: cosine_topk differs from the planted set")
        return 3, failed

    def _trace_counts(self, sh, pipe, queries, corpus) -> None:
        """Traced runs only, after the pass is timed: the candidate volumes
        behind the pass, from separate calls of the same public operators,
        and the exact top-k the planted neighbours must equal."""
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.llm.dedup import (
            minhash_band_buckets,
        )
        from axonops_schema_registry_spark.llm.similarity import (
            cosine_topk,
            multiprobe_lsh_ann_topk,
        )
        from axonops_schema_registry_spark.operators.text import token_arrays

        b = minhash_band_buckets(token_arrays(pipe.docs, "doc_id", "text", 3))
        cand = (b.alias("a").join(b.alias("b"), ["band", "key"])
                .filter(F.col("a.id") < F.col("b.id"))
                .select("a.id", "b.id").distinct().count())
        verified = pipe.near_dup_pairs().count()
        every = multiprobe_lsh_ann_topk(queries, corpus, k=sh.n_vecs).count()
        self.pairs.append((cand, verified))
        self.cands_per_query.append(every / float(sh.n_queries))
        # the planted neighbours are the exact top-k by construction
        exact: dict[int, set] = {}
        for r in cosine_topk(queries, corpus, k=K).collect():
            exact.setdefault(r.query_id, set()).add(r.corpus_id)
        self.exact_ok.append(exact == sh.planted)

    def warmup(self) -> None:
        """The pass's three operator chains, concurrently, on the warm-up
        shard."""
        from axonops_schema_registry_spark.llm import CurationPipeline
        from axonops_schema_registry_spark.llm.similarity import (
            multiprobe_lsh_ann_topk,
        )
        from axonops_schema_registry_spark.operators.core import (
            release_plan_caches,
        )

        docs, queries, corpus = self._frames(self.warm_shard)
        pipe = CurationPipeline(docs)
        run_concurrently([
            lambda: pipe.deduplicated().select("doc_id").collect(),
            lambda: pipe.line_deduplicated().collect(),
            lambda: multiprobe_lsh_ann_topk(queries, corpus, k=K).collect()])
        release_plan_caches()

    def measure(self, seconds: float) -> dict:
        for lst in (self.pass_s, self.dedup_s, self.ann_s, self.recalls,
                    self.dedup_jobs, self.pairs, self.cands_per_query,
                    self.exact_ok):
            lst.clear()
        failed = attempted = 0
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while time.perf_counter() < deadline:
            n, f = self.op(self.shards[self.n_pass % N_SHARDS])
            self.n_pass += 1
            attempted += n
            failed += f
        wall = time.perf_counter() - t_start
        return {"attempted": attempted, "failed": failed,
                "throughput_per_s": len(self.pass_s) * DOCS_PER_SHARD / wall,
                "latency_p50_ms": 1000.0 * median(self.pass_s),
                "latency_p95_ms": 1000.0 * percentile(self.pass_s, 95)}

    def layer_metrics(self) -> dict:
        cand = sum(c for c, _ in self.pairs)
        ver = sum(v for _, v in self.pairs)
        return {
            "llm.dedup.exec_s": median(self.dedup_s),
            "llm.dedup.candidate_pairs": cand / max(1, len(self.pairs)),
            "llm.dedup.verified_pairs": ver / max(1, len(self.pairs)),
            "llm.dedup.verify_yield": ver / cand if cand else 0.0,
            "llm.dedup.tasks": median([j["tasks"] for j in self.dedup_jobs]),
            "llm.similarity.exec_s": median(self.ann_s),
            "llm.similarity.candidates_per_query": median(
                self.cands_per_query),
            "llm.similarity.recall_at_k": median(self.recalls),
        }

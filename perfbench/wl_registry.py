"""registry_read and registry_write: the schema-registry surface
(``api.RegistryAnalytics``, ``sql_surface``, ``registry.compat``,
``registry.registration``) driven as a single closed-loop client."""

from __future__ import annotations

import os
import random
import time
from typing import Callable

from common import WORK_DIR, log, median, percentile, run_concurrently
from gen_registry import FIELD_POOL, Corpus, camel
from stage import (SCHEMAS_SCHEMA, fresh_dir, schemas_columns, write_sf_dir,
                   write_table)


def udf_costs(corpus: Corpus, n: int = 200) -> dict:
    """Per-schema cost of the functions the registry's pandas UDFs wrap
    (fingerprint, field extraction), called in-process on a sample of the
    workload's own schemas: Python-worker code cannot be timed from the
    Spark driver."""
    from axonops_schema_registry_spark.registry.fields import extract_fields
    from axonops_schema_registry_spark.registry.spark_udfs import (
        canonical_fingerprint,
    )

    sample = [(r[3], r[2]) for r in corpus.rows()][:n]
    t0 = time.perf_counter()
    for text, stype in sample:
        canonical_fingerprint(text, stype, strict=True)
    t1 = time.perf_counter()
    for text, stype in sample:
        extract_fields(text, stype)
    t2 = time.perf_counter()
    return {"registry.spark_udfs.fingerprint_us": 1e6 * (t1 - t0) / len(sample),
            "registry.spark_udfs.extract_fields_us":
                1e6 * (t2 - t1) / len(sample)}


READ_SUBJECTS = 300
WRITE_SUBJECTS = 300
# analysis parameters rotate in a fixed order, so every run asks the same
# mix of result sizes: similarity thresholds, and field-pool ranks of the
# searched names (a common, a middling and a rare name)
SIMILARITY_THRESHOLDS = (0.3, 0.5, 0.7)
SEARCH_RANKS = (1, 5, 20)

# fixed request mix: 11 lookup, 3 check, 3 sql, 3 analysis (one each of
# search_fields, similar_subjects, statistics) per cycle of 20.  A run is a
# whole number of cycles, so every run serves exactly these shares.
READ_CYCLE = "LLCLSLALLCLSALLCLSLA"
CLASS_OF = {"L": "lookup", "C": "check", "S": "sql", "A": "analysis"}


def _stage_corpus(spark, corpus: Corpus, root: str, with_sql: bool):
    """Write the corpus (and, for reads, the SQL surface's table
    directory) under ``root``; return the RegistryAnalytics facade."""
    from axonops_schema_registry_spark.api import RegistryAnalytics

    fresh_dir(root)
    table = os.path.join(root, "schemas")
    os.makedirs(table)
    rows = list(corpus.rows())
    write_table(os.path.join(table, "part-00000.parquet"),
                schemas_columns(rows), SCHEMAS_SCHEMA)
    if with_sql:
        # the SQL surface derives its registry views from documents:
        # source = subject, text = schema_text, doc_id = schema_id
        write_sf_dir(os.path.join(root, "sf"),
                     [(r[5], r[0], r[3]) for r in rows])
    return RegistryAnalytics(spark, spark.read.parquet(table)), table


class RegistryRead:
    """Closed loop, one client, Zipf-popular subjects, four classes."""

    name = "registry_read"

    def __init__(self, spark, seed: int, tracer, jobs) -> None:
        self.spark, self.tracer, self.jobs = spark, tracer, jobs
        self.rng = random.Random(seed * 7919 + 1)
        self.corpus = Corpus(seed, READ_SUBJECTS)
        self.expect_similar = {t: self.corpus.expect_similar(t)
                               for t in SIMILARITY_THRESHOLDS}
        self.expect_stats = self.corpus.expect_statistics()
        self._search_cache: dict[str, set] = {}
        self.n_op = 0
        self.class_n = dict.fromkeys(CLASS_OF.values(), 0)
        self.lat: dict[str, list[float]] = {c: [] for c in CLASS_OF.values()}
        self.compat_ms: list[float] = []
        self.compat_compared = 0

    def setup(self) -> None:
        from axonops_schema_registry_spark.sql_surface import register_all

        root = os.path.join(WORK_DIR, self.name)
        self.reg, _ = _stage_corpus(self.spark, self.corpus, root, True)
        t0 = time.perf_counter()
        with self.tracer.span("sql_surface.register_all"):
            register_all(self.spark, os.path.join(root, "sf"))
        self.tracer.add("sql_surface.register_all_s",
                        time.perf_counter() - t0)

    # -- one request -------------------------------------------------------

    def _collect(self, method: str, make):
        with self.tracer.span(f"api.{method}.plan"):
            df = make()
        with self.tracer.span(f"api.{method}.exec"):
            return df.collect()

    def _lookup(self, k: int) -> Callable[[], bool]:
        s = self.corpus.pick(self.rng)
        if k % 2 == 0:
            rows = self._collect("latest", lambda: self.reg.latest(s.name))
            return lambda: ([(r.version, r.schema_text) for r in rows]
                            == [self.corpus.expect_latest(s)])
        rows = self._collect("history", lambda: self.reg.history(s.name))
        return lambda: ([(r.version, r.schema_text) for r in rows]
                        == self.corpus.expect_history(s))

    def _check(self, k: int) -> Callable[[], bool]:
        from axonops_schema_registry_spark.registry.compat import (
            check_compatibility,
        )

        s = self.corpus.pick(self.rng)
        kinds = ["add_optional", "add_required"]
        if s.stype == "AVRO" and s.live_idx()[-1] >= 1:
            kinds.append("strip_default")
        kind = kinds[k % len(kinds)]
        mode = ("BACKWARD", "BACKWARD_TRANSITIVE")[(k // 3) % 2]
        text, stype, expected = self.corpus.probe(s, kind)
        with self.tracer.span("api.check.exec"):
            ok, _ = self.reg.check(text, s.name, mode=mode, schema_type=stype)

        def verify() -> bool:
            if self.tracer.enabled:
                # the compat layer alone, called in-process on the same
                # history the facade collected
                hist = [t for _, t in self.corpus.expect_history(s)]
                t0 = time.perf_counter()
                with self.tracer.span("registry.compat.check"):
                    check_compatibility(text, hist, mode, stype)
                self.compat_ms.append(1000.0 * (time.perf_counter() - t0))
                self.compat_compared += (len(hist) if mode.endswith(
                    "TRANSITIVE") else 1)
            return ok == expected[mode]
        return verify

    def _analysis(self, k: int) -> Callable[[], bool]:
        which, turn = k % 3, k // 3
        if which == 0:
            base = FIELD_POOL[SEARCH_RANKS[turn % len(SEARCH_RANKS)]]
            term = (base, camel(base), base.replace("_", "-").title())[
                self.rng.randrange(3)]
            rows = self._collect("search_fields",
                                 lambda: self.reg.search_fields(term))
            def verify() -> bool:
                if term not in self._search_cache:
                    self._search_cache[term] = self.corpus.expect_search(term)
                return ({(r.subject, r.version, r.name) for r in rows}
                        == self._search_cache[term])
            return verify
        if which == 1:
            th = SIMILARITY_THRESHOLDS[turn % len(SIMILARITY_THRESHOLDS)]
            rows = self._collect("similar_subjects",
                                 lambda: self.reg.similar_subjects(th))
            return lambda: ({(r.subject_a, r.subject_b): round(r.jaccard, 6)
                             for r in rows} == self.expect_similar[th])
        rows = self._collect("statistics", self.reg.statistics)
        return lambda: ({r.schema_type: (r.n_subjects, r.n_versions)
                         for r in rows} == self.expect_stats)

    def _sql(self, k: int) -> Callable[[], bool]:
        if k % 2 == 0:
            s = self.corpus.pick(self.rng)
            q = ("SELECT max(version) AS v, count(*) AS n FROM registry_live "
                 f"WHERE subject = '{s.name}'")
            with self.tracer.span("sql_surface.exec"):
                rows = self.spark.sql(q).collect()
            return lambda: ([tuple(r) for r in rows] == [
                (self.corpus.expect_latest(s)[0], len(s.live_idx()))])
        dom = self.corpus.subjects[self.rng.randrange(
            len(self.corpus.subjects))].name.split("-")[0]
        q = ("SELECT subject, count(*) AS n FROM registry_corpus "
             f"WHERE subject LIKE '{dom}-%' AND deleted GROUP BY subject")
        with self.tracer.span("sql_surface.exec"):
            rows = self.spark.sql(q).collect()
        return lambda: {r.subject: r.n for r in rows} == {
            s.name: sum(s.deleted) for s in self.corpus.subjects
            if s.name.startswith(dom + "-") and any(s.deleted)}

    def op(self) -> tuple[str, float, bool]:
        cls = CLASS_OF[READ_CYCLE[self.n_op % len(READ_CYCLE)]]
        self.n_op += 1
        k = self.class_n[cls]
        self.class_n[cls] += 1
        fn = {"lookup": self._lookup, "check": self._check,
              "analysis": self._analysis, "sql": self._sql}[cls]
        self.tracer.new_op()
        with self.jobs.group() as js:
            t0 = time.perf_counter()
            with self.tracer.span(f"op.{cls}"):
                verify = fn(k)
            dt = time.perf_counter() - t0
        ok = verify()
        if not ok:
            log(f"{cls} #{k} returned a wrong answer")
        if js is not None:
            for key, v in js.items():
                self.tracer.add(f"session.{key}", v)
        return cls, dt, ok

    def warmup(self) -> None:
        """Every request variant once, concurrently: JIT, code generation
        and the Python workers behind the UDF-backed requests start here,
        unmeasured.  The variants draw their subjects from a generator of
        their own, so the measured requests are the same on every run."""
        measured_rng = self.rng
        self.rng = random.Random(self.rng.random())
        try:
            run_concurrently(
                [lambda fn=fn, k=k: fn(k)()
                 for fn, variants in ((self._analysis, 3), (self._lookup, 2),
                                      (self._check, 3), (self._sql, 2))
                 for k in range(variants)])
        finally:
            self.rng = measured_rng

    def measure(self, seconds: float) -> dict:
        for v in self.lat.values():
            v.clear()
        self.compat_ms.clear()
        self.compat_compared = 0
        lat_all: list[float] = []
        cycle_rates: list[float] = []
        failed = attempted = 0
        t_start = t_cycle = time.perf_counter()
        deadline = t_start + seconds
        # whole cycles only, so every run serves the same class mix
        while (time.perf_counter() < deadline
               or self.n_op % len(READ_CYCLE)):
            cls, dt, ok = self.op()
            attempted += 1
            failed += 0 if ok else 1
            lat_all.append(dt)
            self.lat[cls].append(dt)
            if self.n_op % len(READ_CYCLE) == 0:
                now = time.perf_counter()
                cycle_rates.append(len(READ_CYCLE) / (now - t_cycle))
                t_cycle = now
        self.tracer.add("session.ops", attempted)
        # the median over whole cycles: each cycle has the same class mix,
        # and one slow stretch moves the median less than the total
        return {"attempted": attempted, "failed": failed,
                "throughput_per_s": median(cycle_rates),
                "latency_p50_ms": 1000.0 * median(lat_all),
                "latency_p95_ms": 1000.0 * percentile(lat_all, 95)}

    def layer_metrics(self) -> dict:
        out = {f"{c}_p50_ms": 1000.0 * median(v) for c, v in self.lat.items()}
        out["registry.compat.check_ms"] = median(self.compat_ms)
        out["registry.compat.schemas_compared"] = self.compat_compared
        if self.tracer.enabled:
            out.update(udf_costs(self.corpus))
        return out


class RegistryWrite:
    """Closed loop, one client submitting register batches with planted
    outcome shares; accepted rows are appended to the corpus table and
    read back with latest()."""

    name = "registry_write"

    # per 40 rows: compatible adds, incompatible adds, transitive-only
    # incompatible adds, resubmitted latest versions, in-batch duplicate
    # pairs, writes to READONLY subjects
    PLAN = {"compatible": 16, "incompatible": 6, "transitive": 4,
            "dup_existing": 4, "dup_pairs": 3, "blocked": 4}
    # measured batches are BATCH_SCALE times PLAN (80 rows), large enough
    # that per-schema work shows next to the fixed cost of a batch; the
    # warm-up batch is PLAN itself: it starts the same code paths cheaper
    BATCH_SCALE = 2

    def __init__(self, spark, seed: int, tracer, jobs) -> None:
        self.spark, self.tracer, self.jobs = spark, tracer, jobs
        self.seed = seed
        self.n_batch = 0
        self.batch_lat: list[float] = []
        self.reg_jobs: list[dict] = []
        self.outcomes: dict[str, int] = {}

    def setup(self) -> None:
        self.corpus = Corpus(self.seed, WRITE_SUBJECTS)
        self.rng = random.Random(self.seed * 104729 + 7)
        subs = self.corpus.subjects
        order = list(range(len(subs)))
        self.rng.shuffle(order)
        n_ro = len(subs) // 12
        self.readonly = {subs[i].name for i in order[:n_ro]}
        avro_tr = [subs[i].name for i in order[n_ro:]
                   if subs[i].stype == "AVRO"]
        self.transitive = set(avro_tr[:len(avro_tr) // 3])
        root = os.path.join(WORK_DIR, self.name)
        self.reg, self.table = _stage_corpus(self.spark, self.corpus, root,
                                             False)
        self.modes = self.spark.createDataFrame(
            [(None, "READWRITE")] + [(s, "READONLY")
                                     for s in sorted(self.readonly)],
            "subject string, mode string")
        self.levels = self.spark.createDataFrame(
            [(None, "BACKWARD")] + [(s, "BACKWARD_TRANSITIVE")
                                    for s in sorted(self.transitive)],
            "subject string, level string")

    # -- one batch ---------------------------------------------------------

    def _plan_batch(self, scale: int):
        """Incoming rows (subject, seq, schema_type, schema_text) and the
        expected {seq: (status, assigned_version)} plus the corpus rows
        that acceptance appends."""
        c, rng = self.corpus, self.rng
        plan = {k: n * scale for k, n in self.PLAN.items()}
        writable = [s for s in c.subjects
                    if s.name not in self.readonly and s.live_idx()]
        used: set[str] = set()

        def take(pred=lambda s: True):
            for _ in range(50):
                s = c.pick(rng)
                if s.name not in used and s.name not in self.readonly \
                        and pred(s):
                    used.add(s.name)
                    return s
            s = rng.choice([s for s in writable
                            if s.name not in used and pred(s)])
            used.add(s.name)
            return s

        # each item is a run of consecutive rows (subject, text, expected
        # status, added field); an in-batch duplicate pair stays in order
        items = []
        for _ in range(plan["compatible"]):
            s = take()
            f = c.fresh_field(s)
            items.append([(s, c.probe(s, "add_optional", f)[0],
                           "registered", f)])
        for _ in range(plan["incompatible"]):
            s = take()
            items.append([(s, c.probe(s, "add_required",
                                      c.fresh_field(s))[0],
                           "incompatible", None)])
        for _ in range(plan["transitive"]):
            s = take(lambda s: s.name in self.transitive
                     and 0 in s.live_idx() and s.live_idx()[-1] >= 1)
            items.append([(s, c.probe(s, "strip_default")[0],
                           "incompatible", None)])
        for _ in range(plan["dup_existing"]):
            s = take()
            items.append([(s, c.text(s, s.live_idx()[-1]), "duplicate",
                           None)])
        for _ in range(plan["dup_pairs"]):
            s = take()
            f = c.fresh_field(s)
            txt = c.probe(s, "add_optional", f)[0]
            items.append([(s, txt, "registered", f),
                          (s, txt, "duplicate", None)])
        ro = [c.by_name[n] for n in sorted(self.readonly)
              if c.by_name[n].live_idx()]
        for s in rng.sample(ro, plan["blocked"]):
            items.append([(s, c.probe(s, "add_optional")[0],
                           "readonly_mode", None)])
        rng.shuffle(items)
        order = [row for item in items for row in item]
        incoming, expected, appended = [], {}, []
        for seq, (s, txt, status, f) in enumerate(order):
            incoming.append((s.name, seq, s.stype, txt))
            version = None
            if status == "registered":
                appended.append(c.register(s, f))
                version = appended[-1][1]
            expected[seq] = (status, version)
        return incoming, expected, appended

    def op(self, scale: int) -> tuple[float, int, int, int]:
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.operators.core import (
            release_plan_caches,
        )

        incoming, expected, appended = self._plan_batch(scale)
        inc_df = self.spark.createDataFrame(
            incoming, "subject string, seq long, schema_type string, "
                      "schema_text string")
        self.tracer.new_op()
        with self.jobs.group() as js:
            t0 = time.perf_counter()
            with self.tracer.span("op.register"):
                with self.tracer.span("api.register.plan"):
                    out = self.reg.register(inc_df, modes=self.modes,
                                            levels=self.levels)
                with self.tracer.span("api.register.exec"):
                    rows = out.collect()
            dt = time.perf_counter() - t0
        if js is not None:
            self.reg_jobs.append(js)
        release_plan_caches()
        got = {r.seq: (r.status, r.assigned_version) for r in rows}
        failed = sum(1 for seq, want in expected.items()
                     if got.get(seq) != want)
        failed += sum(1 for seq in got if seq not in expected)
        for status, _ in got.values():
            self.outcomes[status] = self.outcomes.get(status, 0) + 1
        # append what the registry accepted, then read it back
        write_table(os.path.join(self.table,
                                 f"part-{self.n_batch + 1:05d}.parquet"),
                    schemas_columns(appended), SCHEMAS_SCHEMA)
        self.n_batch += 1
        from axonops_schema_registry_spark.api import RegistryAnalytics

        self.reg = RegistryAnalytics(self.spark,
                                     self.spark.read.parquet(self.table))
        written = sorted({r[0] for r in appended})
        with self.tracer.span("op.read_back"):
            back = {r.subject: r.version for r in self.reg.latest()
                    .filter(F.col("subject").isin(written)).collect()}
        want_back = {r[0]: r[1] for r in appended}
        failed += sum(1 for s, v in want_back.items() if back.get(s) != v)
        return dt, len(incoming), len(incoming) + len(written), failed

    def warmup(self) -> None:
        self.op(1)

    def measure(self, seconds: float) -> dict:
        self.batch_lat.clear()
        self.reg_jobs.clear()
        self.outcomes.clear()
        failed = attempted = submitted = 0
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while time.perf_counter() < deadline:
            dt, n_rows, n_ops, n_failed = self.op(self.BATCH_SCALE)
            self.batch_lat.append(dt)
            attempted += n_ops
            failed += n_failed
            submitted += n_rows
        wall = time.perf_counter() - t_start
        return {"attempted": attempted, "failed": failed,
                "throughput_per_s": submitted / wall,
                "latency_p50_ms": 1000.0 * median(self.batch_lat),
                "latency_p95_ms": 1000.0 * percentile(self.batch_lat, 95)}

    def layer_metrics(self) -> dict:
        out = {"registry.registration.exec_s":
               median(self.batch_lat) if self.batch_lat else 0.0,
               "registry.registration.registered":
                   self.outcomes.get("registered", 0),
               "registry.registration.duplicate":
                   self.outcomes.get("duplicate", 0),
               "registry.registration.incompatible":
                   self.outcomes.get("incompatible", 0),
               "registry.registration.blocked":
                   self.outcomes.get("readonly_mode", 0)}
        if self.reg_jobs:
            out["registry.registration.jobs"] = median(
                [j["jobs"] for j in self.reg_jobs])
            out["registry.registration.tasks"] = median(
                [j["tasks"] for j in self.reg_jobs])
        if self.tracer.enabled:
            out.update(udf_costs(self.corpus))
        return out

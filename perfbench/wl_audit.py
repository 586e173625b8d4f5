"""audit_stream: generated audit events through the streaming layer.

The timed query:
    audit_stream_from_events -> dedup_by_request_id
        -> foreachBatch sink formatting JSON and CEF lines

Phase 1 drains a preloaded backlog (throughput).  Phase 2 is an open
loop: one generator thread drops a file every FILE_PERIOD_S seconds,
whatever the engine is doing; an event's creation time is its file's
scheduled drop time and its latency runs until the events sink has
emitted it (latency).

Traced runs then stream the same files through windowed_metrics and
rate_limit_flags (update mode, collected) and check them against the
generator's counts and against the batch computation.  These aggregates
read the raw audit stream, re-sent events included: the package sets a
watermark in each of these functions, and Spark refuses to redefine one,
so dedup_by_request_id cannot feed windowed_metrics in one query.
"""

from __future__ import annotations

import os
import random
import re
import threading
import time
from collections import Counter
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from common import WORK_DIR, log, median, weighted_percentile
from gen_registry import zipf_weights
from stage import fresh_dir

# small files, so that every micro-batch of the open loop takes several,
# dropped evenly over the time it waited: the latency median then does not
# hang on where one file happened to fall against the batch schedule
EVENTS_PER_FILE = 50
FILE_SPAN_S = 0.4             # event time one file covers
BACKLOG_FILES = 40            # drained in one trigger
MAX_FILES_PER_TRIGGER = 40
FILE_PERIOD_S = 0.25          # open-loop drop interval (fixed rate)
N_ACTORS = 200
EVENT_TYPES = ("view", "click", "register", "lookup", "error")
TYPE_WEIGHTS = (40, 25, 15, 15, 5)
DUP_SHARE = 0.03              # re-sent events (same request id)
LATE_SHARE = 0.05             # out-of-order events, late by 1-20 s
METRICS_WINDOW = "10 seconds"
WATERMARK = "30 seconds"
T0 = datetime(2024, 1, 1)

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])

_EVENT_ID = re.compile(r'"event_id":(\d+)')


class EventGen:
    """Seeded audit events, one file's worth at a time, plus the expected
    distinct events (request id -> (actor, type, ts))."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed * 31 + 5)
        self.actor_w = zipf_weights(N_ACTORS, 1.0)
        self.expected: dict[str, tuple] = {}
        self.all_rows: list[tuple] = []
        self.prev: list[tuple] = []

    def file_rows(self, f: int) -> list[tuple]:
        rng = self.rng
        base = T0 + timedelta(seconds=f * FILE_SPAN_S)
        rows = []
        for i in range(EVENTS_PER_FILE):
            if self.prev and rng.random() < DUP_SHARE:
                rows.append(rng.choice(self.prev))      # re-sent event
                continue
            eid = f * EVENTS_PER_FILE + i
            off = FILE_SPAN_S * i / EVENTS_PER_FILE
            if rng.random() < LATE_SHARE:
                off -= rng.uniform(1.0, 20.0)
            ts = base + timedelta(microseconds=int(off * 1e6))
            actor = rng.choices(range(N_ACTORS), self.actor_w)[0]
            etype = rng.choices(EVENT_TYPES, TYPE_WEIGHTS)[0]
            row = (eid, ts, actor, etype, rng.randrange(1000) / 10.0, "{}")
            rows.append(row)
            self.expected[f"{actor}-{eid}"] = (actor, etype, ts, f)
        self.prev = rows
        self.all_rows.extend(rows)
        return rows

    @staticmethod
    def write(rows: list[tuple], path: str) -> None:
        cols = list(zip(*rows))
        pq.write_table(pa.table(dict(zip(EVENT_SCHEMA.names, map(list, cols))),
                                schema=EVENT_SCHEMA), path)


def _drop(rows, src: str, f: int) -> None:
    """Atomically publish one event file into the source directory."""
    tmp = os.path.join(os.path.dirname(src), f"_incoming-{f:05d}.parquet")
    EventGen.write(rows, tmp)
    os.rename(tmp, os.path.join(src, f"events-{f:05d}.parquet"))


def _window_start(ts: datetime, seconds: int) -> int:
    epoch = int((ts - datetime(1970, 1, 1)).total_seconds() // 1)
    return epoch - epoch % seconds


class AuditStream:
    name = "audit_stream"

    def __init__(self, spark, seed: int, tracer, jobs) -> None:
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.gen = EventGen(seed)
        self.backlog = [self.gen.file_rows(f) for f in range(BACKLOG_FILES)]
        self.lock = threading.Lock()

    def setup(self) -> None:
        self.root = fresh_dir(os.path.join(WORK_DIR, self.name))
        self.src = os.path.join(self.root, "src")
        os.makedirs(self.src)
        for f, rows in enumerate(self.backlog):
            _drop(rows, self.src, f)

    def _audit(self, src: str):
        from axonops_schema_registry_spark.streaming.audit import (
            audit_stream_from_events,
        )

        return audit_stream_from_events(self.spark, src,
                                        MAX_FILES_PER_TRIGGER)

    def _start(self, src: str, ckpt: str, state: dict):
        """The timed query: deduplicated events, formatted as JSON and CEF
        lines by a foreachBatch sink."""
        from axonops_schema_registry_spark.streaming.audit import (
            cef_format,
            dedup_by_request_id,
            json_format,
        )

        tracer = self.tracer

        def events_sink(df, epoch):
            t0 = time.perf_counter()
            with tracer.span("streaming.sink"):
                df.persist()          # two outputs from one micro-batch
                lines = [r.line for r in json_format(df).collect()]
                n_cef = len(cef_format(df).collect())
                df.unpersist()
            now = time.perf_counter()
            ids = [int(m.group(1)) for m in map(_EVENT_ID.search, lines)]
            with self.lock:
                state["sink_s"] += now - t0
                state["emitted"].extend(ids)
                state["emit_at"].append((now, ids))
                state["cef"] += n_cef
                if ids:
                    top = max(i // EVENTS_PER_FILE for i in ids)
                    state["done_file"] = max(state["done_file"], top)
                    state["backlog_max"] = max(
                        state["backlog_max"],
                        state["dropped"] - 1 - state["done_file"])

        return (dedup_by_request_id(self._audit(src), WATERMARK)
                .writeStream.foreachBatch(events_sink)
                .option("checkpointLocation", ckpt)
                .start())

    @staticmethod
    def _new_state() -> dict:
        return {"emitted": [], "emit_at": [], "cef": 0, "sink_s": 0.0,
                "done_file": -1, "dropped": 0, "backlog_max": 0}

    def warmup(self) -> None:
        """One short run of the query on its own directory, so code
        generation and state-store start-up are not measured."""
        wdir = fresh_dir(os.path.join(WORK_DIR, self.name + "-warmup"))
        src = os.path.join(wdir, "src")
        os.makedirs(src)
        gen = EventGen(self.seed + 1000)
        for f in range(2):
            _drop(gen.file_rows(f), src, f)
        q = self._start(src, os.path.join(wdir, "ckpt"), self._new_state())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def measure(self, seconds: float) -> dict:
        state = self._new_state()
        state["dropped"] = BACKLOG_FILES
        n_files = BACKLOG_FILES + int(seconds / FILE_PERIOD_S)
        # rows of the open-loop files are generated up front so the
        # generator thread only writes
        pending = [self.gen.file_rows(f)
                   for f in range(BACKLOG_FILES, n_files)]
        sched: dict[int, float] = {}
        late: list[float] = []
        t_start = time.perf_counter()
        q = self._start(self.src, os.path.join(self.root, "ckpt"), state)
        try:
            q.processAllAvailable()
            drain_s = time.perf_counter() - t_start

            def generate():
                t_open = time.perf_counter()
                for k, rows in enumerate(pending):
                    due = t_open + k * FILE_PERIOD_S
                    pause = due - time.perf_counter()
                    if pause > 0:
                        time.sleep(pause)
                    f = BACKLOG_FILES + k
                    sched[f] = due
                    _drop(rows, self.src, f)
                    late.append(time.perf_counter() - due)
                    with self.lock:
                        state["dropped"] = f + 1

            gen = threading.Thread(target=generate, name="audit-generator")
            gen.start()
            gen.join()
            q.processAllAvailable()
            self.progress = list(q.recentProgress)
        finally:
            q.stop()
        res = self._results(state, sched, late, drain_s)
        if self.tracer.enabled:
            res["failed"] += self._check_aggregates()
        return res

    # -- checks and metrics --------------------------------------------------

    def _results(self, state, sched, late, drain_s) -> dict:
        """Every distinct event exactly once in JSON and in CEF; open-loop
        latency per event, from its file's scheduled drop to emission."""
        want = {int(k.split("-")[1]) for k in self.gen.expected}
        got = Counter(state["emitted"])
        failed = sum(1 for i in want if got.get(i) != 1)
        failed += sum(1 for i in got if i not in want)
        if state["cef"] != len(want):
            failed += 1
        if failed:
            log(f"events sink: {len(state['emitted'])} emitted, "
                f"{len(want)} distinct events expected, "
                f"{state['cef']} CEF lines")
        pairs = []
        for now, ids in state["emit_at"]:
            per_file = Counter(i // EVENTS_PER_FILE for i in ids)
            pairs.extend((1000.0 * (now - sched[f]), n)
                         for f, n in per_file.items() if f in sched)
        self.sink_s = state["sink_s"]
        self.backlog_max = state["backlog_max"]
        self.late_max_ms = 1000.0 * max(late) if late else 0.0
        return {"attempted": len(want) + 1, "failed": failed,
                "throughput_per_s": BACKLOG_FILES * EVENTS_PER_FILE / drain_s,
                "latency_p50_ms": weighted_percentile(pairs, 50),
                "latency_p95_ms": weighted_percentile(pairs, 95)}

    def _check_aggregates(self) -> int:
        """Traced runs only: windowed_metrics and rate_limit_flags streamed
        over every file of the run, against the generator's counts, and the
        streamed p95 against the same function run in batch mode."""
        from pyspark.sql import functions as F

        from axonops_schema_registry_spark.streaming.audit import (
            normalize_audit,
            rate_limit_flags,
            windowed_metrics,
        )

        def collector(key_cols, out):
            def sink(df, epoch):
                rows = df.withColumn(key_cols[0], F.col(key_cols[0])
                                     .cast("long")).collect()
                with self.lock:
                    for r in rows:
                        out[tuple(r[c] for c in key_cols)] = r.asDict()
            return sink

        streamed_m: dict = {}
        streamed_f: dict = {}
        audit = self._audit(self.src)
        ckpt = os.path.join(self.root, "ckpt-aggregates")
        queries = [
            windowed_metrics(audit, METRICS_WINDOW, WATERMARK)
            .writeStream.outputMode("update")
            .foreachBatch(collector(["window_start", "event_type"],
                                    streamed_m))
            .option("checkpointLocation", os.path.join(ckpt, "metrics"))
            .start(),
            rate_limit_flags(audit, "1 minute", WATERMARK)
            .writeStream.outputMode("update")
            .foreachBatch(collector(["window_start", "actor_id"],
                                    streamed_f))
            .option("checkpointLocation", os.path.join(ckpt, "flags"))
            .start(),
        ]
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        wsec = int(METRICS_WINDOW.split()[0])
        metrics: dict[tuple, list] = {}
        flags: dict[tuple, int] = {}
        for _, ts, actor, etype, _, _ in self.gen.all_rows:
            m = metrics.setdefault((_window_start(ts, wsec), etype), [0, 0])
            m[0] += 1
            m[1] += etype == "error"
            key = (_window_start(ts, 60), actor)
            flags[key] = flags.get(key, 0) + 1
        failed = 0
        got_m = {k: [v["n_events"], v["n_failures"]]
                 for k, v in streamed_m.items()}
        if got_m != metrics:
            failed += 1
            log(f"windowed_metrics: {len(got_m)} groups streamed, "
                f"{len(metrics)} expected")
        got_f = {k: (v["n_requests"], v["rate_limited"])
                 for k, v in streamed_f.items()}
        if got_f != {k: (n, n > 10) for k, n in flags.items()}:
            failed += 1
            log("rate_limit_flags differ from the expected counts")
        batch = windowed_metrics(
            normalize_audit(self.spark.read.parquet(self.src)),
            METRICS_WINDOW, WATERMARK)
        p95 = {(r.window_start, r.event_type): r.p95_value
               for r in batch.selectExpr("CAST(window_start AS LONG) AS "
                                         "window_start", "event_type",
                                         "p95_value").collect()}
        if p95 != {k: v["p95_value"] for k, v in streamed_m.items()}:
            failed += 1
            log("streamed p95_value differs from the batch computation")
        return failed

    def layer_metrics(self) -> dict:
        def dur(p, key):
            return p.get("durationMs", {}).get(key, 0)

        allp = self.progress
        stateful = [op for p in allp for op in p.get("stateOperators", [])]
        last_state = allp[-1].get("stateOperators", []) if allp else []
        return {
            "streaming.batches": len(allp),
            "streaming.rows_per_batch": median(
                [p.get("numInputRows", 0) for p in allp]),
            "streaming.trigger_ms": median(
                [dur(p, "triggerExecution") for p in allp]),
            "streaming.add_batch_ms": median(
                [dur(p, "addBatch") for p in allp]),
            "streaming.planning_ms": median(
                [dur(p, "queryPlanning") for p in allp]),
            "streaming.offset_ms": median(
                [dur(p, "latestOffset") + dur(p, "getBatch") for p in allp]),
            "streaming.wal_commit_ms": median(
                [dur(p, "walCommit") + dur(p, "commitOffsets")
                 for p in allp]),
            "streaming.sink_ms": 1000.0 * self.sink_s / max(1, len(allp)),
            "streaming.backlog_files_max": self.backlog_max,
            "streaming.gen_late_ms_max": self.late_max_ms,
            "streaming.state_rows": sum(op.get("numRowsTotal", 0)
                                        for op in last_state),
            "streaming.state_bytes": sum(op.get("memoryUsedBytes", 0)
                                         for op in last_state),
            "streaming.dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0) for op in stateful),
        }

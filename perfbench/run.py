"""Benchmark entry point.

    python3 perfbench/run.py --workload registry_read --seed 1 \
        --seconds 4 --trace 0

Runs one workload against the package in the current directory and prints,
as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans to .bench_work/trace-<workload>-<seed>.json).
Everything else the run prints (Spark's own logging included) goes to
stderr.  See perfbench/README.md for what each workload measures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())     # the package under test

from common import (WORK_DIR, JobCounter, RssSampler, Tracer,  # noqa: E402
                    log, median, prepare_environment, process_tree,
                    start_session)

WORKLOADS = {
    "registry_read": ("wl_registry", "RegistryRead"),
    "registry_write": ("wl_registry", "RegistryWrite"),
    "audit_stream": ("wl_audit", "AuditStream"),
    "curation_batch": ("wl_curation", "CurationBatch"),
}

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    "latency_p95_ms": "ms",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.failed_tasks": "count",
    "catalog.load_calls": "count",
    "catalog.load_ms": "ms",
    "api.latest.plan_ms": "ms",
    "api.latest.exec_ms": "ms",
    "api.history.plan_ms": "ms",
    "api.history.exec_ms": "ms",
    "api.check.exec_ms": "ms",
    "api.search_fields.plan_ms": "ms",
    "api.search_fields.exec_ms": "ms",
    "api.similar_subjects.plan_ms": "ms",
    "api.similar_subjects.exec_ms": "ms",
    "api.statistics.plan_ms": "ms",
    "api.statistics.exec_ms": "ms",
    "api.register.plan_ms": "ms",
    "api.register.exec_ms": "ms",
    "lookup_p50_ms": "ms",
    "check_p50_ms": "ms",
    "analysis_p50_ms": "ms",
    "sql_p50_ms": "ms",
    "sql_surface.register_all_s": "s",
    "sql_surface.exec_ms": "ms",
    "registry.compat.check_ms": "ms",
    "registry.compat.schemas_compared": "count",
    "registry.spark_udfs.fingerprint_us": "us",
    "registry.spark_udfs.extract_fields_us": "us",
    "registry.registration.exec_s": "s",
    "registry.registration.jobs": "count",
    "registry.registration.tasks": "count",
    "registry.registration.registered": "count",
    "registry.registration.duplicate": "count",
    "registry.registration.incompatible": "count",
    "registry.registration.blocked": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.backlog_files_max": "count",
    "streaming.gen_late_ms_max": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.dropped_by_watermark": "count",
    "llm.dedup.exec_s": "s",
    "llm.dedup.candidate_pairs": "count",
    "llm.dedup.verified_pairs": "count",
    "llm.dedup.verify_yield": "ratio",
    "llm.dedup.tasks": "count",
    "llm.similarity.exec_s": "s",
    "llm.similarity.candidates_per_query": "count",
    "llm.similarity.recall_at_k": "ratio",
    "failed_frac": "ratio",
    "trace.latency_p50_ms": "ms",
    "trace.bookkeeping_pct": "%",
    "self_s.bench": "s",
    "self_s.api": "s",
    "self_s.sql_surface": "s",
    "self_s.catalog": "s",
    "self_s.registry": "s",
    "self_s.streaming": "s",
    "self_s.llm": "s",
}

#: span-name prefix -> layer whose self time it counts toward
LAYER_OF_PREFIX = {"op": "bench", "api": "api", "sql_surface": "sql_surface",
                   "catalog": "catalog", "registry": "registry",
                   "streaming": "streaming", "llm": "llm"}


def instrument_catalog(tracer: Tracer) -> None:
    """Traced runs only: wrap the catalog's table loader (as bound in every
    module that calls it) with a span and a call counter."""
    import axonops_schema_registry_spark.catalog as catalog
    import axonops_schema_registry_spark.registry.model as model

    inner = catalog.load_table

    def load_table(spark, sf_dir, name):
        t0 = time.perf_counter()
        with tracer.span("catalog.load_table"):
            df = inner(spark, sf_dir, name)
        tracer.add("catalog.load_calls", 1)
        tracer.add("catalog.load_ms", 1000.0 * (time.perf_counter() - t0))
        return df

    catalog.load_table = load_table
    model.load_table = load_table


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_for_exit(pids, timeout: float = 30.0) -> None:
    """Wait until the processes the run started have ended: the PySpark
    daemon and its workers outlive the JVM that forked them by a moment."""
    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(map(alive, pids)):
        if time.monotonic() > deadline:
            log(f"processes still running: {[p for p in pids if alive(p)]}")
            return
        time.sleep(0.05)


def layer_metrics(tracer: Tracer, wl, res: dict, start_s: float,
                  measured_s: float, peak_rss_mb: float) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["peak_rss_mb"] = peak_rss_mb
    out["session.start_s"] = start_s
    ops = max(1.0, tracer.counters.get("session.ops", 0.0))
    for key in ("jobs", "stages", "tasks"):
        out[f"session.{key}_per_op"] = tracer.counters.get(
            f"session.{key}", 0.0) / ops
    out["session.failed_tasks"] = tracer.counters.get(
        "session.failed_tasks", 0.0)
    out["catalog.load_calls"] = tracer.counters.get("catalog.load_calls", 0)
    out["catalog.load_ms"] = tracer.counters.get("catalog.load_ms", 0.0)
    out["sql_surface.register_all_s"] = tracer.counters.get(
        "sql_surface.register_all_s", 0.0)
    for name in PER_LAYER:
        if name.startswith("api.") or name == "sql_surface.exec_ms":
            span = name.rsplit("_ms", 1)[0]
            vals = tracer.durations_ms(span)
            out[name] = median(vals) if vals else 0.0
    for span, secs in tracer.self_time_s().items():
        layer = LAYER_OF_PREFIX.get(span.split(".", 1)[0])
        if layer:
            out[f"self_s.{layer}"] += secs
    out.update(wl.layer_metrics())
    out["latency_p95_ms"] = res["latency_p95_ms"]
    out["failed_frac"] = res["failed"] / max(1, res["attempted"])
    out["trace.latency_p50_ms"] = res["latency_p50_ms"]
    out["trace.bookkeeping_pct"] = 100.0 * tracer.overhead_s / measured_s
    return out


def run(args) -> dict:
    prepare_environment()
    try:
        importlib.import_module("axonops_schema_registry_spark")
    except ImportError as exc:
        raise SystemExit(f"package under test not importable: {exc}")
    module, cls = WORKLOADS[args.workload]
    tracer = Tracer(args.trace == 1)
    sampler = RssSampler()
    spark, start_s = start_session()
    try:
        if tracer.enabled:
            instrument_catalog(tracer)
        wl = getattr(importlib.import_module(module), cls)(
            spark, args.seed, tracer, JobCounter(spark, tracer))
        t0 = time.perf_counter()
        wl.setup()
        stage_s = time.perf_counter() - t0
        # warm-up runs some requests concurrently and its spans would be
        # discarded anyway, so it runs untraced
        tracer.enabled = False
        wl.warmup()
        tracer.enabled = args.trace == 1
        tracer.start_measuring()
        if tracer.enabled:
            sampler.start()
        t1 = time.perf_counter()
        res = wl.measure(args.seconds)
        measured_s = time.perf_counter() - t1
        sampler.stop()
        log(f"start {start_s:.2f}s, set-up {stage_s:.2f}s, "
            f"warm-up {t1 - t0 - stage_s:.2f}s, measured {measured_s:.2f}s, "
            f"{res['attempted']} ops, {res['failed']} failed")
        if tracer.enabled:
            metrics = layer_metrics(tracer, wl, res, start_s, measured_s,
                                    sampler.peak_mb())
            tracer.dump(os.path.join(
                WORK_DIR, f"trace-{args.workload}-{args.seed}.json"))
            units = PER_LAYER
        else:
            metrics = {"setup_s": start_s + stage_s,
                       "throughput_per_s": res["throughput_per_s"],
                       "latency_p50_ms": res["latency_p50_ms"]}
            units = END_TO_END
    finally:
        sampler.stop()
        children = [p for p in process_tree() if p != os.getpid()]
        stop_session(spark)
        wait_for_exit(children)
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # stdout carries only the result line: the JVM and every library
    # inherit a stdout that points at stderr
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args)
    except SystemExit as exc:
        print(exc, file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())

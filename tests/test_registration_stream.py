"""Continuous registration: cross-batch duplicate detection, version
continuity, and compat gating against the accumulated corpus."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from axonops_schema_registry_spark.registry.model import (
    AVRO_USER_V1,
    AVRO_USER_V2,
    AVRO_USER_V2_BAD,
    AVRO_USER_V3,
    fixture_schemas,
)
from axonops_schema_registry_spark.streaming.registration_stream import (
    StreamingRegistry,
    run_registration_stream,
)


def _write_requests(path: str, rows: list[tuple]) -> None:
    pdf = pd.DataFrame(rows, columns=["subject", "seq", "schema_type",
                                      "schema_text"])
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def test_streaming_registration_accumulates(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    req_dir = str(tmp_path / "requests")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(req_dir)

    registry = StreamingRegistry(spark, corpus_path, mode="BACKWARD",
                                 track_statuses=True)
    registry.bootstrap(fixture_schemas(spark))

    # batch 1: a new version for user-value; batch 2 re-sends the SAME
    # schema (cross-batch duplicate) plus an incompatible one
    _write_requests(os.path.join(req_dir, "b1.parquet"),
                    [("user-value", 1, "AVRO", AVRO_USER_V3)])
    _write_requests(os.path.join(req_dir, "b2.parquet"),
                    [("user-value", 2, "AVRO", AVRO_USER_V3),
                     ("metrics-value", 3, "AVRO", AVRO_USER_V1)])

    q = run_registration_stream(spark, req_dir, registry, ckpt)
    q.awaitTermination(180)

    by_seq = {r.seq: r for r in registry.statuses}
    assert by_seq[1].status == "registered" and \
        by_seq[1].assigned_version == 3
    # the SAME schema in a later batch is a duplicate — state persisted
    assert by_seq[2].status == "duplicate"
    assert by_seq[3].status == "registered" and \
        by_seq[3].assigned_version == 1

    # corpus table reflects the accepted registrations
    corpus = registry.corpus()
    assert corpus.filter((F.col("subject") == "user-value")
                         & (F.col("version") == 3)).count() == 1
    assert corpus.filter(F.col("subject") == "metrics-value").count() == 1


def test_streaming_registration_status_sink_table(spark, tmp_path):
    """The scale path: statuses append to a parquet status table instead
    of riding the driver (round-1 verdict: per-batch collect is test
    scaffolding only).  Same outcomes, nothing in self.statuses."""
    corpus_path = str(tmp_path / "corpus3")
    req_dir = str(tmp_path / "requests3")
    ckpt = str(tmp_path / "ckpt3")
    status_path = str(tmp_path / "statuses3")
    os.makedirs(req_dir)

    registry = StreamingRegistry(spark, corpus_path, mode="BACKWARD",
                                 status_path=status_path)
    registry.bootstrap(fixture_schemas(spark))
    _write_requests(os.path.join(req_dir, "b1.parquet"),
                    [("user-value", 1, "AVRO", AVRO_USER_V3)])
    _write_requests(os.path.join(req_dir, "b2.parquet"),
                    [("user-value", 2, "AVRO", AVRO_USER_V3)])
    q = run_registration_stream(spark, req_dir, registry, ckpt)
    q.awaitTermination(180)

    assert registry.statuses == []  # nothing collected on the driver
    statuses = {r.seq: r for r in
                spark.read.parquet(status_path).collect()}
    assert statuses[1].status == "registered"
    assert statuses[2].status == "duplicate"
    assert statuses[1].epoch != statuses[2].epoch


def test_streaming_registration_compat_gate(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus2")
    req_dir = str(tmp_path / "requests2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(req_dir)

    registry = StreamingRegistry(spark, corpus_path,
                                 mode="BACKWARD_TRANSITIVE",
                                 track_statuses=True)
    registry.bootstrap(fixture_schemas(spark))
    _write_requests(os.path.join(req_dir, "b1.parquet"),
                    [("user-value", 1, "AVRO", AVRO_USER_V2_BAD)])
    q = run_registration_stream(spark, req_dir, registry, ckpt)
    q.awaitTermination(180)
    assert registry.statuses[0].status == "incompatible"
    assert registry.corpus().filter(F.col("subject") == "user-value") \
        .count() == 2  # unchanged


def test_streaming_registration_releases_batch_caches(spark, tmp_path):
    """Each micro-batch caches its input and its result; both must be
    released when the batch ends, the empty-batch early return included,
    or a long-running stream pins two frames per trigger."""
    corpus_path = str(tmp_path / "corpus4")
    req_dir = str(tmp_path / "requests4")
    ckpt = str(tmp_path / "ckpt4")
    os.makedirs(req_dir)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()

    registry = StreamingRegistry(spark, corpus_path,
                                 mode="BACKWARD_TRANSITIVE",
                                 track_statuses=True)
    registry.bootstrap(fixture_schemas(spark))
    _write_requests(os.path.join(req_dir, "b1.parquet"),
                    [("user-value", 1, "AVRO", AVRO_USER_V3)])
    _write_requests(os.path.join(req_dir, "b2.parquet"),
                    [("user-value", 2, "AVRO", AVRO_USER_V2_BAD)])
    # an empty request file: an empty micro-batch (the early return)
    pq.write_table(pa.table({"subject": pa.array([], pa.string()),
                             "seq": pa.array([], pa.int64()),
                             "schema_type": pa.array([], pa.string()),
                             "schema_text": pa.array([], pa.string())}),
                   os.path.join(req_dir, "b3.parquet"))
    q = run_registration_stream(spark, req_dir, registry, ckpt)
    q.awaitTermination(180)

    assert [r.status for r in sorted(registry.statuses,
                                     key=lambda r: r.seq)] == \
        ["registered", "incompatible"]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

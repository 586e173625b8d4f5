"""The session's shuffle partition count follows its task slots.

``get_spark`` sets ``spark.sql.shuffle.partitions`` to
``sparkContext.defaultParallelism``, so a stateful stream starts with one
state store per core.  A stream resumed from a checkpoint keeps the count
it started with: Spark restores it from the offset log.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from axonops_schema_registry_spark.streaming.audit import (
    audit_stream_from_events,
    dedup_by_request_id,
)

_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
_T0 = datetime(2024, 1, 1)


def _event(eid: int, user: int, sec: float) -> tuple:
    return (eid, _T0 + timedelta(seconds=sec), user, "view", 1.0, "{}")


def _drop(src: str, name: str, rows: list[tuple]) -> None:
    """Publish one event file atomically into the source directory."""
    tmp = os.path.join(os.path.dirname(src), f"_{name}")
    cols = [list(c) for c in zip(*rows)]
    pq.write_table(pa.table(dict(zip(_SCHEMA.names, cols)), schema=_SCHEMA),
                   tmp)
    os.rename(tmp, os.path.join(src, name))


def _drain(spark, src: str, ckpt: str) -> tuple[list[str], dict]:
    """Run the dedup stream to the end of its input; return the emitted
    request ids and the last progress record."""
    emitted: list[str] = []

    def sink(df, epoch):
        emitted.extend(r.request_id for r in df.collect())

    q = (dedup_by_request_id(audit_stream_from_events(spark, src))
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        progress = q.lastProgress
    finally:
        q.stop()
    return emitted, progress


def test_shuffle_partitions_follow_task_slots(spark, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    assert slots == 8  # conftest's local[8]
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == slots

    src = tmp_path / "src"
    src.mkdir()
    _drop(str(src), "a.parquet", [_event(i, i % 3, i) for i in range(5)])
    _drop(str(src), "b.parquet",
          [_event(2, 2, 2)] + [_event(i, i % 3, i) for i in range(5, 8)])
    emitted, progress = _drain(spark, str(src), str(tmp_path / "ckpt"))

    assert sorted(emitted) == sorted(f"{i % 3}-{i}" for i in range(8))
    assert progress["stateOperators"][0]["numShufflePartitions"] == slots


def test_resumed_stream_keeps_its_partition_count(spark, tmp_path):
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    _drop(str(src), "a.parquet", [_event(i, 1, i) for i in range(4)])
    try:
        spark.conf.set(key, "32")
        first, progress = _drain(spark, str(src), ckpt)
    finally:
        spark.conf.set(key, session_value)
    assert sorted(first) == [f"1-{i}" for i in range(4)]
    assert progress["stateOperators"][0]["numShufflePartitions"] == 32

    # one re-sent request id and one new event, on the session's count
    _drop(str(src), "b.parquet", [_event(1, 1, 1), _event(4, 1, 4)])
    second, progress = _drain(spark, str(src), ckpt)
    assert int(spark.conf.get(key)) != 32
    assert progress["stateOperators"][0]["numShufflePartitions"] == 32
    assert second == ["1-4"]

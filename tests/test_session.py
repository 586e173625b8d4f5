"""The session's shuffle partition count and its Python worker daemon.

``get_spark`` sets ``spark.sql.shuffle.partitions`` to
``sparkContext.defaultParallelism``, so a stateful stream starts with one
state store per core.  A stream resumed from a checkpoint keeps the count
it started with: Spark restores it from the offset log.

``get_spark`` forks its Python workers from
``axonops_schema_registry_spark.pydaemon``: a worker's per-task
``importlib.invalidate_caches()`` re-reads no zip archive directory
(CPython 3.13's lazy zipimport invalidation, backported before 3.13).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
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


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_invalidate_zip_directories_lazily(spark):
    """A task's cache invalidation re-reads no archive; the next lookups
    read the probe archive once."""
    def probe(_):
        # on a worker: the directory reads of invalidate_caches(), then of
        # a missed and a found lookup, for an archive on the import path
        import importlib
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        with tempfile.TemporaryDirectory() as tmp:
            archive = os.path.join(tmp, "probe.zip")
            with zipfile.ZipFile(archive, "w") as zf:
                zf.writestr("lazy_probe.py", "")
            sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
            reads = []
            read = zipimport._read_directory
            zipimport._read_directory = (
                lambda path: reads.append(path) or read(path))
            try:
                importlib.invalidate_caches()
                on_invalidate = list(reads)
                sys.path_importer_cache[archive].find_spec("absent_module")
                sys.path_importer_cache[archive].find_spec("lazy_probe")
            finally:
                zipimport._read_directory = read
                del sys.path_importer_cache[archive]
        return [(on_invalidate, reads.count(archive))]

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe).collect()
    assert got == [([], 1)]


_BACKPORT = textwrap.dedent("""
    import importlib, json, os, sys, zipfile, zipimport
    from axonops_schema_registry_spark.pydaemon import install_lazy_zipimport

    archive = sys.argv[2]
    if sys.argv[1] == "backport":
        install_lazy_zipimport()
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read(p)

    def write(*names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(name + ".py", f"NAME = {name!r}\\n")

    def counted(step):
        # [reads by one invalidation, reads by ``step`` after it]
        before = reads.count(archive)
        importlib.invalidate_caches()
        invalidated = reads.count(archive)
        step()
        return [invalidated - before, reads.count(archive) - invalidated]

    def find(name):
        try:
            return importlib.import_module(name).NAME
        except ModuleNotFoundError:
            return None

    out = {}
    write("mod_a")
    sys.path.insert(0, archive)
    out["a"] = find("mod_a")
    out["first_read"] = reads.count(archive)
    # on 3.13 the first invalidation imports importlib.metadata: a lookup
    importlib.invalidate_caches()
    # unchanged archive: invalidation reads nothing, two lookups read once
    out["unchanged"] = counted(lambda: (find("mod_x"), find("mod_y")))
    # rewritten archive: a new module imports
    write("mod_a", "mod_b")
    out["rewritten"] = counted(lambda: out.__setitem__("b", find("mod_b")))
    # deleted archive: no module
    os.remove(archive)
    out["deleted"] = counted(lambda: out.__setitem__("c", find("mod_c")))
    print(json.dumps(out))
""")


def _run_backport(tmp_path, variant: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = REPO
    done = subprocess.run(
        [sys.executable, "-c", _BACKPORT, variant,
         str(tmp_path / f"{variant}.zip")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert done.returncode == 0, done.stderr
    return json.loads(done.stdout)


def test_lazy_zipimport_backport_on_real_archives(tmp_path):
    """Invalidation forgets an archive's directory and the next lookup
    reads it once: an unchanged archive is not re-read per invalidation,
    a rewritten one shows its new module, a deleted one yields none."""
    got = _run_backport(tmp_path, "backport")
    # a missing archive is tried again on every lookup, as on CPython 3.13
    assert got.pop("deleted")[0] == 0
    assert got == {"a": "mod_a", "first_read": 1, "unchanged": [0, 1],
                   "b": "mod_b", "rewritten": [0, 1], "c": None}
    if sys.version_info < (3, 13):
        # the counting sees the stock importer's eager re-read
        assert _run_backport(tmp_path, "stock")["unchanged"] == [1, 0]


def test_session_outside_the_repository_runs_python_tasks(tmp_path):
    """The workers find the daemon module through the session's
    ``spark.executorEnv.PYTHONPATH``, not the working directory."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from axonops_schema_registry_spark.session import get_spark
        spark = get_spark("outside-the-repo", cpus=1)
        try:
            rdd = spark.sparkContext.parallelize(range(4), 2)
            print(rdd.map(lambda x: x * x).sum())
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.split()[-1] == "14"

"""RegistryAnalytics' driver-side snapshot: the point, statistics and
field reads it answers must equal the Spark path they bypass, and it must
be built once per facade, run no Spark job once built and pin nothing in
Spark."""

from __future__ import annotations

import json
import sys
import threading

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from axonops_schema_registry_spark import api
from axonops_schema_registry_spark.api import RegistryAnalytics
from axonops_schema_registry_spark.registry.compat import MODES
from axonops_schema_registry_spark.registry.model import (
    AVRO_USER_V2_BAD,
    AVRO_USER_V3,
    fixture_schemas,
)

# snake, camelCase, PascalCase and kebab spellings of the same few names,
# so field search and similarity see naming variants meet
AVRO_NAMES = ["customer_id", "customerId", "CustomerId", "order_total",
              "orderTotal", "email", "createdAt", "created_at"]
JSON_NAMES = AVRO_NAMES + ["customer-id", "order-total", "created-at"]
PROTO_NAMES = ["customer_id", "customerId", "order_total", "email",
               "created_at"]
SEARCH_TERMS = ["customer_id", "customerId", "Order-Total", "email",
                "missing_name"]


def _avro(names: list[str], types: list[str]) -> str:
    return json.dumps({"type": "record", "name": "R", "fields": [
        {"name": n, "type": t} for n, t in zip(names, types)]})


def _json(names: list[str], types: list[str]) -> str:
    jt = {"string": "string", "int": "integer", "long": "integer"}
    return json.dumps({"type": "object",
                       "properties": {n: {"type": jt[t]}
                                      for n, t in zip(names, types)},
                       "required": names[:1]})


def _proto(names: list[str], types: list[str]) -> str:
    pt = {"string": "string", "int": "int32", "long": "int64"}
    body = " ".join(f"{pt[t]} {n} = {i};"
                    for i, (n, t) in enumerate(zip(names, types), 1))
    return f'syntax = "proto3"; message R {{ {body} }}'


RENDER = {"AVRO": (_avro, AVRO_NAMES), "JSON": (_json, JSON_NAMES),
          "PROTOBUF": (_proto, PROTO_NAMES)}


@st.composite
def schema_texts(draw, stype: str, allow_empty: bool = True) -> str:
    render, pool = RENDER[stype]
    names = draw(st.lists(st.sampled_from(pool), unique=True,
                          min_size=0 if allow_empty else 1, max_size=4))
    types = draw(st.lists(st.sampled_from(["string", "int", "long"]),
                          min_size=len(names), max_size=len(names)))
    return render(names, types)


@st.composite
def corpora(draw):
    """(rows, ddl) of a generated corpus; its subjects cover version gaps,
    a subject whose versions are all deleted, a latest version without
    fields, and AVRO/JSON/PROTOBUF side by side."""
    with_deleted = draw(st.booleans())
    with_extra = draw(st.booleans())  # nullable fingerprint and schema_id
    rows = []
    n_subjects = draw(st.integers(2, 5))
    for i in range(n_subjects):
        subject = f"s{i}-value"
        stype = draw(st.sampled_from(sorted(RENDER)))
        versions = sorted(draw(st.sets(st.integers(1, 9), min_size=1,
                                       max_size=4)))  # gaps allowed
        kind = draw(st.sampled_from(["plain", "all_deleted",
                                     "empty_latest"]))
        for j, v in enumerate(versions):
            last = j == len(versions) - 1
            if kind == "empty_latest" and last:
                text = RENDER[stype][0]([], [])
            else:
                text = draw(schema_texts(stype))
            deleted = (kind == "all_deleted"
                       or (not last and draw(st.booleans())))
            row = [subject, v, stype, text]
            if with_deleted:
                row.append(deleted)
            if with_extra:
                row += [draw(st.one_of(st.none(), st.just(f"fp{i}{v}"))),
                        draw(st.one_of(st.none(), st.integers(0, 2**62)))]
            rows.append(tuple(row))
    ddl = "subject string, version int, schema_type string, schema_text string"
    if with_deleted:
        ddl += ", deleted boolean"
    if with_extra:
        ddl += ", fingerprint string, schema_id bigint"
    return rows, ddl


def _pair(spark, rows, ddl):
    # through Arrow, so the corpus is a JVM-side local relation and the
    # Spark side's jobs start no Python worker to decode it
    schema = DataType.fromDDL(ddl)
    corpus = spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema)), schema=schema)
    spark_side = RegistryAnalytics(spark, corpus)
    spark_side.SNAPSHOT_ROW_CAP = 0  # a 1-row collect exceeds it: Spark
    return RegistryAnalytics(spark, corpus), spark_side


def _same(a, b, ordered: bool = False) -> None:
    assert a.schema == b.schema
    ra, rb = [tuple(r) for r in a.collect()], [tuple(r) for r in b.collect()]
    if not ordered:
        ra, rb = sorted(ra, key=repr), sorted(rb, key=repr)
    assert ra == rb


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(corpus=corpora(), data=st.data())
def test_snapshot_answers_equal_spark_path(spark, corpus, data):
    rows, ddl = corpus
    snap, spark_side = _pair(spark, rows, ddl)
    subjects = sorted({r[0] for r in rows})
    subject = data.draw(st.sampled_from(subjects + ["unknown-value"]))
    _same(snap.latest(subject), spark_side.latest(subject))
    for include_deleted in (False, True):
        _same(snap.history(subject, include_deleted),
              spark_side.history(subject, include_deleted), ordered=True)
    _same(snap.fields(), spark_side.fields())
    _same(snap.statistics(), spark_side.statistics())
    term = data.draw(st.sampled_from(SEARCH_TERMS))
    _same(snap.search_fields(term), spark_side.search_fields(term))
    threshold = data.draw(st.sampled_from([0.0, 0.3, 0.5, 1.0]))
    _same(snap.similar_subjects(threshold),
          spark_side.similar_subjects(threshold))
    stype = next((r[2] for r in rows if r[0] == subject), "AVRO")
    probe = data.draw(schema_texts(stype))
    for mode in MODES:
        assert (snap.check(probe, subject, mode, stype)
                == spark_side.check(probe, subject, mode, stype)), mode


def test_statistics_null_type_and_subject_equal_spark_path(spark):
    """A null schema type is one group; a null subject counts as a version
    but not as a subject; deleted rows count as neither."""
    rows = [("a-value", 1, "AVRO", "{}", False),
            ("a-value", 2, "AVRO", "{}", True),
            ("b-value", 1, None, "{}", False),
            (None, 1, None, "{}", False),
            (None, 2, "AVRO", "{}", False),
            ("c-value", 1, "JSON", "{}", True)]
    snap, spark_side = _pair(
        spark, rows, "subject string, version int, schema_type string, "
                     "schema_text string, deleted boolean")
    _same(snap.statistics(), spark_side.statistics())
    assert sorted((tuple(r) for r in snap.statistics().collect()),
                  key=repr) == [("AVRO", 1, 2), (None, 1, 2)]


def test_snapshot_built_once_under_concurrent_first_reads(spark,
                                                          monkeypatch):
    """More first readers than cores, switching often: one build."""
    built = []

    class CountingSnapshot(api._Snapshot):
        def __init__(self, *args) -> None:
            built.append(threading.get_ident())
            super().__init__(*args)

    monkeypatch.setattr(api, "_Snapshot", CountingSnapshot)
    reg = RegistryAnalytics(spark, fixture_schemas(spark))
    n = 8
    start = threading.Barrier(n, timeout=60)
    answers = []

    def first_read() -> None:
        start.wait()
        answers.append([r.version for r in
                        reg.history("user-value").collect()])

    threads = [threading.Thread(target=first_read) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 1
    assert answers == [[1, 2]] * n


def test_point_reads_run_no_spark_job_and_pin_nothing(spark):
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs().size()
    reg = RegistryAnalytics(spark, fixture_schemas(spark))
    reg.latest("user-value").collect()  # builds the snapshot
    gid = "registry-snapshot-point-reads"
    sc.setJobGroup(gid, gid)
    try:
        latest = reg.latest("user-value").collect()
        history = reg.history("user-value").collect()
        ok, _ = reg.check(AVRO_USER_V3, "user-value", "BACKWARD")
        bad, msgs = reg.check(AVRO_USER_V2_BAD, "user-value",
                              "BACKWARD_TRANSITIVE")
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.version for r in latest] == [2]
    assert [r.version for r in history] == [1, 2]
    assert ok and not bad and msgs
    assert list(jobs) == []
    reg.similar_subjects(0.3).collect()  # the field table, built in-process
    assert sc._jsc.getPersistentRDDs().size() == persistent

"""RegistryAnalytics facade: the reference's endpoint surface as methods."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from axonops_schema_registry_spark.api import RegistryAnalytics
from axonops_schema_registry_spark.registry import registration
from axonops_schema_registry_spark.registry.model import (
    AVRO_USER_V1,
    AVRO_USER_V2,
    AVRO_USER_V2_BAD,
    AVRO_USER_V3,
    fixture_schemas,
)


@pytest.fixture(scope="module")
def reg(spark):
    return RegistryAnalytics(spark, fixture_schemas(spark))


@pytest.fixture(scope="module")
def corpus_reg(spark, sf_dir):
    return RegistryAnalytics.from_sf_dir(spark, sf_dir)


def test_subjects_and_latest(reg):
    assert {r.subject for r in reg.subjects().collect()} == {
        "user-value", "order-events-value", "profile-value", "event-value"}
    latest = {r.subject: r.version for r in reg.latest().collect()}
    assert latest["user-value"] == 2 and latest["order-events-value"] == 1


def test_history_ordering(reg):
    hist = reg.history("user-value").collect()
    assert [r.version for r in hist] == [1, 2]


def test_statistics(reg):
    stats = {r.schema_type: (r.n_subjects, r.n_versions)
             for r in reg.statistics().collect()}
    assert stats["AVRO"] == (2, 3)
    assert stats["JSON"] == (1, 2)
    assert stats["PROTOBUF"] == (1, 2)


def test_field_search_variants(reg):
    hits = reg.search_fields("customer_id").collect()
    assert [(r.subject, r.path) for r in hits] == \
        [("order-events-value", "customerId")]


def test_similar_subjects(reg):
    sims = reg.similar_subjects(0.3).collect()
    assert [(r.subject_a, r.subject_b) for r in sims] == \
        [("profile-value", "user-value")]


def test_similar_subjects_uses_latest_version_without_fields(spark):
    """A latest version with no fields gives its subject an empty field
    set; similarity must not fall back to an older version's fields."""
    empty_v3 = spark.createDataFrame(
        [("profile-value", 3, "JSON", '{"type":"object","properties":{}}')],
        "subject string, version int, schema_type string, schema_text string")
    reg = RegistryAnalytics(spark,
                            fixture_schemas(spark).unionByName(empty_v3))
    assert [r.version for r in reg.latest("profile-value").collect()] == [3]
    sims = reg.similar_subjects(0.3).collect()
    assert all("profile-value" not in (r.subject_a, r.subject_b)
               for r in sims), sims


def test_check_verdicts(reg):
    ok, _ = reg.check(AVRO_USER_V3, "user-value", "BACKWARD")
    assert ok
    bad, msgs = reg.check(AVRO_USER_V2_BAD, "user-value",
                          "BACKWARD_TRANSITIVE")
    assert not bad and msgs


def test_register_through_facade(spark, reg):
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3)],
        "subject string, seq int, schema_type string, schema_text string")
    out = {r.status: r for r in reg.register(incoming).collect()}
    assert out["registered"].assigned_version == 3


def test_register_pins_nothing(spark, reg, monkeypatch):
    """A long-lived session calling register() must not grow the set of
    persisted RDDs: register caches nothing, in-process or as the cogroup
    (forced by a row cap of 0)."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3),
         ("user-value", 2, "AVRO", AVRO_USER_V2_BAD)],
        "subject string, seq int, schema_type string, schema_text string")
    for cap in (registration.REGISTER_ROW_CAP, 0):
        monkeypatch.setattr(registration, "REGISTER_ROW_CAP", cap)
        reg.register(incoming).collect()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_register_below_cap_runs_at_most_four_jobs(spark, reg):
    """Below the cap, register reads the batch, its subjects' histories
    and each config table once (4 jobs) and collecting its result runs
    none."""
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3),
         ("user-value", 2, "AVRO", AVRO_USER_V3),
         ("user-value", 3, "AVRO", AVRO_USER_V2_BAD),
         ("event-value", 4, "AVRO", AVRO_USER_V1)],
        "subject string, seq int, schema_type string, schema_text string")
    modes = spark.createDataFrame([("event-value", "READONLY"),
                                   (None, "READWRITE")],
                                  "subject string, mode string")
    levels = spark.createDataFrame([("user-value", "BACKWARD_TRANSITIVE"),
                                    (None, "BACKWARD")],
                                   "subject string, level string")
    sc = spark.sparkContext
    gid = "register-below-cap"
    sc.setJobGroup(gid, gid)
    try:
        rows = reg.register(incoming, modes=modes, levels=levels).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(gid)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r.seq: (r.status, r.assigned_version) for r in rows} == {
        1: ("registered", 3), 2: ("duplicate", None),
        3: ("incompatible", None), 4: ("readonly_mode", None)}
    assert len(jobs) <= 4, list(jobs)


def test_corpus_backed_facade(corpus_reg):
    assert corpus_reg.latest().count() > 0
    view = corpus_reg.versions_view().collect()
    assert all(r.latest_version >= r.version_count for r in view)


def test_facade_mode_gating(spark, reg):
    modes = spark.createDataFrame([("user-value", "READONLY"),
                                   (None, "READWRITE")],
                                  "subject string, mode string")
    incoming = spark.createDataFrame(
        [("user-value", 1, "AVRO", AVRO_USER_V3)],
        "subject string, seq int, schema_type string, schema_text string")
    out = reg.register(incoming, modes=modes).collect()
    assert out[0].status == "readonly_mode"
    resolved = {r.subject: r.resolved_mode
                for r in reg.resolve_modes(modes).collect()}
    assert resolved["user-value"] == "READONLY"
    assert resolved["event-value"] == "READWRITE"


def test_facade_export_subject(reg):
    bundle = {r.subject: r for r in reg.export_subject().collect()}
    assert bundle["user-value"].n_versions == 2
    # "vvvv:sha256(schema_text)" per live version, sorted, "|"-joined
    assert bundle["user-value"].versions_bundle == "|".join(
        f"{v:04d}:{hashlib.sha256(text.encode()).hexdigest()}"
        for v, text in ((1, AVRO_USER_V1), (2, AVRO_USER_V2)))


def test_facade_dependency_graph(spark, reg):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subject string, ref_subject string")
    got = {(r.subject, r.ref_subject): r.depth
           for r in reg.dependency_graph(edges).collect()}
    assert got[("a", "c")] == 2


def test_facade_suggest_and_validate(reg):
    s = reg.suggest_evolution("user-value", "add_field", "email", "string")
    assert s["is_compatible"] and "default value" in s["advice"]
    assert reg.suggest_evolution("nope-value", "add_field")["error"] \
        == "Subject not found"
    v = reg.validate_schema('{"type":"record","name":"R","fields":[]}')
    assert v["is_valid"]


def test_facade_rewrap(spark, reg):
    deks = spark.createDataFrame(
        [("k", "s", 1, "m", 1)],
        "kek_name string, subject string, dek_version int, "
        "key_material string, wrapped_with_version int")
    keks = spark.createDataFrame(
        [("k", "kms", 2)],
        "kek_name string, kms_key_id string, key_version int")
    out = reg.rewrap_deks(deks, keks).collect()
    assert out[0].action == "rewrapped"


def test_delete_version_taxonomy(spark, sf_dir):
    from axonops_schema_registry_spark.api import RegistryAnalytics

    api = RegistryAnalytics.from_sf_dir(spark, sf_dir)
    row = api.delete_version("src1", -1, permanent=False).collect()[0]
    assert row["status"] == "soft_deleted_200"
    assert row["resolved_version"] is not None
    row = api.delete_version("ghost", 1).collect()[0]
    assert row["status"] == "subject_not_found_40401"
    row = api.delete_version("src1", 0).collect()[0]
    assert row["status"] == "invalid_version_42202"


def test_prometheus_gauges(spark, sf_dir):
    from axonops_schema_registry_spark.api import RegistryAnalytics

    reg = RegistryAnalytics.from_sf_dir(spark, sf_dir)
    rows = reg.prometheus_gauges().collect()
    metrics = {r.metric for r in rows}
    assert metrics == {"schema_registry_schema_versions",
                       "schema_registry_subjects_total",
                       "schema_registry_schemas_total"}
    assert all(r.value > 0 for r in rows)

"""Write-mode gating lifecycle (reference: mode_enforcement.feature,
import_mode_comprehensive.feature, registry.go:889-930 GetMode chain)."""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F

from axonops_schema_registry_spark.registry.modes import (
    resolve_level,
    resolve_mode,
    with_resolved_level,
    with_resolved_mode,
)
from axonops_schema_registry_spark.registry.registration import (
    import_batch,
    register_batch,
)

_SCHEMA = json.dumps({"type": "record", "name": "S",
                      "fields": [{"name": "x", "type": "string"}]})


def _modes(spark, rows):
    return spark.createDataFrame(rows, "subject string, mode string")


def _resolve(spark, subjects, mode_rows):
    df = spark.createDataFrame([(s,) for s in subjects], "subject string")
    out = with_resolved_mode(df, _modes(spark, mode_rows))
    return {r["subject"]: r["resolved_mode"] for r in out.collect()}


def test_fallback_chain_subject_then_global_then_default(spark):
    got = _resolve(spark, ["a", "b"],
                   [("a", "IMPORT"), (None, "READONLY")])
    assert got == {"a": "IMPORT", "b": "READONLY"}


def test_default_readwrite_with_empty_modes_table(spark):
    got = _resolve(spark, ["a"], [])
    assert got == {"a": "READWRITE"}


def test_readonly_override_kill_switch_beats_subject_modes(spark):
    """READONLY_OVERRIDE on the global row overrides per-subject modes
    (registry.go:893-897, Confluent kill-switch behavior)."""
    got = _resolve(spark, ["a", "b"],
                   [("a", "READWRITE"), (None, "READONLY_OVERRIDE")])
    assert got == {"a": "READONLY_OVERRIDE", "b": "READONLY_OVERRIDE"}


def _register(spark, mode_rows):
    existing = spark.createDataFrame(
        [], "subject string, version int, schema_type string, "
            "schema_text string")
    incoming = spark.createDataFrame(
        [("roset", 1, "AVRO", _SCHEMA), ("open", 2, "AVRO", _SCHEMA),
         ("imp", 3, "AVRO", _SCHEMA)],
        "subject string, seq int, schema_type string, schema_text string")
    out = register_batch(spark, existing, incoming, mode="BACKWARD",
                         modes=_modes(spark, mode_rows))
    return {r["seq"]: (r["status"], r["assigned_version"])
            for r in out.collect()}


def test_register_batch_blocks_readonly_and_import_subjects(spark):
    got = _register(spark, [("roset", "READONLY"), ("imp", "IMPORT"),
                            (None, "READWRITE")])
    assert got[1] == ("readonly_mode", None)
    assert got[2] == ("registered", 1)
    assert got[3] == ("import_mode", None)


def test_register_batch_kill_switch_blocks_everything(spark):
    got = _register(spark, [("open", "READWRITE"),
                            (None, "READONLY_OVERRIDE")])
    assert {v[0] for v in got.values()} == {"readonly_mode"}


def test_register_batch_without_modes_table_unchanged(spark):
    existing = spark.createDataFrame(
        [], "subject string, version int, schema_type string, "
            "schema_text string")
    incoming = spark.createDataFrame(
        [("s", 1, "AVRO", _SCHEMA)],
        "subject string, seq int, schema_type string, schema_text string")
    out = register_batch(spark, existing, incoming).collect()
    assert out[0]["status"] == "registered"


def test_import_batch_requires_import_mode(spark):
    """Explicit-ID import demands IMPORT mode (handlers.go:1656-1664)."""
    existing = spark.createDataFrame(
        [(1, "fp1")], "schema_id long, fingerprint string")
    incoming = spark.createDataFrame(
        [(1, "impok", "fp1"),    # exists (idempotent re-import)
         (9, "impok", "fp9"),    # imported (fresh id)
         (9, "rw", "fp9")],      # blocked: subject not in IMPORT mode
        "schema_id long, subject string, fingerprint string")
    out = import_batch(spark, existing, incoming,
                       modes=_modes(spark, [("impok", "IMPORT"),
                                            (None, "READWRITE")]))
    got = {(r["schema_id"], r["subject"]): r["status"]
           for r in out.collect()}
    assert got[(1, "impok")] == "exists"
    assert got[(9, "impok")] == "imported"
    assert got[(9, "rw")] == "not_import_mode"


def test_import_batch_global_import_mode(spark):
    existing = spark.createDataFrame(
        [], "schema_id long, fingerprint string")
    incoming = spark.createDataFrame(
        [(5, "any", "fp5")],
        "schema_id long, subject string, fingerprint string")
    out = import_batch(spark, existing, incoming,
                       modes=_modes(spark, [(None, "IMPORT")]))
    assert out.collect()[0]["status"] == "imported"


def _register_levels(spark, level_rows, mode="BACKWARD"):
    existing = spark.createDataFrame(
        [("gated", 1, "AVRO", _SCHEMA), ("open", 1, "AVRO", _SCHEMA)],
        "subject string, version int, schema_type string, "
        "schema_text string")
    doc = json.loads(_SCHEMA)
    doc["fields"] = [{"name": "z", "type": "string"}] + doc["fields"]
    bad = json.dumps(doc)  # adds defaultless field z → BACKWARD-incompatible
    incoming = spark.createDataFrame(
        [("gated", 1, "AVRO", bad), ("open", 2, "AVRO", bad)],
        "subject string, seq int, schema_type string, schema_text string")
    levels = spark.createDataFrame(level_rows,
                                   "subject string, level string")
    out = register_batch(spark, existing, incoming, mode=mode,
                         levels=levels)
    return {r["seq"]: r["status"] for r in out.collect()}


def test_per_subject_compat_levels(spark):
    """The reference resolves the compatibility level per subject
    (GetConfigFull chain): 'open' configured NONE accepts what 'gated'
    (BACKWARD via global row) rejects — same candidate schema."""
    got = _register_levels(spark, [("open", "NONE"), (None, "BACKWARD")])
    assert got[1] == "incompatible"
    assert got[2] == "registered"


def test_levels_global_row_overrides_mode_param(spark):
    got = _register_levels(spark, [(None, "NONE")], mode="BACKWARD")
    assert got[1] == "registered" and got[2] == "registered"


def test_levels_fall_back_to_mode_param(spark):
    got = _register_levels(spark, [("unrelated", "NONE")],
                           mode="BACKWARD")
    assert got[1] == "incompatible" and got[2] == "incompatible"


def test_compatibility_group_scopes_the_gate(spark):
    """compatibilityGroup semantics (registry.go:1399-1431): history in
    OTHER group values is invisible to the gate, so a schema
    incompatible with group A's history registers cleanly under group B;
    dedup also scopes to the group."""
    doc = json.loads(_SCHEMA)
    doc["fields"] = [{"name": "z", "type": "string"}] + doc["fields"]
    bad = json.dumps(doc)
    existing = spark.createDataFrame(
        [("s", 1, "AVRO", _SCHEMA, "v1")],
        "subject string, version int, schema_type string, "
        "schema_text string, app_version string")
    incoming = spark.createDataFrame(
        [("s", 1, "AVRO", bad, "v1"),     # same group → incompatible
         ("s", 2, "AVRO", bad, "v2"),     # other group → registers
         ("s", 3, "AVRO", _SCHEMA, "v2"),  # dup of group-v1 text, group v2
         ("s", 4, "AVRO", _SCHEMA, "v1")],  # true duplicate in v1
        "subject string, seq int, schema_type string, schema_text string, "
        "app_version string")
    out = register_batch(spark, existing, incoming, mode="BACKWARD",
                         group_col="app_version")
    got = {r["seq"]: (r["status"], r["assigned_version"])
           for r in out.collect()}
    assert got[1][0] == "incompatible"
    assert got[2][0] == "registered"
    # identical text in a DIFFERENT group is a new registration, not a dup
    assert got[3][0] == "registered"
    assert got[4] == ("duplicate", None)
    # version allocation stays per subject across groups
    assert {got[2][1], got[3][1]} == {2, 3}


def _resolve_ctx(spark, rows, mode_rows):
    df = spark.createDataFrame(rows, "registry_ctx string, subject string")
    modes = spark.createDataFrame(
        mode_rows, "registry_ctx string, subject string, mode string")
    out = with_resolved_mode(df, modes, ctx_col="registry_ctx")
    return {(r["registry_ctx"], r["subject"]): r["resolved_mode"]
            for r in out.collect()}


def test_context_mode_four_tier_chain(spark):
    """registry.go:889-930: per-(ctx,subject) → ctx global → __GLOBAL
    context global → READWRITE."""
    got = _resolve_ctx(
        spark,
        [("tenant-a", "s1"), ("tenant-a", "s2"), ("tenant-b", "s1"),
         ("tenant-c", "s1")],
        [("tenant-a", "s1", "IMPORT"),      # tier 1
         ("tenant-a", None, "READONLY"),    # tier 2
         ("__GLOBAL", None, "READONLY")])   # tier 3
    assert got[("tenant-a", "s1")] == "IMPORT"
    assert got[("tenant-a", "s2")] == "READONLY"
    assert got[("tenant-b", "s1")] == "READONLY"   # __GLOBAL fallback
    assert got[("tenant-c", "s1")] == "READONLY"


def test_context_mode_default_when_nothing_configured(spark):
    got = _resolve_ctx(spark, [("t", "s")], [])
    assert got[("t", "s")] == "READWRITE"


def test_context_kill_switch_on_default_context(spark):
    """READONLY_OVERRIDE on the default context's global row (resolved
    '.' → __GLOBAL) beats every per-context/per-subject mode
    (registry.go:893-897)."""
    got = _resolve_ctx(
        spark, [("tenant-a", "s1")],
        [("tenant-a", "s1", "READWRITE"),
         (".", None, "READONLY_OVERRIDE")])
    assert got[("tenant-a", "s1")] == "READONLY_OVERRIDE"
    # __GLOBAL can also carry the kill switch when '.' has none
    got2 = _resolve_ctx(
        spark, [("tenant-a", "s1")],
        [("tenant-a", "s1", "READWRITE"),
         ("__GLOBAL", None, "READONLY_OVERRIDE")])
    assert got2[("tenant-a", "s1")] == "READONLY_OVERRIDE"


def _plan_nodes(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_resolvers_plan_one_broadcast_join_no_shuffle(spark):
    """Both chains, both shapes: the config is folded on the driver, so
    the plan is a broadcast join plus literals — no aggregate and no
    shuffle exchange (``BroadcastExchange`` is the broadcast itself)."""
    df = spark.createDataFrame([("a", "s1"), ("b", "s2")],
                               "registry_ctx string, subject string")
    plain_modes = _modes(spark, [("s1", "IMPORT"), (None, "READONLY")])
    ctx_modes = spark.createDataFrame(
        [("a", "s1", "IMPORT"), ("a", None, "READONLY"),
         (".", None, "READWRITE"), ("__GLOBAL", None, "READONLY")],
        "registry_ctx string, subject string, mode string")
    plain_levels = spark.createDataFrame(
        [("s1", "FULL"), (None, "NONE")], "subject string, level string")
    ctx_levels = spark.createDataFrame(
        [("a", "s1", "FULL"), ("b", None, "NONE"),
         ("__GLOBAL", None, "FORWARD")],
        "registry_ctx string, subject string, level string")
    plans = {
        "mode": with_resolved_mode(df, plain_modes),
        "mode_ctx": with_resolved_mode(df, ctx_modes,
                                       ctx_col="registry_ctx"),
        "level": with_resolved_level(df, plain_levels),
        "level_ctx": with_resolved_level(df, ctx_levels,
                                         ctx_col="registry_ctx"),
    }
    for name, out in plans.items():
        plan = _plan_nodes(out)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert not re.search(r"\bExchange\b", plan), (name, plan)
        assert "HashAggregate" not in plan, (name, plan)
    got = {name: {(r["registry_ctx"], r["subject"]):
                  r["resolved_mode" if name.startswith("mode")
                    else "resolved_level"] for r in out.collect()}
           for name, out in plans.items()}
    assert got == {
        "mode": {("a", "s1"): "IMPORT", ("b", "s2"): "READONLY"},
        "mode_ctx": {("a", "s1"): "IMPORT", ("b", "s2"): "READONLY"},
        "level": {("a", "s1"): "FULL", ("b", "s2"): "NONE"},
        "level_ctx": {("a", "s1"): "FULL", ("b", "s2"): "NONE"},
    }


def test_duplicate_config_rows_resolve_to_max(spark):
    """Several rows for one key resolve to their ``max`` — the rule the
    global row already used — and each incoming row stays one row."""
    df = spark.createDataFrame([("a", "s"), ("a", "t")],
                               "registry_ctx string, subject string")
    modes = _modes(spark, [("s", "IMPORT"), ("s", "READONLY"),
                           (None, "IMPORT"), (None, "READONLY")])
    out = with_resolved_mode(df, modes).collect()
    assert sorted((r["subject"], r["resolved_mode"]) for r in out) == [
        ("s", "READONLY"), ("t", "READONLY")]
    assert resolve_mode(modes).get("s") == "READONLY"

    ctx_modes = spark.createDataFrame(
        [("a", "s", "IMPORT"), ("a", "s", "READONLY"),
         ("a", None, "IMPORT"), ("a", None, "READONLY")],
        "registry_ctx string, subject string, mode string")
    out = with_resolved_mode(df, ctx_modes, ctx_col="registry_ctx").collect()
    assert sorted((r["subject"], r["resolved_mode"]) for r in out) == [
        ("s", "READONLY"), ("t", "READONLY")]

    levels = spark.createDataFrame([("s", "BACKWARD"), ("s", "FULL")],
                                   "subject string, level string")
    out = with_resolved_level(df, levels).collect()
    assert sorted((r["subject"], r["resolved_level"]) for r in out) == [
        ("s", "FULL"), ("t", "BACKWARD")]
    assert resolve_level(levels, default="NONE").get("s") == "FULL"

    # register_batch gates with the same rule: dropping a defaultless
    # field is BACKWARD-compatible, but FULL rejects it
    doc = json.loads(_SCHEMA)
    doc["fields"].append({"name": "y", "type": "string"})
    existing = spark.createDataFrame(
        [("s", 1, "AVRO", json.dumps(doc))],
        "subject string, version int, schema_type string, "
        "schema_text string")
    incoming = spark.createDataFrame(
        [("s", 1, "AVRO", _SCHEMA)],
        "subject string, seq int, schema_type string, schema_text string")
    out = register_batch(spark, existing, incoming, levels=levels)
    assert [(r["seq"], r["status"]) for r in out.collect()] == [
        (1, "incompatible")]

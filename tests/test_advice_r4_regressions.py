"""Regression tests for the round-4 advisory findings (ADVICE.md r4):

1. ``register_batch`` with ``ctx_col``: the gate's verdict rows omitted the
   context column and the status-assembly joins keyed on (subject, seq)
   only — contexts sharing a (subject, seq) pair cross-matched.
2. ``version_delete_status``: soft delete of 'latest' (-1) on a subject
   whose versions are ALL soft-deleted returned 40402; the reference's
   GetSchemaBySubjectVersion(-1) reports ErrSubjectNotFound (40401).
3. ``J8D_ORACLE``'s final inner join dropped kek_names lacking either DEK
   ops or KEK ops — agreement was data-dependent on every event_type
   carrying both event-id parities.
4. JSON Schema writer-allOf candidate probes shared the ``visited`` memo:
   a failed first candidate could mask a later candidate's real
   incompatibility via the short-circuit (false 'compatible').
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from axonops_schema_registry_spark.registry import model
from axonops_schema_registry_spark.registry.compat.jsonschema_check import (
    check_jsonschema,
)
from axonops_schema_registry_spark.registry.registration import register_batch

# ---------------------------------------------------------------------------
# 1. context-scoped verdict joins
# ---------------------------------------------------------------------------


def test_register_batch_ctx_no_cross_match(spark):
    """Two contexts share (subject='s', seq=1): ctx 'a' has no history
    (registers), ctx 'b' has an incompatible history (rejected).  The
    verdict must key on (ctx, subject, seq) — a (subject, seq)-only join
    cross-matches and duplicates/mislabels both rows."""
    existing = spark.createDataFrame(
        [("b", "s", 1, "AVRO", model.AVRO_USER_V1)],
        "ctx string, subject string, version int, "
        "schema_type string, schema_text string")
    incoming = spark.createDataFrame(
        [("a", "s", 1, "AVRO", model.AVRO_USER_V2_BAD),
         ("b", "s", 1, "AVRO", model.AVRO_USER_V2_BAD)],
        "ctx string, subject string, seq int, "
        "schema_type string, schema_text string")
    out = register_batch(spark, existing, incoming, mode="BACKWARD",
                         ctx_col="ctx")
    rows = {(r["ctx"], r["subject"], r["seq"]):
            (r["status"], r["assigned_version"])
            for r in out.collect()}
    assert out.count() == 2, "cross-context join fan-out"
    assert rows[("a", "s", 1)] == ("registered", 1)
    assert rows[("b", "s", 1)][0] == "incompatible"


def test_register_batch_ctx_none_mode_carries_ctx(spark):
    """mode='NONE' (no compatibility check) must still emit ctx-scoped
    verdicts: the same text in two contexts registers in both."""
    existing = spark.createDataFrame(
        [], "ctx string, subject string, version int, "
            "schema_type string, schema_text string")
    incoming = spark.createDataFrame(
        [("a", "s", 1, "AVRO", model.AVRO_USER_V1),
         ("b", "s", 1, "AVRO", model.AVRO_USER_V1)],
        "ctx string, subject string, seq int, "
        "schema_type string, schema_text string")
    out = register_batch(spark, existing, incoming, mode="NONE",
                         ctx_col="ctx")
    rows = {(r["ctx"], r["seq"]): r["status"] for r in out.collect()}
    assert out.count() == 2
    assert rows == {("a", 1): "registered", ("b", 1): "registered"}


# ---------------------------------------------------------------------------
# 2. 'latest' on a fully soft-deleted subject → 40401
# ---------------------------------------------------------------------------


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_latest_soft_delete_all_tombstoned_is_40401(spark):
    from axonops_schema_registry_spark.registry.registration import (
        version_delete_status,
    )

    corpus = spark.createDataFrame(
        [("tomb", 1, True), ("tomb", 2, True), ("live", 1, False)],
        "subject string, version int, deleted boolean")
    requests = spark.createDataFrame(
        [("tomb", -1, False), ("tomb", -1, True), ("live", -1, False)],
        "subject string, version int, permanent boolean")
    out = {(r["subject"], r["permanent"]):
           (r["status"], r["resolved_version"])
           for r in version_delete_status(corpus, requests).collect()}
    # reference: GetSchemaBySubjectVersion(-1) filters deleted rows and
    # reports the SUBJECT missing → 40401, not version-not-found 40402
    assert out[("tomb", False)] == ("subject_not_found_40401", None)
    # permanent 'latest' resolves against soft-deleted rows → succeeds
    assert out[("tomb", True)] == ("permanently_deleted_200", 2)
    assert out[("live", False)] == ("soft_deleted_200", 1)


# ---------------------------------------------------------------------------
# 3. J8D oracle covers one-sided kek_names
# ---------------------------------------------------------------------------


def test_j8d_oracle_parity_on_one_sided_keks(spark, tmp_path):
    """Craft an events table where 'dek_only' carries only odd event ids
    (DEK ops, KEK never created) and 'kek_only' only even ids (KEK ops,
    zero DEKs).  Spark fold and DuckDB oracle must agree on BOTH — the
    old inner join dropped them from the oracle."""
    from axonops_schema_registry_spark.queries.registry_queries import (
        J8D_ORACLE,
        j8d_kek_cascade_lifecycle,
    )

    rows = []
    # kek_only: even ids 0,2,4,6 → ops create, soft_delete, undelete, pdel
    for eid in (0, 2, 4, 6):
        rows.append((eid, "kek_only", 1))
    # dek_only: odd ids 1,3,5 → dek create/soft_delete/undelete w/o KEK
    for eid in (1, 3, 5):
        rows.append((eid, "dek_only", eid))
    # both: a normal interleaved kek
    for eid in (8, 9, 10, 11):
        rows.append((eid, "both", eid))
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "user_id"])
    pdf["ts"] = pd.Timestamp("2024-01-01")
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    path = os.path.join(tmp_path, "events.parquet")
    pdf.to_parquet(path)

    spark_rows = {r["kek_name"]: r.asDict() for r in
                  j8d_kek_cascade_lifecycle(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    oracle = con.execute(J8D_ORACLE).fetch_df()
    oracle_rows = {r["kek_name"]: dict(r) for _, r in oracle.iterrows()}
    assert set(spark_rows) == set(oracle_rows) == {
        "kek_only", "dek_only", "both"}
    for k in spark_rows:
        for col in ("kek_state", "n_dek_keys", "n_dek_live",
                    "n_dek_soft_deleted", "n_dek_purged",
                    "n_kek_rejected", "n_dek_rejected"):
            assert spark_rows[k][col] == oracle_rows[k][col], (k, col)
    assert spark_rows["kek_only"]["n_dek_keys"] == 0
    assert spark_rows["dek_only"]["kek_state"] == "absent"


# ---------------------------------------------------------------------------
# 4. writer-allOf probes must not share the visited memo
# ---------------------------------------------------------------------------


def test_writer_allof_failed_probe_does_not_mask_later_candidate():
    """Both allOf conjuncts $ref the same $defs node.  Probing conjunct 1
    fails and (with a shared memo) records the (reader, shared-node)
    pair; conjunct 2's probe then short-circuits to 'no issues' and the
    whole check falsely passes.  The schema genuinely IS incompatible:
    the writer emits integers, the reader requires strings."""
    reader = json.dumps({"type": "string"})
    shared = {"$defs": {"n": {"type": "integer"}},
              "allOf": [{"$ref": "#/$defs/n"}, {"$ref": "#/$defs/n"}]}
    issues = check_jsonschema(reader, json.dumps(shared))
    assert issues, "incompatible writer allOf must be reported"


def test_writer_allof_any_satisfying_conjunct_still_passes():
    reader = json.dumps({"type": "integer"})
    writer = json.dumps({"allOf": [{"type": "integer"},
                                   {"minimum": 3}]})
    assert check_jsonschema(reader, writer) == []


# ---------------------------------------------------------------------------
# harness DATE assertion (VERDICT r4 ask #3): raw DATE columns fail loudly
# ---------------------------------------------------------------------------


def test_harness_rejects_raw_date_columns(spark):
    """A spec emitting a bare DATE column would hash-fail at the driver
    (Spark date vs DuckDB midnight-Timestamp canonicalization); the local
    harness must reject it with an actionable message, not silently
    normalize."""
    from oracle_harness import _frame_result

    pdf = (spark.createDataFrame([("1996-01-01",)], "d string")
           .select(F.col("d").cast("date")).toPandas())
    with pytest.raises(AssertionError, match="DATE-typed column"):
        _frame_result(pdf)

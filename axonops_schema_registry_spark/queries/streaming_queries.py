"""Batch-analog specs for the streaming operators (ST2/ST3/ST6): the same
pure DataFrame→DataFrame transformations the streaming pipeline runs,
executed in batch mode so the driver's DuckDB oracle can check them.
(ST7's batch analog is a10_event_metrics; the streaming execution itself
is covered by tests/test_streaming.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table
from axonops_schema_registry_spark.queries.base import QuerySpec
from axonops_schema_registry_spark.streaming.audit import (
    cef_format,
    filter_event_types,
    normalize_audit,
    rate_limit_flags,
)


def st2_filtered_cef_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ST3: enabled-type filter + CEF sink formatting (audit.go:244-299)."""
    audit = normalize_audit(load_table(spark, sf_dir, "events"))
    return cef_format(filter_event_types(audit, ("error", "purchase")))


ST2_ORACLE = """
SELECT 'CEF:0|axonops|schema-registry-spark|1.0|' || event_type || '|'
       || event_type || '|'
       || CASE WHEN event_type = 'error' THEN '7' ELSE '3' END || '|'
       || 'act=' || CAST(user_id AS VARCHAR)
       || ' request=' || CAST(user_id AS VARCHAR) || '-'
                      || CAST(event_id AS VARCHAR)
       || ' outcome='
       || CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
         AS line
FROM events WHERE event_type IN ('error', 'purchase')
"""


def st6_rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: windowed per-actor rate limiting (ratelimit.go as analytics)."""
    audit = normalize_audit(load_table(spark, sf_dir, "events"))
    flags = rate_limit_flags(audit, window="1 hour", max_per_window=3)
    return flags.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"), "actor_id", "n_requests", "rate_limited")


ST6_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       user_id AS actor_id, COUNT(*) AS n_requests,
       COUNT(*) > 3 AS rate_limited
FROM events GROUP BY 1, 2
"""


def st8_exporter_filter_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: exporter subject filtering + rename + context re-homing
    (exporter.go:274-305; context addressing context.go:47-60) — batch
    analog of the schema-linking push."""
    from axonops_schema_registry_spark.registry.model import registry_corpus
    from axonops_schema_registry_spark.streaming.exporter import (
        exporter_transform,
    )

    corpus = registry_corpus(spark, sf_dir).filter(~F.col("deleted"))
    return exporter_transform(
        corpus.select("subject", "version", "schema_id"),
        subjects=["src1*"],
        subject_rename_format="${subject}-mirror",
        context_type="CUSTOM", context="dr-site")


ST8_ORACLE = """
WITH corpus AS (
  SELECT source AS subject,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
           AS version,
         doc_id AS schema_id, (doc_id % 20 = 0) AS deleted
  FROM documents)
SELECT subject, version, schema_id,
       ':.dr-site:' || subject || '-mirror' AS exported_subject
FROM corpus
WHERE NOT deleted AND regexp_matches(lower(subject), '^src1.*$')
"""


#: The reference's full audit-event enum with its comment-group category
#: and whether the op mutates registry state
#: (/root/reference/internal/auth/audit.go:79-162).  ONE literal drives
#: both the Spark dimension frame and the DuckDB oracle VALUES, so the
#: two sides cannot drift.
AUDIT_EVENT_ENUM: tuple[tuple[str, str, bool], ...] = (
    ("schema_register", "schema", True),
    ("schema_delete_soft", "schema", True),
    ("schema_delete_permanent", "schema", True),
    ("schema_get", "schema", False),
    ("schema_lookup", "schema", False),
    ("schema_import", "schema", True),
    ("config_get", "config", False),
    ("config_update", "config", True),
    ("config_delete", "config", True),
    ("mode_get", "mode", False),
    ("mode_update", "mode", True),
    ("mode_delete", "mode", True),
    ("auth_success", "auth", False),
    ("auth_failure", "auth", False),
    ("auth_forbidden", "auth", False),
    ("subject_delete_soft", "subject", True),
    ("subject_delete_permanent", "subject", True),
    ("subject_list", "subject", False),
    ("user_create", "admin", True),
    ("user_update", "admin", True),
    ("user_delete", "admin", True),
    ("password_change", "admin", True),
    ("apikey_create", "admin", True),
    ("apikey_update", "admin", True),
    ("apikey_delete", "admin", True),
    ("apikey_revoke", "admin", True),
    ("apikey_rotate", "admin", True),
    ("kek_create", "encryption", True),
    ("kek_update", "encryption", True),
    ("kek_delete_soft", "encryption", True),
    ("kek_delete_permanent", "encryption", True),
    ("kek_undelete", "encryption", True),
    ("kek_test", "encryption", False),
    ("dek_create", "encryption", True),
    ("dek_delete_soft", "encryption", True),
    ("dek_delete_permanent", "encryption", True),
    ("dek_undelete", "encryption", True),
    ("compatibility_check", "compatibility", False),
    ("exporter_create", "exporter", True),
    ("exporter_update", "exporter", True),
    ("exporter_delete", "exporter", True),
    ("exporter_pause", "exporter", True),
    ("exporter_resume", "exporter", True),
    ("exporter_reset", "exporter", True),
    ("exporter_config_update", "exporter", True),
    ("server_startup", "server", False),
    ("server_shutdown", "server", False),
    ("mcp_tool_call", "mcp", False),
    ("mcp_tool_error", "mcp", False),
    ("mcp_admin_action", "mcp", True),
    ("mcp_confirm_issued", "mcp_confirm", False),
    ("mcp_confirm_rejected", "mcp_confirm", False),
    ("mcp_confirmed", "mcp_confirm", False),
    ("security_warning", "security", False),
    ("auth_ldap_fallback", "security", False),
)


def aud2_event_type_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config/mode-change audit analytics over the reference's full
    audit-event enum (audit.go:79-162): the driver's raw event stream is
    mapped deterministically onto the 55-type enum (event_id mod 55 —
    the replay analog of a production stream that carries real audit
    types), then rolled up per comment-group category: volume, distinct
    actors, state-mutating ops, and failures.  The enum dimension is
    configuration-sized and broadcast; the rollup is one
    map-side-combinable aggregation at category cardinality."""
    n = len(AUDIT_EVENT_ENUM)
    enum_df = spark.createDataFrame(
        [(i, t, c, m) for i, (t, c, m) in enumerate(AUDIT_EVENT_ENUM)],
        "idx int, audit_type string, category string, is_mutation boolean")
    ev = load_table(spark, sf_dir, "events")
    tagged = (ev.withColumn("idx", (F.col("event_id") % n).cast("int"))
              .join(F.broadcast(enum_df), "idx"))
    return (tagged.groupBy("category")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("audit_type").alias("n_types"),
                 F.countDistinct("user_id").alias("n_actors"),
                 F.sum(F.when(F.col("is_mutation"), 1).otherwise(0))
                 .alias("n_mutations"),
                 F.sum(F.when(F.col("event_type") == "error", 1)
                       .otherwise(0)).alias("n_failures")))


_ENUM_VALUES_SQL = ",\n    ".join(
    f"({i}, '{t}', '{c}', {'TRUE' if m else 'FALSE'})"
    for i, (t, c, m) in enumerate(AUDIT_EVENT_ENUM))

AUD2_ORACLE = f"""
WITH enum_dim(idx, audit_type, category, is_mutation) AS (VALUES
    {_ENUM_VALUES_SQL}),
tagged AS (
  SELECT e.*, d.audit_type, d.category, d.is_mutation
  FROM events e JOIN enum_dim d
    ON CAST(e.event_id % {len(AUDIT_EVENT_ENUM)} AS INT) = d.idx)
SELECT category, COUNT(*) AS n_events,
       COUNT(DISTINCT audit_type) AS n_types,
       COUNT(DISTINCT user_id) AS n_actors,
       CAST(SUM(CASE WHEN is_mutation THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mutations,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_failures
FROM tagged GROUP BY category
"""


#: aud3: deterministic HTTP request log derived from the events table —
#: every expression below is PORTABLE SQL evaluated verbatim by both
#: Catalyst and DuckDB, so the classification CASE itself is under the
#: driver's hash gate (single source of truth, no dual maintenance)
_AUD3_VERB = ("CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 'POST' "
              "WHEN 1 THEN 'GET' WHEN 2 THEN 'DELETE' "
              "WHEN 3 THEN 'PUT' ELSE 'POST' END")
_AUD3_PATH = (
    "CASE CAST(event_id % 11 AS INT) "
    "WHEN 0 THEN '/subjects/s' || CAST(user_id AS STRING) || '/versions' "
    "WHEN 1 THEN '/subjects/s' || CAST(user_id AS STRING) "
    "WHEN 2 THEN '/subjects/s' || CAST(user_id AS STRING) || '/versions/1' "
    "WHEN 3 THEN '/compatibility/subjects/s' || CAST(user_id AS STRING)"
    " || '/versions/latest' "
    "WHEN 4 THEN '/config/s' || CAST(user_id AS STRING) "
    "WHEN 5 THEN '/mode' "
    "WHEN 6 THEN '/dek-registry/v1/keks/k' || CAST(user_id AS STRING) "
    "WHEN 7 THEN '/dek-registry/v1/keks/k' || CAST(user_id AS STRING)"
    " || '/deks/sub' || CAST(user_id AS STRING) "
    "WHEN 8 THEN '/exporters/e' || CAST(user_id AS STRING) || '/pause' "
    "WHEN 9 THEN '/admin/users' "
    "ELSE '/import/schemas' END")
_AUD3_PERM = "(event_id % 7 = 0)"
_AUD3_STATUS = ("CASE CAST(event_id % 13 AS INT) WHEN 0 THEN 401 "
                "WHEN 1 THEN 403 WHEN 2 THEN 404 WHEN 3 THEN 409 "
                "WHEN 4 THEN 422 WHEN 5 THEN 429 WHEN 6 THEN 500 "
                "ELSE 200 END")


def aud3_request_classification(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """The audit middleware's request→event derivation as pure
    whole-stage-codegen SQL over an access log (determineEventType
    audit.go:762-941, extractTarget :1098-1147, outcome/reason
    :1016-1046): classify every request, drop unclassifiable ones, and
    roll up at (event_type, target_type, outcome, reason) cardinality.
    The request log is synthesized deterministically from the events
    table; at 100 TB the same plan classifies real access logs with no
    shuffle before the map-side-combined final aggregation."""
    from axonops_schema_registry_spark.streaming.audit import (
        audit_classify_sql,
        audit_path_flag_exprs,
        audit_reason_sql,
        audit_target_type_sql,
        coded_case_sql,
    )

    ev = load_table(spark, sf_dir, "events")
    req = ev.selectExpr(f"{_AUD3_VERB} AS verb",
                        f"{_AUD3_PATH} AS path",
                        f"{_AUD3_PERM} AS is_permanent",
                        f"{_AUD3_STATUS} AS status")
    # two codegen-diet measures (the one-stage string form generated
    # >64 KB of Java in one fused method and fell back to interpreted
    # evaluation — the r6 aud3 regression):
    #  1. the 21 contains() probes are computed ONCE here, so the
    #     50-branch CASE compiles to boolean-attribute tests;
    #  2. the CASE result labels are INT-coded (coded_case_sql), so the
    #     hot path classifies and aggregates over 4 ints — strings are
    #     decoded from array literals AFTER aggregation, at group
    #     cardinality.  Also the 100 TB-right shape: the shuffle
    #     carries (int,int,bool,int) keys, not four strings per group.
    flagged = req.selectExpr(
        "verb", "path", "is_permanent", "status",
        *[f"{e} AS {n}" for n, e in audit_path_flag_exprs().items()])
    cls_sql, cls_labels = coded_case_sql(audit_classify_sql(flags=True))
    tgt_sql, tgt_labels = coded_case_sql(audit_target_type_sql(flags=True))
    rsn_sql, rsn_labels = coded_case_sql(audit_reason_sql())
    coded = flagged.selectExpr(
        f"{cls_sql} AS et_code", f"{tgt_sql} AS tt_code",
        "status >= 200 AND status < 400 AS ok",
        f"{rsn_sql} AS rs_code")
    agg = (coded.groupBy("et_code", "tt_code", "ok", "rs_code")
           .agg(F.count(F.lit(1)).alias("n_requests")))
    # drop the unclassifiable class AFTER aggregation (filter on a
    # group key ≡ pre-agg filter; the '' group costs one extra row per
    # partition).  The condition is anchored to the aggregate output
    # (n_requests, always > 0) on purpose: a bare et_code predicate is
    # legal to push below the aggregate, and PushPredicateThroughNonJoin
    # then substitutes the classify CASE — with the path synthesis
    # inlined into all 21 flags — into the Filter condition at the
    # scan, regenerating the very >64 KB method this query is shaped to
    # avoid (reproduced: Janino 'Code grows beyond 64 KB').
    agg = agg.filter(F.when(F.col("n_requests") > 0,
                            F.col("et_code") != cls_labels.index("")))

    def decode(code: str, labels: list[str]):
        return F.element_at(F.array(*[F.lit(x) for x in labels]),
                            F.col(code) + 1)

    return (agg.select(
                decode("et_code", cls_labels).alias("audit_event_type"),
                decode("tt_code", tgt_labels).alias("target_type"),
                F.when(F.col("ok"), "success").otherwise("failure")
                 .alias("outcome"),
                decode("rs_code", rsn_labels).alias("reason"),
                "n_requests")
            .orderBy("audit_event_type", "target_type", "outcome",
                     "reason"))


def _aud3_oracle() -> str:
    from axonops_schema_registry_spark.streaming.audit import (
        audit_classify_sql,
        audit_path_flag_exprs,
        audit_reason_sql,
        audit_target_type_sql,
    )

    flag_cols = ",\n         ".join(
        f"{e} AS {n}" for n, e in audit_path_flag_exprs().items())
    return f"""
WITH req AS (
  SELECT {_AUD3_VERB} AS verb, {_AUD3_PATH} AS path,
         {_AUD3_PERM} AS is_permanent, {_AUD3_STATUS} AS status
  FROM events),
flagged AS (
  SELECT verb, path, is_permanent, status,
         {flag_cols}
  FROM req),
classified AS (
  SELECT {audit_classify_sql(flags=True)} AS audit_event_type,
         {audit_target_type_sql(flags=True)} AS target_type,
         CASE WHEN status >= 200 AND status < 400 THEN 'success'
              ELSE 'failure' END AS outcome,
         {audit_reason_sql()} AS reason
  FROM flagged)
SELECT audit_event_type, target_type, outcome, reason,
       COUNT(*) AS n_requests
FROM classified WHERE audit_event_type <> ''
GROUP BY ALL
ORDER BY audit_event_type, target_type, outcome, reason
"""


AUD3_ORACLE = _aud3_oracle()


#: token-bucket spec constants: burst of 2 requests, refill 1 token / 4 h —
#: chosen so the test corpora (mean per-actor inter-arrival ~3.5 h at
#: sf0.001, ~20 min at sf0.01) exercise BOTH admission outcomes heavily
_TB_BURST = 2.0
_TB_RATE = 1.0 / 14400.0


def st9_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 companion with the reference's EXACT admission semantics: a
    continuous-refill per-client token bucket (ratelimit.go:91-113 allow,
    115-176 per-client map) replayed over the audit stream — the batch
    analog of :func:`...streaming.stateful.token_bucket_flags`, which runs
    the same kernel under ``applyInPandasWithState``.  Actors fold
    independently (one O(1) state per actor); the full admission log is
    emitted so the oracle can hash-check every refill/consume step.
    """
    from axonops_schema_registry_spark.streaming.stateful import (
        token_bucket_flags,
    )

    audit = normalize_audit(load_table(spark, sf_dir, "events"))
    audit = audit.withColumn("actor_id", F.col("actor_id") % 5)
    return token_bucket_flags(audit, rate=_TB_RATE, burst=_TB_BURST)


# The oracle replays the identical IEEE-double fold as a recursive CTE:
# per actor ordered by (event-time µs, event_id), each step refills
# LEAST(burst, tokens + Δs * rate) then consumes iff >= 1.  Every literal
# is spelled in E-notation so DuckDB types the arithmetic DOUBLE (a bare
# `1.0/14400.0` is DECIMAL division — quantized, not bit-equal to the
# Python kernel); the expression sequence then matches _bucket_replay
# operation for operation.
_TB_REFILL = ("LEAST(2e0, f.tokens_after + "
              "(CAST(r.us - f.us AS DOUBLE) / 1000000e0) * (1e0 / 14400e0))")

ST9_ORACLE = f"""
WITH RECURSIVE req AS MATERIALIZED (
  SELECT CAST(user_id % 5 AS BIGINT) AS actor_id, event_id,
         epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id % 5
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events),
fold AS (
  SELECT actor_id, event_id, rn, us,
         TRUE AS allowed, 1e0 AS tokens_after
  FROM req WHERE rn = 1
  UNION ALL
  SELECT r.actor_id, r.event_id, r.rn, r.us,
         {_TB_REFILL} >= 1e0,
         CASE WHEN {_TB_REFILL} >= 1e0 THEN {_TB_REFILL} - 1e0
              ELSE {_TB_REFILL} END
  FROM req r JOIN fold f
    ON r.actor_id = f.actor_id AND r.rn = f.rn + 1)
SELECT actor_id, event_id, allowed, tokens_after FROM fold
"""


SPECS: list[QuerySpec] = [
    QuerySpec("st2_filtered_cef_lines", st2_filtered_cef_lines, ST2_ORACLE),
    QuerySpec("st9_token_bucket", st9_token_bucket, ST9_ORACLE),
    QuerySpec("aud3_request_classification", aud3_request_classification,
              AUD3_ORACLE),
    QuerySpec("aud2_event_type_analytics", aud2_event_type_analytics,
              AUD2_ORACLE),
    QuerySpec("st6_rate_limit_flags", st6_rate_limit_flags, ST6_ORACLE),
    QuerySpec("st8_exporter_filter_rename", st8_exporter_filter_rename,
              ST8_ORACLE),
]

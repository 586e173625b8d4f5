"""Registry-domain query specs: corpus lifecycle queries (SQL-oracle) and
the schema-intelligence operators (pandas-UDF cores with golden oracles).

The corpus queries run over the deterministic ``registry_corpus``
derivation (model.py) so they remain DuckDB-checkable; the compatibility /
field-extraction queries run the real domain library via Arrow UDFs against
fixture documents, with frozen golden VALUES oracles (the goldens are
pinned by tests/test_registry_domain.py's spec-derived unit tests).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF type hints resolve from here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from axonops_schema_registry_spark.queries.base import QuerySpec
from axonops_schema_registry_spark.registry import model
from axonops_schema_registry_spark.registry.model import (
    corpus_cte,
    fixture_schemas,
    registry_corpus,
)
from axonops_schema_registry_spark.registry.registration import register_batch
from axonops_schema_registry_spark.registry.spark_udfs import (
    check_pair_udf,
    extract_fields_udf,
    ship_package,
)


def r1_latest_live_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P1 on the registry corpus: latest non-deleted version per subject
    (GET /subjects/{s}/versions/latest; postgres/store.go:210-212)."""
    corpus = registry_corpus(spark, sf_dir).filter(~F.col("deleted"))
    w = Window.partitionBy("subject").orderBy(F.desc("version"))
    return (corpus.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .select("subject", "version", "schema_id", "fingerprint"))


R1_ORACLE = f"""
WITH corpus AS ({corpus_cte()})
SELECT subject, version, schema_id, fingerprint
FROM corpus WHERE NOT deleted
QUALIFY row_number() OVER (PARTITION BY subject ORDER BY version DESC) = 1
"""


def r2_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/W4: full version history of one subject, soft-deletes visible
    (GET /subjects/{s}/versions?deleted=true)."""
    return (registry_corpus(spark, sf_dir)
            .filter(F.col("subject") == "src1")
            .select("subject", "version", "schema_id", "fingerprint",
                    "deleted"))


R2_ORACLE = f"""
WITH corpus AS ({corpus_cte()})
SELECT subject, version, schema_id, fingerprint, deleted
FROM corpus WHERE subject = 'src1'
"""


def r3_schema_versions_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the schema_versions materialized view
    (postgres/migrations.go:230-234)."""
    return (registry_corpus(spark, sf_dir)
            .filter(~F.col("deleted"))
            .groupBy("subject")
            .agg(F.max("version").alias("latest_version"),
                 F.count(F.lit(1)).alias("version_count")))


R3_ORACLE = f"""
WITH corpus AS ({corpus_cte()})
SELECT subject, MAX(version) AS latest_version, COUNT(*) AS version_count
FROM corpus WHERE NOT deleted GROUP BY subject
"""


def r4_registration_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: the registration pipeline end-to-end on the corpus — docs
    >= 450 registered against the < 450 corpus (mode NONE: dedup +
    deterministic version allocation; the compatibility-gated variant is
    r5/r7).  Runs the REAL register_batch job; the oracle re-derives the
    same semantics in SQL."""
    existing = (registry_corpus(spark, sf_dir, max_schema_id=450)
                .select("subject", "version",
                        F.lit("RAW").alias("schema_type"), "schema_text",
                        "deleted"))
    docs = model.load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") >= 450)
    incoming = docs.select(F.col("source").alias("subject"),
                           F.col("doc_id").alias("seq"),
                           F.lit("RAW").alias("schema_type"),
                           F.col("text").alias("schema_text"))
    return register_batch(spark, existing, incoming, mode="NONE",
                          native_fingerprint=True)


R4_ORACLE = f"""
WITH corpus AS ({corpus_cte('doc_id < 450')}),
live AS (SELECT * FROM corpus WHERE NOT deleted),
incoming AS (
  SELECT source AS subject, doc_id AS seq, text AS schema_text,
         sha256(text) AS fingerprint
  FROM documents WHERE doc_id >= 450),
marked AS (
  SELECT i.*,
         (EXISTS (SELECT 1 FROM live e
                  WHERE e.subject = i.subject
                    AND e.fingerprint = i.fingerprint)
          OR row_number() OVER (PARTITION BY i.subject, i.fingerprint
                                ORDER BY i.seq) > 1) AS is_duplicate
  FROM incoming i),
prior AS (SELECT subject, MAX(version) AS prior_max FROM corpus
          GROUP BY subject)
SELECT m.subject, m.seq,
       CASE WHEN m.is_duplicate THEN 'duplicate' ELSE 'registered' END
         AS status,
       CASE WHEN m.is_duplicate THEN NULL
            ELSE CAST(COALESCE(p.prior_max, 0)
                 + row_number() OVER (PARTITION BY m.subject, m.is_duplicate
                                      ORDER BY m.seq) AS INT)
       END AS assigned_version,
       0 AS n_issues
FROM marked m LEFT JOIN prior p ON m.subject = p.subject
"""


_COMPAT_CASES = [
    (1, "AVRO", "BACKWARD", model.AVRO_USER_V2, model.AVRO_USER_V1),
    (2, "AVRO", "BACKWARD", model.AVRO_USER_V2_BAD, model.AVRO_USER_V1),
    (3, "AVRO", "FORWARD", model.AVRO_USER_V2_BAD, model.AVRO_USER_V1),
    (4, "AVRO", "FULL", model.AVRO_USER_V2_BAD, model.AVRO_USER_V1),
    (5, "AVRO", "BACKWARD", model.AVRO_USER_V3, model.AVRO_USER_V2),
    (6, "JSON", "BACKWARD", model.JSON_USER_V2, model.JSON_USER_V1),
    (7, "JSON", "FORWARD", model.JSON_USER_V2, model.JSON_USER_V1),
    (8, "PROTOBUF", "BACKWARD", model.PROTO_EVENT_V2, model.PROTO_EVENT_V1),
    (9, "PROTOBUF", "FULL", model.PROTO_EVENT_V2, model.PROTO_EVENT_V1),
    (10, "AVRO", "NONE", model.AVRO_USER_V2_BAD, model.AVRO_USER_V1),
]


def c1_compatibility_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C3 + mode orchestration (checker.go:39-92) as a DataFrame job:
    candidate pairs → direction-aware pandas-UDF checks → verdict."""
    ship_package(spark)
    check = check_pair_udf()
    df = spark.createDataFrame(
        _COMPAT_CASES,
        "case_id int, schema_type string, mode string, new_schema string, "
        "old_schema string")
    backward = check("new_schema", "old_schema", "schema_type")
    forward = check("old_schema", "new_schema", "schema_type")
    df = (df.withColumn("__b", backward).withColumn("__f", forward)
            .withColumn(
                "n_issues",
                F.when(F.col("mode") == "NONE", F.lit(0))
                .when(F.col("mode") == "BACKWARD", F.size("__b.messages"))
                .when(F.col("mode") == "FORWARD", F.size("__f.messages"))
                .otherwise(F.size("__b.messages") + F.size("__f.messages")))
            .withColumn("is_compatible", F.col("n_issues") == 0)
            .select("case_id", "schema_type", "mode", "is_compatible",
                    "n_issues"))
    return df


C1_ORACLE = """
SELECT * FROM (VALUES
    (1, 'AVRO', 'BACKWARD', TRUE, 0),
    (2, 'AVRO', 'BACKWARD', FALSE, 1),
    (3, 'AVRO', 'FORWARD', TRUE, 0),
    (4, 'AVRO', 'FULL', FALSE, 1),
    (5, 'AVRO', 'BACKWARD', TRUE, 0),
    -- JSON V1→V2 adds 'email' to an OPEN content model: backward-
    -- incompatible per the reference's content-model rules (its own BDD
    -- 'add optional property to open content model' uses this exact
    -- pair and expects 409); the FORWARD direction removes the property
    -- against an open reader — compatible
    (6, 'JSON', 'BACKWARD', FALSE, 1),
    (7, 'JSON', 'FORWARD', TRUE, 0),
    (8, 'PROTOBUF', 'BACKWARD', TRUE, 0),
    (9, 'PROTOBUF', 'FULL', TRUE, 0),
    (10, 'AVRO', 'NONE', TRUE, 0)
) AS t(case_id, schema_type, mode, is_compatible, n_issues)
"""


def c2_compat_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Issue-message fidelity: the checker's human-readable diagnostics
    are part of the API surface (the reference returns them in the 409
    body) — pin the exact strings for representative failures."""
    ship_package(spark)
    check = check_pair_udf()
    cases = spark.createDataFrame(
        [
            (1, "AVRO", model.AVRO_USER_V2_BAD, model.AVRO_USER_V1),
            (2, "JSON",
             '{"type":"object","properties":{"v":{"type":"string",'
             '"maxLength":10}}}',
             '{"type":"object","properties":{"v":{"type":"string"}}}'),
            (3, "PROTOBUF",
             'syntax = "proto3";\nmessage E {\n  string v = 1;\n}\n',
             'syntax = "proto3";\nmessage E {\n  int32 v = 1;\n}\n'),
        ],
        "case_id int, schema_type string, new_schema string, old_schema string")
    v = check("new_schema", "old_schema", "schema_type")
    return (cases.withColumn("__v", v)
            .select("case_id", "schema_type",
                    F.explode("__v.messages").alias("message")))


C2_ORACLE = """
SELECT * FROM (VALUES
    (1, 'AVRO',
     'age: reader field has no default and is missing from writer'),
    (2, 'JSON', 'v: reader narrows maxLength (None → 10)'),
    (3, 'PROTOBUF', 'E.v#1: wire type changed int32(varint) → string(lendelim)')
) AS t(case_id, schema_type, message)
"""


_ADDRESS_V1 = ('{"type":"record","name":"Address","namespace":"com.example",'
               '"fields":[{"name":"street","type":"string"}]}')
_ADDRESS_V2 = ('{"type":"record","name":"Address","namespace":"com.example",'
               '"fields":[{"name":"street","type":"string"},'
               '{"name":"city","type":"string","default":""}]}')
_ADDRESS_V2_BAD = ('{"type":"record","name":"Address",'
                   '"namespace":"com.example","fields":'
                   '[{"name":"street","type":"string"},'
                   '{"name":"city","type":"string"}]}')
_USER_WITH_REF = ('{"type":"record","name":"User","fields":'
                  '[{"name":"name","type":"string"},'
                  '{"name":"addr","type":"com.example.Address"}]}')


def c3_compat_with_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-subject reference resolution through the Spark layer: the
    schema under check references a type registered under ANOTHER subject;
    ref texts ride along as array columns (pre-joined from
    schema_references), resolved before the pairwise check
    (registry.go:336-351, 1546-1592)."""
    from axonops_schema_registry_spark.registry.spark_udfs import (
        check_pair_with_refs_udf,
    )

    ship_package(spark)
    check = check_pair_with_refs_udf()
    cases = spark.createDataFrame(
        [
            (1, "AVRO", _USER_WITH_REF, _USER_WITH_REF,
             [_ADDRESS_V2], [_ADDRESS_V1]),      # city has default → ok
            (2, "AVRO", _USER_WITH_REF, _USER_WITH_REF,
             [_ADDRESS_V2_BAD], [_ADDRESS_V1]),  # no default → fails
        ],
        "case_id int, schema_type string, new_schema string, "
        "old_schema string, new_refs array<string>, old_refs array<string>")
    v = check("new_schema", "old_schema", "schema_type", "new_refs",
              "old_refs")
    return cases.select("case_id",
                        v["is_compatible"].alias("is_compatible"),
                        F.size(v["messages"]).alias("n_issues"))


C3_ORACLE = """
SELECT * FROM (VALUES (1, TRUE, 0), (2, FALSE, 1))
  AS t(case_id, is_compatible, n_issues)
"""


def f13_field_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: recursive field extraction exploded into the fields table
    (internal/analysis/fields.go:28-242) — compute once, reuse everywhere."""
    ship_package(spark)
    fields = extract_fields_udf()
    fx = fixture_schemas(spark).filter(
        F.col("subject").isin("user-value", "order-events-value",
                              "profile-value", "event-value")
        & (F.col("version") == F.when(F.col("subject") == "order-events-value",
                                      1).otherwise(2)))
    return (fx.withColumn("field", F.explode(fields("schema_text",
                                                    "schema_type")))
              .select("subject", "version",
                      F.col("field.name").alias("name"),
                      F.col("field.path").alias("path"),
                      F.col("field.type").alias("type"),
                      F.col("field.required").alias("required"),
                      F.col("field.has_default").alias("has_default"),
                      F.col("field.doc").alias("doc")))


F13_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 2, 'name', 'name', 'string', TRUE, FALSE, NULL),
    ('user-value', 2, 'age', 'age', 'int', TRUE, TRUE, NULL),
    ('order-events-value', 1, 'order_id', 'order_id', 'long', TRUE, FALSE,
     'primary key'),
    ('order-events-value', 1, 'customerId', 'customerId', 'union[null,long]',
     FALSE, TRUE, NULL),
    ('order-events-value', 1, 'items', 'items', 'array', TRUE, FALSE, NULL),
    ('order-events-value', 1, 'sku', 'items[].sku', 'string', TRUE, FALSE,
     NULL),
    ('order-events-value', 1, 'qty', 'items[].qty', 'int', TRUE, TRUE, NULL),
    ('order-events-value', 1, 'attrs', 'attrs', 'map', TRUE, FALSE, NULL),
    ('profile-value', 2, 'name', 'name', 'string', TRUE, FALSE, NULL),
    ('profile-value', 2, 'email', 'email', 'string', FALSE, FALSE, NULL),
    ('event-value', 2, 'id', 'id', 'string', FALSE, FALSE, NULL),
    ('event-value', 2, 'source', 'source', 'string', FALSE, FALSE, NULL)
) AS t(subject, version, name, path, type, required, has_default, doc)
"""


def r7_registration_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 flagship: the full compatibility-GATED registration pipeline on
    real schema documents — dedup, BACKWARD_TRANSITIVE gate (the whole
    history must remain readable: USER_V2_BAD passes against latest V2 but
    fails against V1, so only the transitive gate rejects it), version
    allocation."""
    existing = fixture_schemas(spark)
    incoming = spark.createDataFrame(
        [
            ("user-value", 1, "AVRO", model.AVRO_USER_V2),      # duplicate
            ("user-value", 2, "AVRO", model.AVRO_USER_V2_BAD),  # incompatible
            ("user-value", 3, "AVRO", model.AVRO_USER_V3),      # → v3
            ("event-value", 4, "PROTOBUF", model.PROTO_EVENT_V2),  # duplicate
            ("metrics-value", 5, "AVRO", model.AVRO_USER_V1),   # new subject
        ],
        "subject string, seq int, schema_type string, schema_text string")
    return register_batch(spark, existing, incoming,
                          mode="BACKWARD_TRANSITIVE")


R7_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 1, 'duplicate', NULL, 0),
    ('user-value', 2, 'incompatible', NULL, 1),
    ('user-value', 3, 'registered', 3, 0),
    ('event-value', 4, 'duplicate', NULL, 0),
    ('metrics-value', 5, 'registered', 1, 0)
) AS t(subject, seq, status, assigned_version, n_issues)
"""


def s9_import_with_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: bulk import with explicit IDs + conflict detection
    (registry.go:1184-1309): ids 100-104 re-imported unchanged (exists),
    105-109 with mutated content (conflict), 10000+ fresh (imported)."""
    docs = model.load_table(spark, sf_dir, "documents")
    existing = docs.select(F.col("doc_id").alias("schema_id"),
                           F.sha2("text", 256).alias("fingerprint"))
    unchanged = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 105)) \
        .select(F.col("doc_id").alias("schema_id"),
                F.col("source").alias("subject"),
                F.sha2("text", 256).alias("fingerprint"))
    mutated = docs.filter((F.col("doc_id") >= 105) & (F.col("doc_id") < 110)) \
        .select(F.col("doc_id").alias("schema_id"),
                F.col("source").alias("subject"),
                F.sha2(F.concat(F.col("text"), F.lit(" x")), 256)
                .alias("fingerprint"))
    fresh = docs.filter((F.col("doc_id") >= 110) & (F.col("doc_id") < 115)) \
        .select((F.col("doc_id") + 10000).alias("schema_id"),
                F.col("source").alias("subject"),
                F.sha2("text", 256).alias("fingerprint"))
    incoming = unchanged.unionByName(mutated).unionByName(fresh)
    from axonops_schema_registry_spark.registry.registration import (
        import_batch,
    )

    return import_batch(spark, existing, incoming)


S9_ORACLE = """
WITH existing AS (SELECT doc_id AS schema_id, sha256(text) AS fingerprint
                  FROM documents),
incoming AS (
  SELECT doc_id AS schema_id, source AS subject, sha256(text) AS fingerprint
  FROM documents WHERE doc_id >= 100 AND doc_id < 105
  UNION ALL
  SELECT doc_id, source, sha256(text || ' x')
  FROM documents WHERE doc_id >= 105 AND doc_id < 110
  UNION ALL
  SELECT doc_id + 10000, source, sha256(text)
  FROM documents WHERE doc_id >= 110 AND doc_id < 115)
SELECT i.schema_id, i.subject, i.fingerprint,
       CASE WHEN e.schema_id IS NULL THEN 'imported'
            WHEN e.fingerprint = i.fingerprint THEN 'exists'
            ELSE 'conflict' END AS status
FROM incoming i LEFT JOIN existing e ON i.schema_id = e.schema_id
"""


def fs1_field_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 restructured field search: the reference's O(subjects) N+1
    loop (analysis.go:157-264) becomes ONE join against the precomputed
    exploded fields table, with snake-normalization on both sides so
    naming variants match (exact mode)."""
    from axonops_schema_registry_spark.operators.text import (
        normalize_name_snake,
    )

    ship_package(spark)
    fields_udf = extract_fields_udf()
    fields = (fixture_schemas(spark)
              .withColumn("field", F.explode(fields_udf("schema_text",
                                                        "schema_type")))
              .select("subject", "version",
                      F.col("field.name").alias("name"),
                      F.col("field.path").alias("path"))
              .withColumn("norm_name",
                          normalize_name_snake(F.col("name"))))
    terms = spark.createDataFrame(
        [("name",), ("customer_id",), ("qty",)], "term string") \
        .withColumn("norm_term", normalize_name_snake(F.col("term")))
    return (fields.join(F.broadcast(terms),
                        fields["norm_name"] == terms["norm_term"])
            .select("term", "subject", "version", "path"))


FS1_ORACLE = """
SELECT * FROM (VALUES
    ('name', 'user-value', 1, 'name'),
    ('name', 'user-value', 2, 'name'),
    ('name', 'profile-value', 1, 'name'),
    ('name', 'profile-value', 2, 'name'),
    ('customer_id', 'order-events-value', 1, 'customerId'),
    ('qty', 'order-events-value', 1, 'items[].qty')
) AS t(term, subject, version, path)
"""


def r8_delete_reregister(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-delete lifecycle (delete_and_reregister.feature,
    postgres/store.go:617-625): schemas whose fingerprint lives ONLY on
    deleted rows re-register as NEW versions — dedup ignores deleted rows,
    but version allocation never reuses their numbers."""
    existing = (registry_corpus(spark, sf_dir, max_schema_id=450)
                .select("subject", "version",
                        F.lit("RAW").alias("schema_type"), "schema_text",
                        "deleted"))
    docs = model.load_table(spark, sf_dir, "documents")
    resubmit = (docs.filter((F.col("doc_id") % 20 == 0)
                            & (F.col("doc_id") < 200))
                .select(F.col("source").alias("subject"),
                        (F.col("doc_id") + 100000).alias("seq"),
                        F.lit("RAW").alias("schema_type"),
                        F.col("text").alias("schema_text")))
    return register_batch(spark, existing, resubmit, mode="NONE",
                          native_fingerprint=True)


R8_ORACLE = f"""
WITH corpus AS ({corpus_cte('doc_id < 450')}),
incoming AS (
  SELECT source AS subject, doc_id + 100000 AS seq, sha256(text) AS fp,
         doc_id
  FROM documents WHERE doc_id % 20 = 0 AND doc_id < 200),
prior AS (SELECT subject, MAX(version) AS prior_max FROM corpus
          GROUP BY subject)
SELECT i.subject, i.seq, 'registered' AS status,
       CAST(p.prior_max + row_number() OVER (PARTITION BY i.subject
                                             ORDER BY i.seq) AS INT)
         AS assigned_version,
       0 AS n_issues
FROM incoming i JOIN prior p ON i.subject = p.subject
"""


def j8_kek_dek_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 + F18: DEK↔KEK join with version windows and expiry checks
    (internal/registry/registry_dek.go:67-179; KEK/DEK model
    storage.go:197-220).  KEKs ← distinct event types; DEKs ← events,
    versioned per KEK by arrival order, expiring before a cutoff."""
    ev = model.load_table(spark, sf_dir, "events")
    deks = ev.select(F.col("event_type").alias("kek_name"),
                     F.col("event_id").alias("dek_id"),
                     F.col("ts"))
    w = Window.partitionBy("kek_name").orderBy("ts", "dek_id")
    versioned = deks.withColumn("dek_version", F.row_number().over(w))
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (versioned
            .withColumn("expired", F.col("ts") < cutoff)
            .groupBy("kek_name")
            .agg(F.count(F.lit(1)).alias("n_deks"),
                 F.sum(F.when(F.col("expired"), 1).otherwise(0))
                 .alias("n_expired"),
                 F.max("dek_version").alias("latest_version")))


J8_ORACLE = """
SELECT event_type AS kek_name, COUNT(*) AS n_deks,
       CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
       CAST(COUNT(*) AS INT) AS latest_version
FROM events GROUP BY event_type
"""

def j8b_dek_rewrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEK rewrap after KEK rotation (RewrapDEK,
    registry_dek.go:131-179) as one batch transform: KEKs ← distinct
    event types (even-suffixed ones rotated to key version 2), DEKs ←
    events wrapped under version 1; every DEK under a rotated KEK gets
    new material wrapped under the current version, the rest stay
    byte-identical.  Rolled up per KEK so the result is compact."""
    from axonops_schema_registry_spark.registry.dek import rewrap_deks

    ev = model.load_table(spark, sf_dir, "events")
    deks = ev.select(F.col("event_type").alias("kek_name"),
                     F.col("event_type").alias("subject"),
                     F.col("event_id").alias("dek_version"),
                     F.sha2(F.col("props"), 256).alias("key_material"),
                     F.lit(1).alias("wrapped_with_version"))
    kt = ev.select("event_type").distinct()
    keks = kt.select(
        F.col("event_type").alias("kek_name"),
        F.concat(F.lit("kms-"), "event_type").alias("kms_key_id"),
        F.when(F.length("event_type") % 2 == 0, 2).otherwise(1)
         .alias("key_version"))
    out = rewrap_deks(deks, keks)
    return (out.groupBy("kek_name", "action", "wrapped_with_version")
            .agg(F.count(F.lit(1)).alias("n_deks"),
                 F.countDistinct("encrypted_key_material")
                 .alias("n_distinct_wrapped"),
                 F.sum(F.when(F.col("encrypted_key_material")
                              == F.col("old_encrypted_key_material"), 1)
                       .otherwise(0)).alias("n_unchanged")))


J8B_ORACLE = """
WITH deks AS (
  SELECT event_type AS kek_name, event_id AS dek_version,
         sha256(props) AS key_material, 1 AS wrapped_with_version
  FROM events),
keks AS (
  SELECT event_type AS kek_name, 'kms-' || event_type AS kms_key_id,
         CASE WHEN strlen(event_type) % 2 = 0 THEN 2 ELSE 1 END
           AS key_version
  FROM (SELECT DISTINCT event_type FROM events)),
rewrapped AS (
  SELECT d.kek_name,
         CASE WHEN d.wrapped_with_version < k.key_version
              THEN 'rewrapped' ELSE 'current' END AS action,
         CASE WHEN d.wrapped_with_version < k.key_version
              THEN k.key_version ELSE d.wrapped_with_version END
           AS wrapped_with_version,
         sha256(k.kms_key_id || ':' || CAST(d.wrapped_with_version
                AS VARCHAR) || ':' || d.key_material) AS old_material,
         CASE WHEN d.wrapped_with_version < k.key_version
              THEN sha256(k.kms_key_id || ':' || CAST(k.key_version
                   AS VARCHAR) || ':' || d.key_material)
              ELSE sha256(k.kms_key_id || ':' ||
                   CAST(d.wrapped_with_version AS VARCHAR) || ':' ||
                   d.key_material) END AS new_material
  FROM deks d JOIN keks k ON d.kek_name = k.kek_name)
SELECT kek_name, action, wrapped_with_version, COUNT(*) AS n_deks,
       COUNT(DISTINCT new_material) AS n_distinct_wrapped,
       CAST(SUM(CASE WHEN new_material = old_material THEN 1 ELSE 0 END)
         AS BIGINT) AS n_unchanged
FROM rewrapped GROUP BY kek_name, action, wrapped_with_version
"""


_META_LAYERS = [
    # (subject, key, value, layer): 0=default config, 1=schema-specific,
    # 2=override config — later layers win (registry.go:1724-1800)
    ("user-value", "owner", "platform-team", 0),
    ("user-value", "env", "prod", 0),
    ("user-value", "owner", "identity-team", 1),
    ("user-value", "pii", "true", 1),
    ("user-value", "env", "staging", 2),
    ("order-events-value", "owner", "platform-team", 0),
    ("order-events-value", "retention", "30d", 1),
]


def m1_metadata_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10's 3-layer metadata merge default → specific → override
    (registry.go:184-187, 1724-1800): per-key, the highest layer wins;
    the merged map is rendered as a sorted k=v string so the comparison
    is order-proof."""
    layers = spark.createDataFrame(
        _META_LAYERS, "subject string, key string, value string, layer int")
    w = Window.partitionBy("subject", "key").orderBy(F.desc("layer"))
    merged = (layers.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1))
    return (merged.groupBy("subject")
            .agg(F.array_join(
                F.sort_array(F.collect_list(
                    F.concat_ws("=", "key", "value"))), ",")
                .alias("merged_metadata")))


M1_ORACLE = """
WITH layers(subject, key, value, layer) AS (VALUES
    ('user-value', 'owner', 'platform-team', 0),
    ('user-value', 'env', 'prod', 0),
    ('user-value', 'owner', 'identity-team', 1),
    ('user-value', 'pii', 'true', 1),
    ('user-value', 'env', 'staging', 2),
    ('order-events-value', 'owner', 'platform-team', 0),
    ('order-events-value', 'retention', '30d', 1)),
winner AS (
  SELECT subject, key, value
  FROM layers
  QUALIFY row_number() OVER (PARTITION BY subject, key
                             ORDER BY layer DESC) = 1)
SELECT subject,
       array_to_string(list_sort(array_agg(key || '=' || value)), ',')
         AS merged_metadata
FROM winner GROUP BY subject
"""


def a8r_schema_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 registry flavor: per-schema quality counters + grade bucketing
    over extracted fields (internal/analysis/quality.go:25-141) —
    integer counters so the check is arithmetic-exact."""
    ship_package(spark)
    fields_udf = extract_fields_udf()
    fields = (fixture_schemas(spark)
              .withColumn("field", F.explode(fields_udf("schema_text",
                                                        "schema_type")))
              .select("subject", "version", "field.*"))
    counts = (fields.groupBy("subject", "version")
              .agg(F.count(F.lit(1)).alias("n_fields"),
                   F.sum(F.when(F.col("doc").isNotNull(), 1).otherwise(0))
                   .alias("n_documented"),
                   F.sum(F.when(F.col("required"), 1).otherwise(0))
                   .alias("n_required"),
                   F.sum(F.when(F.col("has_default"), 1).otherwise(0))
                   .alias("n_with_default")))
    grade = (F.when(F.col("n_documented") * 2 >= F.col("n_fields"), "good")
              .when(F.col("n_documented") > 0, "fair")
              .otherwise("poor"))
    return counts.withColumn("grade", grade)


A8R_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
     CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'poor'),
    ('user-value', 2, 2, 0, 2, 1, 'poor'),
    ('order-events-value', 1, 6, 1, 5, 2, 'fair'),
    ('profile-value', 1, 1, 0, 1, 0, 'poor'),
    ('profile-value', 2, 2, 0, 1, 0, 'poor'),
    ('event-value', 1, 1, 0, 0, 0, 'poor'),
    ('event-value', 2, 2, 0, 0, 0, 'poor')
) AS t(subject, version, n_fields, n_documented, n_required,
       n_with_default, grade)
"""


def a8q_exact_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 exact flavor: the reference's 4-category 100-point quality
    scorer + complexity grade per schema
    (internal/analysis/quality.go:25-141, handlers/analysis.go:520-537)
    via an Arrow UDF over ``registry.analysis.score_schema_quality`` —
    the same production function the /schemas/quality endpoint parity
    replay exercises."""
    ship_package(spark)

    @F.pandas_udf("overall_score int, max_score int, grade string, "
                  "naming int, documentation int, type_safety int, "
                  "evolution int, field_count int, max_depth int, "
                  "complexity_grade string")
    def _score(texts: pd.Series, types: pd.Series) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.analysis import (
            complexity_grade,
            score_schema_quality,
        )
        from axonops_schema_registry_spark.registry.fields import (
            extract_fields,
        )

        rows = []
        for text, st in zip(texts, types):
            fields = extract_fields(text, st)
            r = score_schema_quality(fields, text, st)
            c = complexity_grade(fields)
            rows.append((r["overall_score"], r["max_score"], r["grade"],
                         r["categories"]["naming"]["score"],
                         r["categories"]["documentation"]["score"],
                         r["categories"]["type_safety"]["score"],
                         r["categories"]["evolution"]["score"],
                         c["field_count"], c["max_depth"], c["grade"]))
        return pd.DataFrame(rows, columns=[
            "overall_score", "max_score", "grade", "naming",
            "documentation", "type_safety", "evolution", "field_count",
            "max_depth", "complexity_grade"])

    fx = fixture_schemas(spark)
    return (fx.withColumn("__q", _score("schema_text", "schema_type"))
            .select("subject", "version", "__q.*"))


A8Q_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 1, 25, 100, 'F', 25, 0, 0, 0, 1, 1, 'A'),
    ('user-value', 2, 47, 100, 'F', 25, 0, 12, 10, 2, 1, 'A'),
    ('order-events-value', 1, 69, 100, 'D', 20, 4, 20, 25, 6, 2, 'A'),
    ('profile-value', 1, 25, 100, 'F', 25, 0, 0, 0, 1, 1, 'A'),
    ('profile-value', 2, 25, 100, 'F', 25, 0, 0, 0, 2, 1, 'A'),
    ('event-value', 1, 25, 100, 'F', 25, 0, 0, 0, 1, 1, 'A'),
    ('event-value', 2, 25, 100, 'F', 25, 0, 0, 0, 2, 1, 'A')
) AS t(subject, version, overall_score, max_score, grade, naming,
       documentation, type_safety, evolution, field_count, max_depth,
       complexity_grade)
"""


_RF1_EXISTING = [
    # "pay" v1 reserves ssn via confluent:reserved metadata
    ("pay", 1, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"long"}]}',
     '{"properties":{"confluent:reserved":"ssn"}}'),
]
_RF1_INCOMING = [
    # rule 1: new top-level field collides with the reserved name
    ("pay", 1, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"long"},'
     '{"name":"ssn","type":"string","default":""}]}',
     '{"properties":{"confluent:reserved":"ssn"}}'),
    # rule 2: request metadata drops the previously reserved name
    ("pay", 2, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"long"},'
     '{"name":"note","type":"string","default":""}]}',
     '{"properties":{"owner":"billing"}}'),
    # keeps the reservation, adds a safe field -> registered
    ("pay", 3, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"long"},'
     '{"name":"note","type":"string","default":""}]}',
     '{"properties":{"confluent:reserved":"ssn"}}'),
    # NO metadata at all: raw request reserved set is empty -> rule 2
    # (validation runs BEFORE metadata inheritance, registry.go:175-186)
    ("pay", 4, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"long"},'
     '{"name":"memo","type":"string","default":""}]}',
     None),
    # fresh subject seeds a reservation in-batch...
    ("acct", 5, "AVRO",
     '{"type":"record","name":"Acct","fields":'
     '[{"name":"id","type":"long"}]}',
     '{"properties":{"confluent:reserved":"future"}}'),
    # ...and the NEXT candidate in the same batch must honor it
    ("acct", 6, "AVRO",
     '{"type":"record","name":"Acct","fields":'
     '[{"name":"id","type":"long"},'
     '{"name":"region","type":"string","default":""}]}',
     '{"properties":{}}'),
    # compat rejection still wins over reserved checks (gate order)
    ("pay", 7, "AVRO",
     '{"type":"record","name":"Pay","fields":'
     '[{"name":"amount","type":"string"}]}',
     '{"properties":{"confluent:reserved":"ssn"}}'),
]


def rf1_reserved_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reserved-field validation in the registration pipeline
    (validateFields config, registry.go:175-180 + 1483-1512): reserved
    names from 'confluent:reserved' metadata must not collide with
    top-level schema fields and must not be dropped by later requests —
    sequentially exact inside the batch, on the RAW request metadata."""
    from axonops_schema_registry_spark.registry.registration import (
        register_batch,
    )

    existing = spark.createDataFrame(
        _RF1_EXISTING, "subject string, version int, schema_type string, "
                       "schema_text string, metadata string")
    incoming = spark.createDataFrame(
        _RF1_INCOMING, "subject string, seq long, schema_type string, "
                       "schema_text string, metadata string")
    out = register_batch(spark, existing, incoming, mode="BACKWARD",
                         metadata_col="metadata", validate_fields=True)
    return out.orderBy("seq").select("subject", "seq", "status",
                                     "assigned_version", "n_issues")


RF1_ORACLE = """
SELECT * FROM (VALUES
    ('pay', CAST(1 AS BIGINT), 'reserved_conflict', CAST(NULL AS INT), 1),
    ('pay', 2, 'reserved_conflict', NULL, 1),
    ('pay', 3, 'registered', 2, 0),
    ('pay', 4, 'reserved_conflict', NULL, 1),
    ('acct', 5, 'registered', 1, 0),
    ('acct', 6, 'reserved_conflict', NULL, 1),
    ('pay', 7, 'incompatible', NULL, 1)
) AS t(subject, seq, status, assigned_version, n_issues)
"""


def j4r_subject_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 registry flavor: subject-pair similarity — Jaccard over the
    normalized field-name sets of each subject's LATEST schema
    (analysis.go:376-429), as a join + aggregate, not a cross product."""
    from axonops_schema_registry_spark.operators.text import (
        normalize_name_snake,
    )

    ship_package(spark)
    fields_udf = extract_fields_udf()
    fx = fixture_schemas(spark)
    w = Window.partitionBy("subject").orderBy(F.desc("version"))
    latest = (fx.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1))
    names = (latest
             .withColumn("field", F.explode(fields_udf("schema_text",
                                                       "schema_type")))
             .select("subject",
                     normalize_name_snake(F.col("field.name"))
                     .alias("norm_name"))
             .distinct())
    sizes = names.groupBy("subject").agg(F.count(F.lit(1)).alias("set_size"))
    a = names.select(F.col("subject").alias("subject_a"), "norm_name")
    b = names.select(F.col("subject").alias("subject_b"), "norm_name")
    inter = (a.join(b, "norm_name")
              .filter(F.col("subject_a") < F.col("subject_b"))
              .groupBy("subject_a", "subject_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    return (inter
            .join(sizes.select(F.col("subject").alias("subject_a"),
                               F.col("set_size").alias("size_a")), "subject_a")
            .join(sizes.select(F.col("subject").alias("subject_b"),
                               F.col("set_size").alias("size_b")), "subject_b")
            .withColumn("jaccard",
                        F.col("n_shared").cast("double")
                        / (F.col("size_a") + F.col("size_b")
                           - F.col("n_shared")).cast("double"))
            .filter(F.col("jaccard") >= 0.3)
            .select("subject_a", "subject_b", "n_shared", "size_a", "size_b",
                    "jaccard"))


J4R_ORACLE = """
SELECT 'profile-value' AS subject_a, 'user-value' AS subject_b,
       CAST(1 AS BIGINT) AS n_shared, CAST(2 AS BIGINT) AS size_a,
       CAST(2 AS BIGINT) AS size_b, CAST(1 AS DOUBLE) / 3 AS jaccard
"""


_REF_EDGES = [
    # (subject, ref_name, ref_subject) — the schema_references DAG
    # (FIXTURES.md §1: schema_references; acyclic)
    ("user-value", "com.example.Profile", "profile-value"),
    ("profile-value", "com.example.Event", "event-value"),
    ("order-events-value", "com.example.Profile", "profile-value"),
]


def j3r_reference_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: recursive reference resolution over the schema_references DAG
    (registry.go:1546-1592 resolves one level per call; here two
    self-joins resolve the 2-level closure declaratively)."""
    edges = spark.createDataFrame(
        _REF_EDGES, "subject string, ref_name string, ref_subject string")
    direct = edges.select("subject", "ref_subject",
                          F.lit(1).alias("depth"))
    hop = edges.select(F.col("subject").alias("via"),
                       F.col("ref_subject").alias("ref2"))
    transitive = (edges.join(hop, edges["ref_subject"] == hop["via"])
                  .select("subject", F.col("ref2").alias("ref_subject"),
                          F.lit(2).alias("depth")))
    return direct.unionByName(transitive)


J3R_ORACLE = """
WITH edges(subject, ref_name, ref_subject) AS (VALUES
    ('user-value', 'com.example.Profile', 'profile-value'),
    ('profile-value', 'com.example.Event', 'event-value'),
    ('order-events-value', 'com.example.Profile', 'profile-value'))
SELECT subject, ref_subject, 1 AS depth FROM edges
UNION ALL
SELECT a.subject, b.ref_subject, 2 AS depth
FROM edges a JOIN edges b ON a.ref_subject = b.subject
"""


_DEEP_REF_EDGES = [
    # ≥3-level DAG with a diamond: user reaches event both directly and
    # via profile, so the closure must keep the SHORTEST depth
    ("user-value", "com.example.Profile", "profile-value"),
    ("user-value", "com.example.Event", "event-value"),
    ("profile-value", "com.example.Event", "event-value"),
    ("event-value", "com.example.Common", "common-value"),
    ("order-events-value", "com.example.Profile", "profile-value"),
]


def j3d_dependency_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep J3: dependency closure to FIXPOINT over schema_references
    (GetDependencyGraph walks recursively, analysis.go:758-797;
    registry.go:1546-1592 resolves one level per call) — iterate until
    the frontier empties, depth = shortest hop count, cycle-guarded by
    the seen-set anti-join."""
    from axonops_schema_registry_spark.operators.graph import (
        dependency_closure,
    )

    edges = spark.createDataFrame(
        _DEEP_REF_EDGES,
        "subject string, ref_name string, ref_subject string")
    return dependency_closure(edges)


J3D_ORACLE = """
WITH RECURSIVE edges(subject, ref_subject) AS (VALUES
    ('user-value', 'profile-value'),
    ('user-value', 'event-value'),
    ('profile-value', 'event-value'),
    ('event-value', 'common-value'),
    ('order-events-value', 'profile-value')),
reach(subject, ref_subject, depth) AS (
  SELECT subject, ref_subject, 1 FROM edges
  UNION ALL
  SELECT r.subject, e.ref_subject, r.depth + 1
  FROM reach r JOIN edges e ON r.ref_subject = e.subject
  WHERE r.depth < 10)
SELECT subject, ref_subject, MIN(depth) AS depth
FROM reach GROUP BY subject, ref_subject
"""


def fs2_type_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 search-by-type (analysis.go:266-339), restructured to one
    filter over the precomputed fields table."""
    ship_package(spark)
    fields_udf = extract_fields_udf()
    return (fixture_schemas(spark)
            .withColumn("field", F.explode(fields_udf("schema_text",
                                                      "schema_type")))
            .select("subject", "version",
                    F.col("field.path").alias("path"),
                    F.col("field.type").alias("type"))
            .filter(F.col("type") == "string"))


FS2_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 1, 'name', 'string'),
    ('user-value', 2, 'name', 'string'),
    ('order-events-value', 1, 'items[].sku', 'string'),
    ('profile-value', 1, 'name', 'string'),
    ('profile-value', 2, 'name', 'string'),
    ('profile-value', 2, 'email', 'string'),
    ('event-value', 1, 'id', 'string'),
    ('event-value', 2, 'id', 'string'),
    ('event-value', 2, 'source', 'string')
) AS t(subject, version, path, type)
"""


def ctx1_multitenant_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.1 registry context (tenant namespace, context.go:13-18): the
    corpus partitioned by registry_ctx first — per-(ctx, subject) latest
    live version.  At scale registry_ctx is the leading partition column,
    so per-tenant queries prune to one partition subtree."""
    corpus = registry_corpus(spark, sf_dir).filter(~F.col("deleted"))
    ctx = (F.when(F.substring("subject", 4, 10).cast("int") % 3 == 0,
                  "tenant-a").otherwise("."))
    return (corpus.withColumn("registry_ctx", ctx)
            .groupBy("registry_ctx", "subject")
            .agg(F.max("version").alias("latest_version"),
                 F.count(F.lit(1)).alias("n_versions")))


CTX1_ORACLE = f"""
WITH corpus AS ({corpus_cte()})
SELECT CASE WHEN CAST(subject[4:] AS INT) % 3 = 0
            THEN 'tenant-a' ELSE '.' END AS registry_ctx,
       subject, MAX(version) AS latest_version, COUNT(*) AS n_versions
FROM corpus WHERE NOT deleted
GROUP BY 1, 2
"""


def err1_lookup_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 404xx error-code taxonomy as result-status columns
    (internal/api/types/types.go:170-205; the 40401/40402/40406 split in
    handlers.go:506-563): subject-not-found vs version-not-found vs
    version-deleted vs ok."""
    corpus = registry_corpus(spark, sf_dir)
    deleted_probe = (corpus.filter(F.col("schema_id") == 0)
                     .select("subject", "version"))
    requests = (spark.createDataFrame(
        [("src1", 1), ("src1", 999999), ("no-such-subject", 1)],
        "subject string, version int")
        .unionByName(deleted_probe))
    subjects = corpus.select("subject").distinct() \
        .withColumn("subject_exists", F.lit(True))
    hit = corpus.select("subject", "version",
                        F.col("deleted").alias("hit_deleted"),
                        F.lit(True).alias("version_exists"))
    status = (F.when(F.col("subject_exists").isNull(),
                     "subject_not_found_40401")
               .when(F.col("version_exists").isNull(),
                     "version_not_found_40402")
               .when(F.col("hit_deleted"), "version_deleted_40406")
               .otherwise("ok_200"))
    return (requests
            .join(F.broadcast(subjects), "subject", "left")
            .join(hit, ["subject", "version"], "left")
            .select("subject", "version", status.alias("status")))


ERR1_ORACLE = f"""
WITH corpus AS ({corpus_cte()}),
requests AS (
  SELECT 'src1' AS subject, 1 AS version
  UNION ALL SELECT 'src1', 999999
  UNION ALL SELECT 'no-such-subject', 1
  UNION ALL SELECT subject, version FROM corpus WHERE schema_id = 0)
SELECT r.subject, r.version,
       CASE WHEN NOT EXISTS (SELECT 1 FROM corpus c
                             WHERE c.subject = r.subject)
              THEN 'subject_not_found_40401'
            WHEN c.version IS NULL THEN 'version_not_found_40402'
            WHEN c.deleted THEN 'version_deleted_40406'
            ELSE 'ok_200' END AS status
FROM requests r
LEFT JOIN corpus c ON c.subject = r.subject AND c.version = r.version
"""

_RULESET_CASES = [
    (1, '{"domainRules":[{"name":"encrypt_pii","kind":"TRANSFORM",'
        '"mode":"WRITEREAD","type":"ENCRYPT","tags":["PII"]}]}'),
    (2, '{"migrationRules":[{"name":"v1_to_v2","kind":"TRANSFORM",'
        '"mode":"UPGRADE","expr":"..."}]}'),
    (3, '{"domainRules":[{"name":"bad","kind":"NOPE","mode":"WRITE"}]}'),
    (4, '{"migrationRules":[{"name":"wrongphase","kind":"TRANSFORM",'
        '"mode":"WRITE"}]}'),
    # reference parity (validator.go): duplicate names and CONDITION
    # rules without expr are BOTH legal; bad onSuccess/onFailure and a
    # blank name are not (ruleset_validation.feature)
    (5, '{"domainRules":[{"name":"dup","kind":"CONDITION","mode":"WRITE"},'
        '{"name":"dup","kind":"CONDITION","mode":"WRITE"}]}'),
    (6, '{"domainRules":[{"name":"badact","kind":"CONDITION",'
        '"mode":"READ","onSuccess":"RETRY"}]}'),
    (7, 'null'),
    (8, '{"domainRules":[{"name":"  ","kind":"TRANSFORM","mode":"WRITE"}]}'),
    (9, '{"encodingRules":[{"name":"enc","kind":"TRANSFORM",'
        '"mode":"UPGRADE"}]}'),
    (10, '{"migrationRules":[{"name":"dual","kind":"TRANSFORM",'
         '"mode":"UPDOWN","onSuccess":"ERROR,NONE","onFailure":"NONE"}]}'),
]


def rv1_ruleset_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract ruleSet structural validation
    (internal/rules/validator.go:49-99) via Arrow UDF over stored
    rulesets; golden-pinned verdicts."""
    ship_package(spark)

    @F.pandas_udf("int")
    def _n_issues(rs: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.rules import (
            validate_ruleset,
        )

        return pd.Series([len(validate_ruleset(r)) for r in rs])

    df = spark.createDataFrame(_RULESET_CASES,
                               "case_id int, ruleset string")
    return (df.withColumn("n_issues", _n_issues("ruleset"))
              .select("case_id", (F.col("n_issues") == 0).alias("valid"),
                      "n_issues"))


RV1_ORACLE = """
SELECT * FROM (VALUES
    (1, TRUE, 0), (2, TRUE, 0), (3, FALSE, 1), (4, FALSE, 1),
    (5, TRUE, 0), (6, FALSE, 1), (7, TRUE, 0), (8, FALSE, 1),
    (9, FALSE, 1), (10, TRUE, 0)
) AS t(case_id, valid, n_issues)
"""


def rc1_version_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 × C1: audit every consecutive version pair per subject — lag()
    over the history, pairwise checker UDF on (prev, curr) — the
    compatibility-history endpoint as one window + UDF pass."""
    ship_package(spark)
    check = check_pair_udf()
    fx = fixture_schemas(spark)
    w = Window.partitionBy("subject").orderBy("version")
    chained = (fx.withColumn("prev_text", F.lag("schema_text").over(w))
                 .withColumn("prev_version", F.lag("version").over(w))
                 .filter(F.col("prev_text").isNotNull()))
    verdict = check("schema_text", "prev_text", "schema_type")
    return (chained.withColumn("__v", verdict)
            .select("subject", "prev_version",
                    F.col("version").alias("curr_version"),
                    F.col("__v.is_compatible").alias("backward_compatible"),
                    F.size("__v.messages").alias("n_issues")))


RC1_ORACLE = """
SELECT * FROM (VALUES
    ('user-value', 1, 2, TRUE, 0),
    -- JSON_USER_V1 -> V2 adds 'email' to an open content model:
    -- backward-incompatible under reference content-model semantics
    ('profile-value', 1, 2, FALSE, 1),
    ('event-value', 1, 2, TRUE, 0)
) AS t(subject, prev_version, curr_version, backward_compatible, n_issues)
"""


def u1_user_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """users/api_keys minor dimensions (FIXTURES.md §1,
    migrations.go:68-99): per-role account stats with enabled/expiry
    flags, users derived deterministically from the event actors."""
    ev = model.load_table(spark, sf_dir, "events")
    users = (ev.groupBy(F.col("user_id"))
             .agg(F.count(F.lit(1)).alias("n_requests"),
                  F.max("ts").alias("last_used")))
    role = (F.when(F.col("user_id") % 4 == 0, "admin")
             .when(F.col("user_id") % 4 == 1, "developer")
             .when(F.col("user_id") % 4 == 2, "readonly")
             .otherwise("readwrite"))
    enabled = F.col("user_id") % 10 != 0
    return (users.withColumn("role", role).withColumn("enabled", enabled)
            .groupBy("role")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum(F.when(F.col("enabled"), 1).otherwise(0))
                 .alias("n_enabled"),
                 F.sum("n_requests").alias("n_requests")))


U1_ORACLE = """
WITH users AS (
  SELECT user_id, COUNT(*) AS n_requests FROM events GROUP BY user_id)
SELECT CASE WHEN user_id % 4 = 0 THEN 'admin'
            WHEN user_id % 4 = 1 THEN 'developer'
            WHEN user_id % 4 = 2 THEN 'readonly'
            ELSE 'readwrite' END AS role,
       COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN user_id % 10 <> 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_enabled,
       CAST(SUM(n_requests) AS BIGINT) AS n_requests
FROM users GROUP BY 1
"""


_EXPORT_REFS = [
    # subject → referenced subject (schema_references rows over the corpus)
    ("src1", "src0"), ("src2", "src0"), ("src3", "src1"), ("src3", "src2"),
]


def x1_export_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export bundle per subject (ExportSubject/ExportSchema,
    analysis.go:985-1060): every live version as one serialized document
    plus the subject's references resolved to their target's latest live
    fingerprint.  Arrays are serialized with array_join (driver
    canonicalizer takes atomic columns only)."""
    corpus = registry_corpus(spark, sf_dir).filter(~F.col("deleted"))
    entry = F.concat_ws(
        ":", F.lpad(F.col("version").cast("string"), 4, "0"),
        F.col("schema_id").cast("string"), F.col("fingerprint"))
    bundle = corpus.groupBy("subject").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.array_join(F.sort_array(F.collect_list(entry)), "|")
        .alias("versions_bundle"))
    w = Window.partitionBy("subject").orderBy(F.desc("version"))
    latest = (corpus.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .select(F.col("subject").alias("ref_subject"),
                      F.col("fingerprint").alias("ref_fp")))
    refs = spark.createDataFrame(
        _EXPORT_REFS, "subject string, ref_subject string")
    resolved = (refs.join(F.broadcast(latest), "ref_subject")
                .groupBy("subject")
                .agg(F.array_join(F.sort_array(F.collect_list(
                    F.concat_ws(":", "ref_subject", "ref_fp"))), ",")
                    .alias("resolved_refs")))
    return (bundle.join(F.broadcast(resolved), "subject", "left")
            .withColumn("resolved_refs",
                        F.coalesce("resolved_refs", F.lit(""))))


X1_ORACLE = f"""
WITH corpus AS ({corpus_cte()}),
live AS (SELECT * FROM corpus WHERE NOT deleted),
bundle AS (
  SELECT subject, COUNT(*) AS n_versions,
         array_to_string(list_sort(array_agg(
           lpad(CAST(version AS VARCHAR), 4, '0') || ':' ||
           CAST(schema_id AS VARCHAR) || ':' || fingerprint)), '|')
           AS versions_bundle
  FROM live GROUP BY subject),
latest AS (
  SELECT subject AS ref_subject, fingerprint AS ref_fp FROM live
  QUALIFY row_number() OVER (PARTITION BY subject
                             ORDER BY version DESC) = 1),
refs(subject, ref_subject) AS (VALUES
    ('src1', 'src0'), ('src2', 'src0'), ('src3', 'src1'),
    ('src3', 'src2')),
resolved AS (
  SELECT r.subject,
         array_to_string(list_sort(array_agg(
           r.ref_subject || ':' || l.ref_fp)), ',') AS resolved_refs
  FROM refs r JOIN latest l USING (ref_subject)
  GROUP BY r.subject)
SELECT b.subject, b.n_versions, b.versions_bundle,
       COALESCE(r.resolved_refs, '') AS resolved_refs
FROM bundle b LEFT JOIN resolved r ON b.subject = r.subject
"""


_ENUM_STATUS = '{"type":"enum","name":"Status","symbols":["ACTIVE","INACTIVE"]}'

_SG1_CASES = [
    # (case_id, subject, schema_type, level, change_type,
    #  field_name, field_type, enum_symbol, schema_text)
    (1, "user-value", "AVRO", "BACKWARD", "add_field", "email", "string",
     "", model.AVRO_USER_V2),
    (2, "user-value", "AVRO", "NONE", "add_field", "nickname", "string",
     "", model.AVRO_USER_V2),
    (3, "profile-value", "JSON", "BACKWARD", "add_field", "age", "integer",
     "", model.JSON_USER_V2),
    (4, "event-value", "PROTOBUF", "BACKWARD", "add_field", "region",
     "string", "", model.PROTO_EVENT_V2),
    (5, "user-value", "AVRO", "BACKWARD", "deprecate_field", "age", "",
     "", model.AVRO_USER_V2),
    (6, "status-value", "AVRO", "BACKWARD", "add_enum_symbol", "", "",
     "PENDING", _ENUM_STATUS),
    (7, "user-value", "AVRO", "FULL", "remove_field", "name", "", "",
     model.AVRO_USER_V2),
    (8, "user-value", "AVRO", "BACKWARD", "retype_field", "name", "int",
     "", model.AVRO_USER_V2),
]


def sg1_suggest_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evolution advisory (SuggestSchemaEvolution, analysis.go:875-983 +
    tools_intelligence.go:579-710; SuggestCompatibleChange level guidance,
    analysis.go:1105-1139): each change request is answered with the
    reference's pinned advice/snippet strings AND actually applied to the
    current schema, then judged by the real compatibility checker — so
    the verdict column is evidence, not prose."""
    from axonops_schema_registry_spark.registry.spark_udfs import (
        suggest_evolution_udf,
    )

    ship_package(spark)
    suggest = suggest_evolution_udf()
    cases = spark.createDataFrame(
        _SG1_CASES,
        "case_id int, subject string, schema_type string, level string, "
        "change_type string, field_name string, field_type string, "
        "enum_symbol string, schema_text string")
    v = suggest("schema_text", "schema_type", "level", "change_type",
                "field_name", "field_type", "enum_symbol")
    return (cases.withColumn("__v", v)
            .select("case_id", "subject", "level", "change_type",
                    F.col("__v.advice").alias("advice"),
                    F.col("__v.snippet").alias("snippet"),
                    F.col("__v.is_compatible").alias("is_compatible"),
                    F.col("__v.n_issues").alias("n_issues")))


SG1_ORACLE = """
SELECT * FROM (VALUES
    (1, 'user-value', 'BACKWARD', 'add_field',
     'Add with default value for BACKWARD compatibility',
     '{"name":"email","type":["null","string"],"default":null}', TRUE, 0),
    (2, 'user-value', 'NONE', 'add_field',
     'Add without default since compatibility level is NONE',
     '{"name":"nickname","type":"string"}', TRUE, 0),
    (3, 'profile-value', 'BACKWARD', 'add_field',
     'Add to properties; do not add to required array if backward-compatible',
     '"age":{"type":"integer"}', FALSE, 1),
    (4, 'event-value', 'BACKWARD', 'add_field',
     'Add with a new unique field number',
     'string region = <next_number>;', TRUE, 0),
    (5, 'user-value', 'BACKWARD', 'deprecate_field',
     'Add @deprecated to doc, add aliases for future rename, set default value',
     '', TRUE, 0),
    (6, 'status-value', 'BACKWARD', 'add_enum_symbol',
     'Add the new symbol to the end of the symbols array. This is backward-compatible.',
     '', TRUE, 0),
    (7, 'user-value', 'FULL', 'remove_field',
     'Only add optional fields with defaults; Do NOT remove or rename fields',
     '', FALSE, 1),
    (8, 'user-value', 'BACKWARD', 'retype_field',
     'Add new fields with default values; Do NOT remove existing fields; Do NOT change field types',
     '', FALSE, 1)
) AS t(case_id, subject, level, change_type, advice, snippet,
       is_compatible, n_issues)
"""


_V1_CASES = [
    (1, "AVRO", model.AVRO_USER_V1),
    (2, "AVRO", '{"type":"record","name":"Broken"'),
    (3, "JSON", model.JSON_USER_V1),
    (4, "JSON", "{nope"),
    (5, "PROTOBUF", model.PROTO_EVENT_V1),
    (6, "PROTOBUF", "this is not proto"),
    (7, "THRIFT", "whatever"),
]


def v1_validate_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone validate/normalize (ValidateSchema/NormalizeSchema,
    analysis.go:19-86): parse-error messages and canonical text +
    content-address fingerprint as RESULT columns, per schema language,
    including the invalid-type rejection message."""
    from axonops_schema_registry_spark.registry.spark_udfs import (
        validate_normalize_udf,
    )

    ship_package(spark)
    validate = validate_normalize_udf()
    cases = spark.createDataFrame(
        _V1_CASES, "case_id int, schema_type string, schema_text string")
    v = validate("schema_text", "schema_type")
    return (cases.withColumn("__v", v)
            .select("case_id", "schema_type",
                    F.col("__v.is_valid").alias("is_valid"),
                    F.col("__v.error").alias("error"),
                    F.col("__v.canonical").alias("canonical"),
                    F.col("__v.fingerprint").alias("fingerprint")))


V1_ORACLE = """
SELECT * FROM (VALUES
    (1, 'AVRO', TRUE, '',
     '{"name":"User","type":"record","fields":[{"name":"name","type":"string"}]}',
     'fe179f482b1d9b3b3be3cb7cda226be2b2bd31096bc4cbeb613992cba7524db2'),
    (2, 'AVRO', FALSE,
     'Expecting '','' delimiter: line 1 column 33 (char 32)', '', ''),
    (3, 'JSON', TRUE, '',
     '{"properties":{"name":{"type":"string"}},"required":["name"],"type":"object"}',
     '098974972159a1c508b6fed6baed3bba04cd70d4ee9bbe30f926fb1db0188008'),
    (4, 'JSON', FALSE,
     'Expecting property name enclosed in double quotes: line 1 column 2 (char 1)',
     '', ''),
    (5, 'PROTOBUF', TRUE, '',
     'syntax = "proto3"; message Event { string id = 1; }',
     'f347d83aad44e3abbbf9b3c9e195f8e681bfe7b2762fee11a63a1683eb391ed9'),
    (6, 'PROTOBUF', FALSE, 'no message or enum definitions', '', ''),
    (7, 'THRIFT', FALSE,
     'Invalid schema type ''THRIFT''. Accepted types are AVRO, PROTOBUF, and JSON',
     '', '')
) AS t(case_id, schema_type, is_valid, error, canonical, fingerprint)
"""


_PROTO_EVENT_RETYPED = ('syntax = "proto3";\nmessage Event {\n'
                        '  int32 id = 1;\n  string source = 2;\n}\n')

_EX1_CASES = [
    # (case_id, subject, schema_type, level, candidate, current)
    (1, "user-value", "AVRO", "BACKWARD", model.AVRO_USER_V3,
     model.AVRO_USER_V2),
    (2, "user-value", "AVRO", "BACKWARD", model.AVRO_USER_V2_BAD,
     model.AVRO_USER_V1),
    (3, "profile-value", "JSON", "BACKWARD", model.JSON_USER_V1,
     model.JSON_USER_V2),
    (4, "event-value", "PROTOBUF", "FULL", _PROTO_EVENT_RETYPED,
     model.PROTO_EVENT_V2),
]


def ex1_explain_failure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExplainCompatibilityFailure (analysis.go:1141-1189): the verdict
    at the subject's configured level (direction-correct: FULL checks
    both ways) PLUS the explanation sentence the handler renders when
    the check fails ('The schema is not compatible with the existing
    schema under <level> compatibility'), empty when compatible."""
    ship_package(spark)
    check = check_pair_udf()
    cases = spark.createDataFrame(
        _EX1_CASES,
        "case_id int, subject string, schema_type string, level string, "
        "candidate string, current string")
    backward = check("candidate", "current", "schema_type")
    forward = check("current", "candidate", "schema_type")
    n = (F.when(F.col("level").startswith("BACKWARD"),
                F.size(backward["messages"]))
          .when(F.col("level").startswith("FORWARD"),
                F.size(forward["messages"]))
          .when(F.col("level").startswith("FULL"),
                F.size(backward["messages"]) + F.size(forward["messages"]))
          .otherwise(F.lit(0)))
    ok = n == 0
    explanation = F.when(ok, F.lit("")).otherwise(
        F.concat(F.lit("The schema is not compatible with the existing "
                       "schema under "), F.col("level"),
                 F.lit(" compatibility")))
    return cases.select(
        "case_id", "subject", F.col("level").alias("compatibility_level"),
        ok.alias("is_compatible"), n.alias("n_messages"),
        explanation.alias("explanation"))


EX1_ORACLE = """
SELECT * FROM (VALUES
    (1, 'user-value', 'BACKWARD', TRUE, 0, ''),
    (2, 'user-value', 'BACKWARD', FALSE, 1,
     'The schema is not compatible with the existing schema under BACKWARD compatibility'),
    (3, 'profile-value', 'BACKWARD', TRUE, 0, ''),
    (4, 'event-value', 'FULL', FALSE, 2,
     'The schema is not compatible with the existing schema under FULL compatibility')
) AS t(case_id, subject, compatibility_level, is_compatible, n_messages,
       explanation)
"""


_MP1_CASES = [
    # (case_id, subject, schema_type, source_text, target_text)
    (1, "user-value", "AVRO", model.AVRO_USER_V1, model.AVRO_USER_V3),
    (2, "event-value", "PROTOBUF", model.PROTO_EVENT_V2,
     model.PROTO_EVENT_V1),
    (3, "user-value", "AVRO", model.AVRO_USER_V2, model.AVRO_USER_V2),
]


def mp1_migration_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PlanMigrationPath (analysis.go:914-983): field-set diff between the
    subject's current schema and a target schema, rendered as the
    handler's exact step strings — Add field '<n>' (type: <t>) with a
    default value / Remove field '<n>' (may require compatibility level
    change) / the no-steps sentinel."""
    ship_package(spark)
    fields_udf = extract_fields_udf()
    cases = spark.createDataFrame(
        _MP1_CASES,
        "case_id int, subject string, schema_type string, "
        "source_text string, target_text string")

    def side(col: str, alias: str) -> DataFrame:
        return (cases
                .withColumn("f", F.explode(fields_udf(col, "schema_type")))
                .select(F.col("case_id").alias(f"{alias}_case_id"),
                        F.col("subject").alias(f"{alias}_subject"),
                        F.col("f.name").alias(f"{alias}_name"),
                        F.col("f.type").alias(f"{alias}_type")))

    src = side("source_text", "src")
    tgt = side("target_text", "tgt")
    joined = src.join(
        tgt, (F.col("src_case_id") == F.col("tgt_case_id"))
        & (F.col("src_name") == F.col("tgt_name")), "full_outer")
    adds = (joined.filter(F.col("src_name").isNull())
            .select(F.col("tgt_case_id").alias("case_id"),
                    F.col("tgt_subject").alias("subject"),
                    F.concat(F.lit("Add field '"), F.col("tgt_name"),
                             F.lit("' (type: "), F.col("tgt_type"),
                             F.lit(") with a default value"))
                    .alias("step")))
    removes = (joined.filter(F.col("tgt_name").isNull())
               .select(F.col("src_case_id").alias("case_id"),
                       F.col("src_subject").alias("subject"),
                       F.concat(F.lit("Remove field '"), F.col("src_name"),
                                F.lit("' (may require compatibility level "
                                      "change)")).alias("step")))
    steps = adds.unionByName(removes)
    stepped = steps.select("case_id").distinct()
    no_steps = (cases.join(stepped, "case_id", "left_anti")
                .select("case_id", "subject",
                        F.lit("No migration steps needed — schemas have "
                              "the same fields").alias("step")))
    return steps.unionByName(no_steps)


MP1_ORACLE = """
SELECT * FROM (VALUES
    (1, 'user-value', 'Add field ''age'' (type: int) with a default value'),
    (1, 'user-value',
     'Add field ''email'' (type: union[null,string]) with a default value'),
    (2, 'event-value',
     'Remove field ''source'' (may require compatibility level change)'),
    (3, 'user-value',
     'No migration steps needed — schemas have the same fields')
) AS t(case_id, subject, step)
"""


def exp1_exporter_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exporter lifecycle fold (PauseExporter/ResumeExporter/
    ResetExporter, registry_exporter.go:71-118; states
    storage.go:190): an event-sourced action log per exporter collapses
    to current state (last lifecycle action: create→STARTING,
    pause→PAUSED, resume→RUNNING) and current offset (progress deltas
    AFTER the last reset — reset zeroes the offset but not the state).
    One groupBy pass of conditional aggregates; no per-exporter
    iteration."""
    ev = model.load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("exporter").orderBy("seq")
    log = (ev.select(F.col("event_type").alias("exporter"),
                     F.col("event_id").alias("seq"))
           .withColumn("__rn", F.row_number().over(w_first))
           .withColumn("action",
                       F.when(F.col("__rn") == 1, "create")
                        .when(F.col("seq") % 4 == 1, "pause")
                        .when(F.col("seq") % 4 == 2, "resume")
                        .when(F.col("seq") % 4 == 3, "reset")
                        .otherwise("progress"))
           .withColumn("delta",
                       F.when(F.col("action") == "progress",
                              F.col("seq") % 100).otherwise(F.lit(0))))
    agg = (log.groupBy("exporter").agg(
        F.expr("max_by(action, CASE WHEN action IN ('create','pause',"
               "'resume') THEN seq END)").alias("last_lifecycle"),
        F.max(F.when(F.col("action") == "reset", F.col("seq")))
        .alias("last_reset"),
        F.sum(F.when(F.col("action") == "progress", F.col("delta"))
              .otherwise(0)).alias("total_progress"),
        F.count(F.lit(1)).alias("n_events")))
    post_reset = (log.join(agg.select("exporter", "last_reset"), "exporter")
                  .filter((F.col("action") == "progress")
                          & (F.col("seq") > F.coalesce(F.col("last_reset"),
                                                       F.lit(-1))))
                  .groupBy("exporter")
                  .agg(F.sum("delta").alias("current_offset")))
    state = (F.when(F.col("last_lifecycle") == "pause", "PAUSED")
              .when(F.col("last_lifecycle") == "resume", "RUNNING")
              .otherwise("STARTING"))
    return (agg.join(post_reset, "exporter", "left")
            .select("exporter", state.alias("state"),
                    F.coalesce("current_offset", F.lit(0))
                    .cast("bigint").alias("current_offset"),
                    "n_events"))


EXP1_ORACLE = """
WITH log AS (
  SELECT event_type AS exporter, event_id AS seq,
         CASE WHEN row_number() OVER (PARTITION BY event_type
                                      ORDER BY event_id) = 1
              THEN 'create'
              WHEN event_id % 4 = 1 THEN 'pause'
              WHEN event_id % 4 = 2 THEN 'resume'
              WHEN event_id % 4 = 3 THEN 'reset'
              ELSE 'progress' END AS action
  FROM events),
log2 AS (
  SELECT *, CASE WHEN action = 'progress' THEN seq % 100 ELSE 0 END
            AS delta
  FROM log),
agg AS (
  SELECT exporter,
         max_by(action, CASE WHEN action IN ('create','pause','resume')
                             THEN seq END) AS last_lifecycle,
         MAX(CASE WHEN action = 'reset' THEN seq END) AS last_reset,
         COUNT(*) AS n_events
  FROM log2 GROUP BY exporter),
post AS (
  SELECT l.exporter, SUM(l.delta) AS current_offset
  FROM log2 l JOIN agg a ON l.exporter = a.exporter
  WHERE l.action = 'progress' AND l.seq > COALESCE(a.last_reset, -1)
  GROUP BY l.exporter)
SELECT a.exporter,
       CASE a.last_lifecycle WHEN 'pause' THEN 'PAUSED'
            WHEN 'resume' THEN 'RUNNING' ELSE 'STARTING' END AS state,
       CAST(COALESCE(p.current_offset, 0) AS BIGINT) AS current_offset,
       a.n_events
FROM agg a LEFT JOIN post p ON a.exporter = p.exporter
"""


def aud1_audit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 extension: tamper-evident audit hash chain per event type —
    fold sha256(acc || event_id ':' props) over ts-ordered events,
    seeded 'genesis' (the before/after hash links on every reference
    audit event, mode_enforcement.feature).  Equal head hashes prove
    byte-equal histories; the oracle reproduces the fold with DuckDB's
    list_reduce."""
    from axonops_schema_registry_spark.streaming.audit import (
        audit_hash_chain,
    )

    ev = model.load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.col("ts"), F.col("event_id"),
        F.concat_ws(":", F.col("event_id").cast("string"),
                    F.col("props")).alias("record"))
    return audit_hash_chain(ev, "event_type", ["ts", "event_id"], "record")


AUD1_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       list_reduce(
         list_prepend('genesis',
           array_agg(CAST(event_id AS VARCHAR) || ':' || props
                     ORDER BY ts, event_id)),
         (acc, x) -> sha256(acc || x)) AS head_hash
FROM events GROUP BY event_type
"""


_DEL1_REQUESTS = [
    ("src1", False), ("src1", True), ("src0", False), ("src0", True),
    ("ghost", False),
]


def del1_delete_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-delete taxonomy (DELETE /subjects/{s},
    handlers.go:806-860): soft delete returns the LIVE versions;
    re-soft-deleting an already-soft-deleted subject is 40404
    ('Set permanent=true'); permanent delete REQUIRES prior soft delete
    (40405 'was not deleted first') and then returns ALL versions;
    unknown subjects are 40401.  src0 is the corpus's fully-soft-deleted
    subject."""
    corpus = registry_corpus(spark, sf_dir)
    ver = F.lpad(F.col("version").cast("string"), 4, "0")
    agg = (corpus.groupBy("subject")
           .agg(F.sum(F.when(~F.col("deleted"), 1).otherwise(0))
                .alias("n_live"),
                F.count(F.lit(1)).alias("n_total"),
                F.array_join(F.sort_array(F.collect_list(
                    F.when(~F.col("deleted"), ver))), ",")
                .alias("live_versions"),
                F.array_join(F.sort_array(F.collect_list(ver)), ",")
                .alias("all_versions")))
    requests = spark.createDataFrame(
        _DEL1_REQUESTS, "subject string, permanent boolean")
    j = requests.join(agg, "subject", "left")
    status = (F.when(F.col("n_total").isNull(), "subject_not_found_40401")
               .when(~F.col("permanent") & (F.col("n_live") > 0),
                     "soft_deleted_200")
               .when(~F.col("permanent"), "already_soft_deleted_40404")
               .when(F.col("n_live") > 0, "not_soft_deleted_40405")
               .otherwise("permanently_deleted_200"))
    affected = (F.when(status == "soft_deleted_200",
                       F.col("live_versions"))
                 .when(status == "permanently_deleted_200",
                       F.col("all_versions"))
                 .otherwise(F.lit("")))
    return j.select("subject", "permanent", status.alias("status"),
                    affected.alias("versions_affected"))


DEL1_ORACLE = f"""
WITH corpus AS ({corpus_cte()}),
agg AS (
  SELECT subject,
         SUM(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS n_live,
         COUNT(*) AS n_total,
         array_to_string(list_sort(array_agg(
           lpad(CAST(version AS VARCHAR), 4, '0'))
           FILTER (WHERE NOT deleted)), ',') AS live_versions,
         array_to_string(list_sort(array_agg(
           lpad(CAST(version AS VARCHAR), 4, '0'))), ',') AS all_versions
  FROM corpus GROUP BY subject),
requests(subject, permanent) AS (VALUES
    ('src1', FALSE), ('src1', TRUE), ('src0', FALSE), ('src0', TRUE),
    ('ghost', FALSE)),
j AS (SELECT r.subject, r.permanent, a.n_live, a.n_total,
             a.live_versions, a.all_versions
      FROM requests r LEFT JOIN agg a ON r.subject = a.subject)
SELECT subject, permanent,
       CASE WHEN n_total IS NULL THEN 'subject_not_found_40401'
            WHEN NOT permanent AND n_live > 0 THEN 'soft_deleted_200'
            WHEN NOT permanent THEN 'already_soft_deleted_40404'
            WHEN n_live > 0 THEN 'not_soft_deleted_40405'
            ELSE 'permanently_deleted_200' END AS status,
       CASE WHEN NOT permanent AND n_live > 0 THEN live_versions
            WHEN permanent AND COALESCE(n_live, 1) = 0 THEN all_versions
            ELSE '' END AS versions_affected
FROM j
"""


_MODE_FIXTURE = [(None, "READWRITE"), ("src1", "READONLY"),
                 ("src2", "IMPORT")]


def mode1_write_gating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-mode gating on the registration batch (storage.go:144-147
    ModeRecord, registry_helpers.go:14 CheckModeForWrite,
    handlers.go:605-660): src1 is READONLY → every src1 row blocks with
    ``readonly_mode`` (the 42205 error); src2 is IMPORT → normal
    registration blocks with ``import_mode``; everything else falls back
    to the global READWRITE row and flows through the r4 pipeline."""
    existing = (registry_corpus(spark, sf_dir, max_schema_id=450)
                .select("subject", "version",
                        F.lit("RAW").alias("schema_type"), "schema_text",
                        "deleted"))
    docs = model.load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") >= 450)
    incoming = docs.select(F.col("source").alias("subject"),
                           F.col("doc_id").alias("seq"),
                           F.lit("RAW").alias("schema_type"),
                           F.col("text").alias("schema_text"))
    modes = spark.createDataFrame(_MODE_FIXTURE,
                                  "subject string, mode string")
    return register_batch(spark, existing, incoming, mode="NONE",
                          native_fingerprint=True, modes=modes)


MODE1_ORACLE = f"""
WITH corpus AS ({corpus_cte('doc_id < 450')}),
live AS (SELECT * FROM corpus WHERE NOT deleted),
incoming AS (
  SELECT source AS subject, doc_id AS seq, text AS schema_text,
         sha256(text) AS fingerprint
  FROM documents WHERE doc_id >= 450),
gated AS (
  SELECT i.*, CASE WHEN i.subject = 'src1' THEN 'readonly_mode'
                   WHEN i.subject = 'src2' THEN 'import_mode' END AS block
  FROM incoming i),
allowed AS (SELECT * FROM gated WHERE block IS NULL),
marked AS (
  SELECT a.*,
         (EXISTS (SELECT 1 FROM live e
                  WHERE e.subject = a.subject
                    AND e.fingerprint = a.fingerprint)
          OR row_number() OVER (PARTITION BY a.subject, a.fingerprint
                                ORDER BY a.seq) > 1) AS is_duplicate
  FROM allowed a),
prior AS (SELECT subject, MAX(version) AS prior_max FROM corpus
          GROUP BY subject)
SELECT m.subject, m.seq,
       CASE WHEN m.is_duplicate THEN 'duplicate' ELSE 'registered' END
         AS status,
       CASE WHEN m.is_duplicate THEN NULL
            ELSE CAST(COALESCE(p.prior_max, 0)
                 + row_number() OVER (PARTITION BY m.subject, m.is_duplicate
                                      ORDER BY m.seq) AS INT)
       END AS assigned_version,
       0 AS n_issues
FROM marked m LEFT JOIN prior p ON m.subject = p.subject
UNION ALL
SELECT subject, seq, block AS status, NULL AS assigned_version,
       0 AS n_issues
FROM gated WHERE block IS NOT NULL
"""


_DEL2_REQUESTS = [
    # (subject, version, permanent): every branch of the taxonomy
    ("src1", 1, False),     # soft delete a live version
    ("src1", -1, False),    # "latest" sentinel → max LIVE version
    ("src1", 999, False),   # unknown version → 40402
    ("src1", 0, False),     # invalid version id → 42202
    ("src1", 2, True),      # permanent without prior soft delete?
    ("src0", -1, True),     # "latest" sentinel permanent → max DELETED
    ("src0", 1, False),     # soft-deleting an already-deleted version
    ("ghost", 1, False),    # unknown subject → 40401
    ("ghost", 0, True),     # invalid version beats unknown subject
    ("tomb", -1, False),    # latest soft delete, all versions deleted → 40401
    ("tomb", -1, True),     # latest permanent delete, all deleted → 200
]

#: synthetic subject whose versions are ALL soft-deleted — exercises the
#: 'latest on fully-tombstoned subject' 40401 branch absent from the corpus
_DEL2_TOMB = [("tomb", 1, True), ("tomb", 2, True)]


def version_delete_status(corpus: DataFrame,
                          requests: DataFrame) -> DataFrame:
    """Version-level delete taxonomy (DELETE /subjects/{s}/versions/{v},
    handlers.go:880-935, registry.go:623-676): version ids must be in
    [1, 2^31-1] or the sentinel ``latest``/-1 (42202 otherwise, parsed
    BEFORE any storage access); soft delete resolves ``latest`` against
    LIVE versions and rejects already-deleted or unknown versions with
    40402 (GetSchemaBySubjectVersion filters deleted rows); permanent
    delete resolves ``latest`` against SOFT-DELETED versions, requires
    the version be soft-deleted first (40407 —
    ErrorCodeVersionNotSoftDeleted, types.go:176; 40405 is the
    SUBJECT-level sibling), and unknown subjects are
    40401.  Successful deletes report the RESOLVED version number.

    ``corpus``: (subject, version, deleted, ...);
    ``requests``: (subject, version, permanent).
    """
    per_subj = corpus.groupBy("subject").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.max(F.when(~F.col("deleted"), F.col("version"))).alias("max_live"),
        F.max(F.when(F.col("deleted"), F.col("version")))
        .alias("max_deleted"))
    req = requests.join(F.broadcast(per_subj), "subject", "left")
    resolved = F.when(
        F.col("version") == -1,
        F.when(F.col("permanent"), F.col("max_deleted"))
         .otherwise(F.col("max_live"))).otherwise(F.col("version"))
    req = req.withColumn("resolved_version", resolved)
    ver = corpus.select("subject",
                        F.col("version").alias("resolved_version"),
                        F.col("deleted").alias("ver_deleted"))
    j = req.join(ver, ["subject", "resolved_version"], "left")
    status = (
        F.when((F.col("version") < -1) | (F.col("version") == 0),
               "invalid_version_42202")
        .when(F.col("n_total").isNull(), "subject_not_found_40401")
        # 'latest' soft delete on a subject whose versions are ALL
        # soft-deleted: GetSchemaBySubjectVersion(-1) sees no live rows
        # and reports the SUBJECT as missing (memory/store.go
        # GetLatestSchema path → ErrSubjectNotFound, 40401), not 40402
        .when((F.col("version") == -1) & ~F.col("permanent")
              & F.col("max_live").isNull(), "subject_not_found_40401")
        .when(F.col("ver_deleted").isNull(), "version_not_found_40402")
        .when(~F.col("permanent") & ~F.col("ver_deleted"),
              "soft_deleted_200")
        .when(~F.col("permanent"), "version_not_found_40402")
        .when(F.col("ver_deleted"), "permanently_deleted_200")
        .otherwise("not_soft_deleted_40407"))
    return j.select(
        "subject", "version", "permanent", status.alias("status"),
        F.when(status.endswith("_200"), F.col("resolved_version"))
         .cast("int").alias("resolved_version"))


def del2_version_delete_taxonomy(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Driver spec for :func:`version_delete_status` — one request per
    taxonomy branch against the registry corpus."""
    requests = spark.createDataFrame(
        _DEL2_REQUESTS, "subject string, version int, permanent boolean")
    tomb = spark.createDataFrame(
        _DEL2_TOMB, "subject string, version int, deleted boolean")
    corpus = (registry_corpus(spark, sf_dir)
              .select("subject", "version", "deleted")
              .unionByName(tomb))
    return version_delete_status(corpus, requests)


DEL2_ORACLE = f"""
WITH base AS ({corpus_cte()}),
corpus AS (
  SELECT subject, version, deleted FROM base
  UNION ALL
  SELECT * FROM (VALUES ('tomb', 1, TRUE), ('tomb', 2, TRUE))
    AS t(subject, version, deleted)),
per_subj AS (
  SELECT subject, COUNT(*) AS n_total,
         MAX(CASE WHEN NOT deleted THEN version END) AS max_live,
         MAX(CASE WHEN deleted THEN version END) AS max_deleted
  FROM corpus GROUP BY subject),
requests(subject, version, permanent) AS (VALUES
    ('src1', 1, FALSE), ('src1', -1, FALSE), ('src1', 999, FALSE),
    ('src1', 0, FALSE), ('src1', 2, TRUE), ('src0', -1, TRUE),
    ('src0', 1, FALSE), ('ghost', 1, FALSE), ('ghost', 0, TRUE),
    ('tomb', -1, FALSE), ('tomb', -1, TRUE)),
req AS (
  SELECT r.subject, r.version, r.permanent, p.n_total, p.max_live,
         CASE WHEN r.version = -1
              THEN CASE WHEN r.permanent THEN p.max_deleted
                        ELSE p.max_live END
              ELSE r.version END AS resolved_version
  FROM requests r LEFT JOIN per_subj p ON r.subject = p.subject),
j AS (
  SELECT q.*, c.deleted AS ver_deleted
  FROM req q LEFT JOIN corpus c
    ON q.subject = c.subject AND q.resolved_version = c.version),
labeled AS (
  SELECT subject, version, permanent, resolved_version,
         CASE WHEN version < -1 OR version = 0 THEN 'invalid_version_42202'
              WHEN n_total IS NULL THEN 'subject_not_found_40401'
              WHEN version = -1 AND NOT permanent AND max_live IS NULL
                   THEN 'subject_not_found_40401'
              WHEN ver_deleted IS NULL THEN 'version_not_found_40402'
              WHEN NOT permanent AND NOT ver_deleted THEN 'soft_deleted_200'
              WHEN NOT permanent THEN 'version_not_found_40402'
              WHEN ver_deleted THEN 'permanently_deleted_200'
              ELSE 'not_soft_deleted_40407' END AS status
  FROM j)
SELECT subject, version, permanent, status,
       CAST(CASE WHEN status LIKE '%_200' THEN resolved_version END AS INT)
         AS resolved_version
FROM labeled
"""


#: DEK lifecycle op log derived from events: op kind from event_id mod 4,
#: key = (event_type, user_id mod 5), op order = event_id.
_J8C_OPS = ("create", "soft_delete", "undelete", "permanent_delete")


def _dek_op_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = model.load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("kek_name"),
        (F.col("user_id") % 5).cast("int").alias("dek_version"),
        F.col("event_id"),
        F.element_at(F.array(*[F.lit(o) for o in _J8C_OPS]),
                     (F.col("event_id") % 4 + 1).cast("int")).alias("op"))


def dek_fold_state(ops: list[str]) -> tuple[str, int]:
    """Replay one key's op sequence through the storage-layer DEK state
    machine (memory/store.go:1915-2030).  Returns (final_state,
    n_rejected): create on an existing key is ErrDEKExists; soft delete
    of an absent key and undelete of a non-deleted key are
    ErrDEKNotFound; permanent delete purges regardless of the soft flag;
    a purged key can be re-created."""
    state, n_err = "absent", 0
    for op in ops:
        if op == "create":
            if state == "absent":
                state = "live"
            else:
                n_err += 1          # ErrDEKExists
        elif op == "soft_delete":
            if state == "absent":
                n_err += 1          # ErrDEKNotFound
            else:
                state = "deleted"
        elif op == "undelete":
            if state == "deleted":
                state = "live"
            else:
                n_err += 1          # ErrDEKNotFound (not soft-deleted)
        else:  # permanent_delete
            if state == "absent":
                n_err += 1          # ErrDEKNotFound
            else:
                state = "absent"
    return state, n_err


def j8c_dek_undelete_lifecycle(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """DEK soft-delete → undelete → permanent-delete lifecycle
    (registry_dek.go:104-127 Delete/UndeleteDEK; memory/store.go:
    1915-2030): replay an op log per (kek, version) through the exact
    storage-layer state machine — create on an existing key is
    ErrDEKExists (no state change), soft delete of an absent key and
    undelete of a non-deleted key are ErrDEKNotFound, permanent delete
    purges regardless of the soft flag, and a purged key CAN be
    re-created.  The fold is inherently sequential per key (same
    cogrouped shape as the registration gate — keys parallelize, each
    group's state is O(1)); rolled up per KEK: final live / soft-deleted
    / purged counts plus how many ops the store rejected."""
    ops = _dek_op_log(spark, sf_dir)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        state, n_err = dek_fold_state(list(pdf["op"]))
        return pd.DataFrame([{
            "kek_name": pdf["kek_name"].iloc[0],
            "dek_version": int(pdf["dek_version"].iloc[0]),
            "final_state": state, "n_rejected": n_err}])

    per_key = ops.groupBy("kek_name", "dek_version").applyInPandas(
        fold, "kek_name string, dek_version int, final_state string, "
              "n_rejected long")
    return (per_key.groupBy("kek_name")
            .agg(F.count(F.lit(1)).alias("n_keys"),
                 F.sum(F.when(F.col("final_state") == "live", 1)
                       .otherwise(0)).alias("n_live"),
                 F.sum(F.when(F.col("final_state") == "deleted", 1)
                       .otherwise(0)).alias("n_soft_deleted"),
                 F.sum(F.when(F.col("final_state") == "absent", 1)
                       .otherwise(0)).alias("n_purged"),
                 F.sum("n_rejected").alias("n_rejected_ops")))


J8C_ORACLE = """
WITH RECURSIVE ops AS MATERIALIZED (
  SELECT event_type AS kek_name, CAST(user_id % 5 AS INT) AS dek_version,
         event_id,
         ['create','soft_delete','undelete','permanent_delete']
           [CAST(event_id % 4 AS INT) + 1] AS op,
         row_number() OVER (PARTITION BY event_type, user_id % 5
                            ORDER BY event_id) AS rn
  FROM events),
fold AS (
  SELECT kek_name, dek_version, rn,
         CASE WHEN op = 'create' THEN 'live' ELSE 'absent' END AS state,
         CASE WHEN op = 'create' THEN 0 ELSE 1 END AS n_err
  FROM ops WHERE rn = 1
  UNION ALL
  SELECT o.kek_name, o.dek_version, o.rn,
         CASE WHEN o.op = 'create' AND f.state = 'absent' THEN 'live'
              WHEN o.op = 'soft_delete' AND f.state <> 'absent'
                THEN 'deleted'
              WHEN o.op = 'undelete' AND f.state = 'deleted' THEN 'live'
              WHEN o.op = 'permanent_delete' AND f.state <> 'absent'
                THEN 'absent'
              ELSE f.state END AS state,
         f.n_err + CASE
              WHEN o.op = 'create' AND f.state <> 'absent' THEN 1
              WHEN o.op = 'soft_delete' AND f.state = 'absent' THEN 1
              WHEN o.op = 'undelete' AND f.state <> 'deleted' THEN 1
              WHEN o.op = 'permanent_delete' AND f.state = 'absent' THEN 1
              ELSE 0 END AS n_err
  FROM ops o JOIN fold f
    ON o.kek_name = f.kek_name AND o.dek_version = f.dek_version
   AND o.rn = f.rn + 1),
final AS (
  SELECT kek_name, dek_version, state, n_err,
         row_number() OVER (PARTITION BY kek_name, dek_version
                            ORDER BY rn DESC) AS rr
  FROM fold)
SELECT kek_name, COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN state = 'live' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_live,
       CAST(SUM(CASE WHEN state = 'deleted' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_soft_deleted,
       CAST(SUM(CASE WHEN state = 'absent' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       CAST(SUM(n_err) AS BIGINT) AS n_rejected_ops
FROM final WHERE rr = 1
GROUP BY kek_name
"""


def j8d_kek_cascade_lifecycle(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Two-level KEK→DEK lifecycle with the permanent-delete cascade
    (memory/store.go:1688-1740 DeleteKEK/UndeleteKEK + 1915-2030): KEK
    ops (even event ids) and DEK ops (odd event ids) replay interleaved
    in event order per KEK — permanently deleting a KEK wipes every DEK
    under it (a later create can rebuild both), creating a DEK requires
    the KEK to be present (soft-deleted counts as present: the store
    only checks map membership), and the per-level DFAs match
    :func:`dek_fold_state`.  One cogrouped fold per KEK (keys
    parallelize; per-group state is the KEK's DEK map, bounded); the
    oracle replays the same machine with two recursive-CTE folds glued
    by a native DuckDB ASOF join of DEK ops onto the KEK state
    timeline."""
    ev = model.load_table(spark, sf_dir, "events")
    op_arr = F.array(*[F.lit(o) for o in _J8C_OPS])
    op_of = F.element_at(op_arr, ((F.col("event_id") / 2).cast("long")
                                  % 4 + 1).cast("int"))
    kek_ops = (ev.filter(F.col("event_id") % 2 == 0)
               .select(F.col("event_type").alias("kek_name"), "event_id",
                       F.lit(-1).alias("dek_version"), op_of.alias("op"),
                       F.lit("kek").alias("level")))
    dek_ops = (ev.filter(F.col("event_id") % 2 == 1)
               .select(F.col("event_type").alias("kek_name"), "event_id",
                       (F.col("user_id") % 3).cast("int")
                       .alias("dek_version"), op_of.alias("op"),
                       F.lit("dek").alias("level")))
    ops = kek_ops.unionByName(dek_ops)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        kek_state, kek_err, dek_err = "absent", 0, 0
        deks: dict[int, str] = {}
        tracked: set[int] = set()
        for row in pdf.itertuples(index=False):
            op = row.op
            if row.level == "kek":
                if op == "create":
                    if kek_state == "absent":
                        kek_state = "live"
                    else:
                        kek_err += 1                 # ErrKEKExists
                elif op == "soft_delete":
                    if kek_state == "absent":
                        kek_err += 1                 # ErrKEKNotFound
                    else:
                        kek_state = "deleted"
                elif op == "undelete":
                    if kek_state == "deleted":
                        kek_state = "live"
                    else:
                        kek_err += 1                 # ErrKEKNotFound
                else:                                # permanent_delete
                    if kek_state == "absent":
                        kek_err += 1
                    else:
                        kek_state = "absent"
                        deks.clear()                 # cascade wipe
            else:
                v = int(row.dek_version)
                tracked.add(v)
                st = deks.get(v, "absent")
                if op == "create":
                    # CreateDEK checks s.keks membership — soft-deleted
                    # KEKs are still in the map, only purged ones fail
                    if kek_state == "absent" or st != "absent":
                        dek_err += 1
                    else:
                        deks[v] = "live"
                elif op == "soft_delete":
                    if st == "absent":
                        dek_err += 1
                    else:
                        deks[v] = "deleted"
                elif op == "undelete":
                    if st == "deleted":
                        deks[v] = "live"
                    else:
                        dek_err += 1
                else:                                # permanent_delete
                    if st == "absent":
                        dek_err += 1
                    else:
                        deks.pop(v, None)
        n_live = sum(1 for s in deks.values() if s == "live")
        n_soft = sum(1 for s in deks.values() if s == "deleted")
        return pd.DataFrame([{
            "kek_name": str(pdf["kek_name"].iloc[0]),
            "kek_state": kek_state,
            "n_dek_keys": len(tracked),
            "n_dek_live": n_live,
            "n_dek_soft_deleted": n_soft,
            "n_dek_purged": len(tracked) - n_live - n_soft,
            "n_kek_rejected": kek_err,
            "n_dek_rejected": dek_err}])

    return ops.groupBy("kek_name").applyInPandas(
        fold, "kek_name string, kek_state string, n_dek_keys long, "
              "n_dek_live long, n_dek_soft_deleted long, "
              "n_dek_purged long, n_kek_rejected long, "
              "n_dek_rejected long")


J8D_ORACLE = """
WITH RECURSIVE
kek_ops AS MATERIALIZED (
  SELECT event_type AS kek_name, event_id,
         ['create','soft_delete','undelete','permanent_delete']
           [CAST((event_id // 2) % 4 AS INT) + 1] AS op,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id)
           AS rn
  FROM events WHERE event_id % 2 = 0),
kek_fold AS (
  SELECT kek_name, rn, event_id,
         CASE WHEN op = 'create' THEN 'live' ELSE 'absent' END AS state,
         CASE WHEN op = 'create' THEN 0 ELSE 1 END AS n_err,
         FALSE AS purged
  FROM kek_ops WHERE rn = 1
  UNION ALL
  SELECT o.kek_name, o.rn, o.event_id,
         CASE WHEN o.op = 'create' AND f.state = 'absent' THEN 'live'
              WHEN o.op = 'soft_delete' AND f.state <> 'absent'
                THEN 'deleted'
              WHEN o.op = 'undelete' AND f.state = 'deleted' THEN 'live'
              WHEN o.op = 'permanent_delete' AND f.state <> 'absent'
                THEN 'absent'
              ELSE f.state END,
         f.n_err + CASE
              WHEN o.op = 'create' AND f.state <> 'absent' THEN 1
              WHEN o.op = 'soft_delete' AND f.state = 'absent' THEN 1
              WHEN o.op = 'undelete' AND f.state <> 'deleted' THEN 1
              WHEN o.op = 'permanent_delete' AND f.state = 'absent' THEN 1
              ELSE 0 END,
         (o.op = 'permanent_delete' AND f.state <> 'absent')
  FROM kek_ops o JOIN kek_fold f
    ON o.kek_name = f.kek_name AND o.rn = f.rn + 1),
dek_raw AS MATERIALIZED (
  SELECT event_type AS kek_name, CAST(user_id % 3 AS INT) AS dek_version,
         event_id,
         ['create','soft_delete','undelete','permanent_delete']
           [CAST((event_id // 2) % 4 AS INT) + 1] AS op
  FROM events WHERE event_id % 2 = 1),
enriched AS MATERIALIZED (
  SELECT kek_name, dek_version, event_id, op FROM dek_raw
  UNION ALL
  SELECT p.kek_name, t.dek_version, p.event_id, 'kek_purge'
  FROM (SELECT kek_name, event_id FROM kek_fold WHERE purged) p
  JOIN (SELECT DISTINCT kek_name, dek_version FROM dek_raw) t
    USING (kek_name)),
with_kek AS MATERIALIZED (
  SELECT e.kek_name, e.dek_version, e.event_id, e.op,
         COALESCE(k.state, 'absent') AS kek_state
  FROM enriched e ASOF LEFT JOIN kek_fold k
    ON e.kek_name = k.kek_name AND k.event_id <= e.event_id),
ordered AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY kek_name, dek_version
                               ORDER BY event_id) AS rn
  FROM with_kek),
dek_fold AS (
  SELECT kek_name, dek_version, rn,
         CASE WHEN op = 'create' AND kek_state <> 'absent' THEN 'live'
              ELSE 'absent' END AS state,
         CASE WHEN op = 'kek_purge' THEN 0
              WHEN op = 'create' AND kek_state <> 'absent' THEN 0
              ELSE 1 END AS n_err
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.kek_name, o.dek_version, o.rn,
         CASE WHEN o.op = 'kek_purge' THEN 'absent'
              WHEN o.op = 'create' AND o.kek_state <> 'absent'
                   AND f.state = 'absent' THEN 'live'
              WHEN o.op = 'soft_delete' AND f.state <> 'absent'
                THEN 'deleted'
              WHEN o.op = 'undelete' AND f.state = 'deleted' THEN 'live'
              WHEN o.op = 'permanent_delete' AND f.state <> 'absent'
                THEN 'absent'
              ELSE f.state END,
         f.n_err + CASE
              WHEN o.op = 'kek_purge' THEN 0
              WHEN o.op = 'create' THEN
                CASE WHEN o.kek_state = 'absent' OR f.state <> 'absent'
                     THEN 1 ELSE 0 END
              WHEN o.op = 'soft_delete' THEN
                CASE WHEN f.state = 'absent' THEN 1 ELSE 0 END
              WHEN o.op = 'undelete' THEN
                CASE WHEN f.state <> 'deleted' THEN 1 ELSE 0 END
              ELSE CASE WHEN f.state = 'absent' THEN 1 ELSE 0 END END
  FROM ordered o JOIN dek_fold f
    ON o.kek_name = f.kek_name AND o.dek_version = f.dek_version
   AND o.rn = f.rn + 1),
kek_final AS (
  SELECT kek_name, state AS kek_state, n_err AS n_kek_rejected
  FROM (SELECT *, row_number() OVER (PARTITION BY kek_name
                                     ORDER BY rn DESC) AS rr
        FROM kek_fold) WHERE rr = 1),
dek_final AS (
  SELECT kek_name, dek_version, state, n_err
  FROM (SELECT *, row_number() OVER (PARTITION BY kek_name, dek_version
                                     ORDER BY rn DESC) AS rr
        FROM dek_fold) WHERE rr = 1)
-- FULL join + COALESCE defaults: the Spark fold emits a row for a KEK
-- with zero DEK ops (n_dek_keys = 0) and for DEK ops under a never-created
-- KEK (kek_state 'absent'); an inner join would drop both, making
-- agreement data-dependent on every event_type carrying both parities
SELECT COALESCE(k.kek_name, d.kek_name) AS kek_name,
       COALESCE(k.kek_state, 'absent') AS kek_state,
       CAST(COUNT(d.dek_version) AS BIGINT) AS n_dek_keys,
       CAST(COALESCE(SUM(CASE WHEN d.state = 'live' THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_dek_live,
       CAST(COALESCE(SUM(CASE WHEN d.state = 'deleted' THEN 1 ELSE 0 END),
         0) AS BIGINT) AS n_dek_soft_deleted,
       CAST(COALESCE(SUM(CASE WHEN d.state = 'absent' THEN 1 ELSE 0 END),
         0) AS BIGINT) AS n_dek_purged,
       CAST(COALESCE(MAX(k.n_kek_rejected), 0) AS BIGINT)
         AS n_kek_rejected,
       CAST(COALESCE(SUM(d.n_err), 0) AS BIGINT) AS n_dek_rejected
FROM kek_final k FULL JOIN dek_final d USING (kek_name)
GROUP BY COALESCE(k.kek_name, d.kek_name), COALESCE(k.kek_state, 'absent')
"""


def lv1_context_level_resolution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Context tier for compatibility levels (GetConfigFull's 4-tier
    chain, registry.go:706-776) driving the registration gate: the same
    incompatible candidate registers in ctx ``team-a`` (ctx-global NONE)
    but is rejected in ``.`` and ``team-b`` (fall through to the
    __GLOBAL context's BACKWARD), while ``order-value`` in ``.`` hits
    its per-(ctx, subject) FORWARD row — the tier-1 override.  Histories
    are ctx-scoped end to end (dedup, gate, version allocation)."""
    rows = [
        (".", "user-value", 1, "AVRO", model.AVRO_USER_V1),
        (".", "order-value", 1, "AVRO", model.AVRO_USER_V2_BAD),
        ("team-a", "user-value", 1, "AVRO", model.AVRO_USER_V1),
        ("team-b", "user-value", 1, "AVRO", model.AVRO_USER_V1),
    ]
    existing = spark.createDataFrame(
        rows, "registry_ctx string, subject string, version int, "
              "schema_type string, schema_text string")
    levels = spark.createDataFrame(
        [("team-a", None, "NONE"),
         ("__GLOBAL", None, "BACKWARD"),
         (".", "order-value", "FORWARD")],
        "registry_ctx string, subject string, level string")
    incoming = spark.createDataFrame(
        [(".", "user-value", 1, "AVRO", model.AVRO_USER_V2_BAD),
         ("team-a", "user-value", 2, "AVRO", model.AVRO_USER_V2_BAD),
         ("team-b", "user-value", 3, "AVRO", model.AVRO_USER_V2_BAD),
         (".", "order-value", 4, "AVRO", model.AVRO_USER_V1),
         ("team-a", "order-value", 5, "AVRO", model.AVRO_USER_V1)],
        "registry_ctx string, subject string, seq int, "
        "schema_type string, schema_text string")
    return register_batch(spark, existing, incoming, mode="BACKWARD",
                          levels=levels, ctx_col="registry_ctx")


LV1_ORACLE = """
SELECT * FROM (VALUES
    ('.', 'user-value', 1, 'incompatible', NULL, 1),
    ('team-a', 'user-value', 2, 'registered', 2, 0),
    ('team-b', 'user-value', 3, 'incompatible', NULL, 1),
    ('.', 'order-value', 4, 'incompatible', NULL, 1),
    ('team-a', 'order-value', 5, 'registered', 1, 0)
) AS t(registry_ctx, subject, seq, status, assigned_version, n_issues)
"""


def met1_prometheus_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-derived Prometheus gauges as one distributed aggregation
    (metrics.go:474-486 refreshGauges + the schemas_total /
    subjects_total / schema_versions families, metrics.go:119-142):
    exposition rows (metric, labels, value) over the live corpus.

    The FIXTURES.md §1 ~70/15/15 AVRO/PROTOBUF/JSON mix is a fixture of
    THIS spec (the derived corpus has no native type column), assigned
    deterministically so the DuckDB oracle replays it bit-exactly;
    ``corpus_gauge_rows`` itself is type-agnostic and reads whatever
    ``schema_type`` the caller's corpus carries."""
    from axonops_schema_registry_spark.registry.metrics import (
        corpus_gauge_rows,
    )

    typed = model.registry_corpus(spark, sf_dir).withColumn(
        "schema_type",
        F.when(F.col("schema_id") % 20 < 14, F.lit("AVRO"))
        .when(F.col("schema_id") % 20 < 17, F.lit("PROTOBUF"))
        .otherwise(F.lit("JSON")))
    return corpus_gauge_rows(typed)


MET1_ORACLE = f"""
WITH corpus AS ({corpus_cte()}),
live AS (SELECT * FROM corpus WHERE NOT deleted),
typed AS (
  SELECT *, CASE WHEN schema_id % 20 < 14 THEN 'AVRO'
                 WHEN schema_id % 20 < 17 THEN 'PROTOBUF'
                 ELSE 'JSON' END AS schema_type
  FROM live),
per_subject AS (SELECT subject, COUNT(*) AS n FROM typed GROUP BY subject)
SELECT metric, labels, value FROM (
  SELECT 'schema_registry_schema_versions' AS metric,
         'subject="' || subject || '"' AS labels,
         CAST(n AS DOUBLE) AS value
  FROM per_subject
  UNION ALL
  SELECT 'schema_registry_subjects_total', '',
         CAST(COUNT(*) AS DOUBLE)
  FROM per_subject
  UNION ALL
  SELECT 'schema_registry_schemas_total',
         'type="' || schema_type || '"', CAST(COUNT(*) AS DOUBLE)
  FROM (SELECT DISTINCT schema_type, schema_id FROM typed)
  GROUP BY schema_type
) ORDER BY metric, labels
"""


SPECS: list[QuerySpec] = [
    QuerySpec("r1_latest_live_schema", r1_latest_live_schema, R1_ORACLE,
              tags=("registry", "window")),
    QuerySpec("r2_version_history", r2_version_history, R2_ORACLE,
              tags=("registry",)),
    QuerySpec("r3_schema_versions_view", r3_schema_versions_view, R3_ORACLE,
              tags=("registry", "agg")),
    QuerySpec("r4_registration_batch", r4_registration_batch, R4_ORACLE,
              tags=("registry", "pipeline")),
    QuerySpec("c1_compatibility_matrix", c1_compatibility_matrix, C1_ORACLE,
              tags=("registry", "compat", "udf")),
    QuerySpec("f13_field_extraction", f13_field_extraction, F13_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("r7_registration_gated", r7_registration_gated, R7_ORACLE,
              tags=("registry", "pipeline", "compat", "udf")),
    QuerySpec("s9_import_with_ids", s9_import_with_ids, S9_ORACLE,
              tags=("registry", "pipeline")),
    QuerySpec("fs1_field_search", fs1_field_search, FS1_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("a8r_schema_quality", a8r_schema_quality, A8R_ORACLE,
              tags=("registry", "udf", "agg")),
    QuerySpec("a8q_exact_quality", a8q_exact_quality, A8Q_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("rf1_reserved_fields", rf1_reserved_fields, RF1_ORACLE,
              tags=("registry", "registration")),
    QuerySpec("j4r_subject_similarity", j4r_subject_similarity, J4R_ORACLE,
              tags=("registry", "udf", "join")),
    QuerySpec("r8_delete_reregister", r8_delete_reregister, R8_ORACLE,
              tags=("registry", "pipeline")),
    QuerySpec("j8_kek_dek_lifecycle", j8_kek_dek_lifecycle, J8_ORACLE,
              tags=("registry", "join")),
    QuerySpec("j8b_dek_rewrap", j8b_dek_rewrap, J8B_ORACLE,
              tags=("registry", "join")),
    QuerySpec("m1_metadata_merge", m1_metadata_merge, M1_ORACLE,
              tags=("registry",)),
    QuerySpec("j3r_reference_resolution", j3r_reference_resolution,
              J3R_ORACLE, tags=("registry", "join")),
    QuerySpec("fs2_type_search", fs2_type_search, FS2_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("ctx1_multitenant_listing", ctx1_multitenant_listing,
              CTX1_ORACLE, tags=("registry",)),
    QuerySpec("err1_lookup_taxonomy", err1_lookup_taxonomy, ERR1_ORACLE,
              tags=("registry",)),
    QuerySpec("rv1_ruleset_validation", rv1_ruleset_validation, RV1_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("u1_user_role_stats", u1_user_role_stats, U1_ORACLE,
              tags=("registry", "agg")),
    QuerySpec("rc1_version_chain_audit", rc1_version_chain_audit, RC1_ORACLE,
              tags=("registry", "compat", "window", "udf")),
    QuerySpec("c2_compat_messages", c2_compat_messages, C2_ORACLE,
              tags=("registry", "compat", "udf")),
    QuerySpec("c3_compat_with_refs", c3_compat_with_refs, C3_ORACLE,
              tags=("registry", "compat", "udf")),
    QuerySpec("mode1_write_gating", mode1_write_gating, MODE1_ORACLE,
              tags=("registry", "pipeline")),
    QuerySpec("j3d_dependency_closure", j3d_dependency_closure, J3D_ORACLE,
              tags=("registry", "join", "iterative")),
    QuerySpec("x1_export_subject", x1_export_subject, X1_ORACLE,
              tags=("registry", "agg", "join")),
    QuerySpec("sg1_suggest_evolution", sg1_suggest_evolution, SG1_ORACLE,
              tags=("registry", "compat", "udf")),
    QuerySpec("v1_validate_normalize", v1_validate_normalize, V1_ORACLE,
              tags=("registry", "udf")),
    QuerySpec("ex1_explain_failure", ex1_explain_failure, EX1_ORACLE,
              tags=("registry", "compat", "udf")),
    QuerySpec("mp1_migration_path", mp1_migration_path, MP1_ORACLE,
              tags=("registry", "udf", "setop")),
    QuerySpec("del1_delete_taxonomy", del1_delete_taxonomy, DEL1_ORACLE,
              tags=("registry", "filter")),
    QuerySpec("exp1_exporter_lifecycle", exp1_exporter_lifecycle,
              EXP1_ORACLE, tags=("registry", "streaming", "agg")),
    QuerySpec("aud1_audit_chain", aud1_audit_chain, AUD1_ORACLE,
              tags=("registry", "streaming", "iterative")),
    QuerySpec("del2_version_delete_taxonomy", del2_version_delete_taxonomy,
              DEL2_ORACLE, tags=("registry", "filter")),
    QuerySpec("j8c_dek_undelete_lifecycle", j8c_dek_undelete_lifecycle,
              J8C_ORACLE, tags=("registry", "iterative", "udf")),
    QuerySpec("j8d_kek_cascade_lifecycle", j8d_kek_cascade_lifecycle,
              J8D_ORACLE, tags=("registry", "iterative", "udf")),
    QuerySpec("lv1_context_level_resolution", lv1_context_level_resolution,
              LV1_ORACLE, tags=("registry", "pipeline", "compat", "udf")),
    QuerySpec("met1_prometheus_export", met1_prometheus_export, MET1_ORACLE,
              tags=("registry", "agg", "metrics")),
]

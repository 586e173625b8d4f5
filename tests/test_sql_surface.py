"""The SQL door: the same engine reachable 1:1 through ``spark.sql``."""

from __future__ import annotations

import pytest

from axonops_schema_registry_spark.sql_surface import register_all


@pytest.fixture(scope="module", autouse=True)
def surface(spark, sf_dir):
    register_all(spark, sf_dir)


def test_registry_views(spark):
    live = spark.sql("""
        SELECT subject, MAX(version) AS latest
        FROM registry_live GROUP BY subject
    """).collect()
    expected = spark.sql(
        "SELECT COUNT(DISTINCT subject) AS n FROM registry_live").first().n
    assert len(live) == expected > 0
    total = spark.sql("SELECT COUNT(*) AS n FROM registry_corpus").first().n
    live_n = spark.sql("SELECT COUNT(*) AS n FROM registry_live").first().n
    assert live_n < total  # soft-deletes filtered


def test_fields_view_and_search(spark):
    rows = spark.sql("""
        SELECT subject, path FROM fixture_fields
        WHERE normalize_field_name(name) = 'customer_id'
    """).collect()
    assert [(r.subject, r.path) for r in rows] == \
        [("order-events-value", "customerId")]


@pytest.mark.parametrize("name", [
    "customerId", "CustomerId", "customer-id", "customer id",
    "Customer  -Id", "field1Name", "v2Count", "HTTPServer", ""])
def test_field_name_normalizers_agree(spark, name):
    """The driver-side normaliser, the Column one and the SQL function
    give one answer for every naming style."""
    from pyspark.sql import functions as F

    from axonops_schema_registry_spark.operators.text import (
        normalize_name_snake,
        normalize_name_snake_str,
    )

    row = (spark.createDataFrame([(name,)], "name string")
           .select(normalize_name_snake(F.col("name")).alias("col"),
                   F.expr("normalize_field_name(name)").alias("sql"))
           .first())
    assert normalize_name_snake_str(name) == row.col == row.sql


def test_normalize_field_name_sql_null(spark):
    assert spark.sql(
        "SELECT normalize_field_name(NULL) AS n").first().n == ""


def test_check_compat_sql(spark):
    row = spark.sql("""
        SELECT check_compat(
          '{"type":"record","name":"U","fields":[{"name":"n","type":"string"},
            {"name":"a","type":"int","default":0}]}',
          '{"type":"record","name":"U","fields":[{"name":"n","type":"string"}]}',
          'AVRO') AS ok,
          check_compat(
          '{"type":"record","name":"U","fields":[{"name":"a","type":"int"}]}',
          '{"type":"record","name":"U","fields":[{"name":"n","type":"string"}]}',
          'AVRO') AS bad
    """).first()
    assert row.ok is True and row.bad is False


def test_fingerprint_sql(spark):
    row = spark.sql("""
        SELECT canonical_fingerprint(
                 '{ "type": "record", "name": "U", "fields": [] }', 'AVRO')
               = canonical_fingerprint(
                 '{"type":"record","name":"U","fields":[]}', 'AVRO') AS same
    """).first()
    assert row.same is True


def test_glob_regex_sql(spark):
    rows = spark.sql("""
        SELECT p_name FROM part
        WHERE lower(p_name) RLIKE glob_regex('sm*l*')
    """).collect()
    assert len(rows) > 0
    assert all(r.p_name.startswith("sm") for r in rows)


def test_validate_normalize_sql(spark):
    row = spark.sql("""
        SELECT validate_schema('{"type":"record","name":"U","fields":[]}',
                               'AVRO') AS ok,
               validate_schema('{broken', 'AVRO') AS bad,
               normalize_schema(
                 '{ "fields": [], "name": "U", "type": "record" }',
                 'AVRO') AS canon
    """).first()
    assert row.ok is True and row.bad is False
    assert row.canon == '{"name":"U","type":"record","fields":[]}'


def test_curation_views(spark):
    """The LLM-curation surface is reachable through plain SQL."""
    q = spark.sql("""
        SELECT s.doc_id, s.n_words, r.dup_word_frac, p.n_email
        FROM doc_quality_stats s
        JOIN doc_repetition r USING (doc_id)
        JOIN doc_pii_scan p USING (doc_id)
        WHERE s.n_words > 0
    """)
    assert q.count() > 0
    packs = spark.sql(
        "SELECT SUM(n_docs) AS n FROM pack_manifest_512").first()
    n_docs = spark.sql("SELECT COUNT(*) AS n FROM documents").first().n
    assert packs.n == n_docs
    chunks = spark.sql(
        "SELECT COUNT(*) AS n FROM doc_chunks").first()
    assert chunks.n >= n_docs
    terms = spark.sql("""
        SELECT doc_id, COUNT(*) AS k FROM doc_top_terms
        GROUP BY doc_id ORDER BY k DESC LIMIT 1
    """).first()
    assert terms.k <= 3


def test_fingerprints_view(spark):
    rows = spark.sql("""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM doc_fingerprints a JOIN doc_fingerprints b
          ON a.print_hash = b.print_hash AND a.doc_id < b.doc_id
        LIMIT 5
    """).collect()
    # near-dup corpus: shared winnowed prints exist
    assert rows

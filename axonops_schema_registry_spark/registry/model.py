"""Registry data model on Spark.

Two corpora back the engine's registry queries:

1. ``registry_corpus`` — a deterministic derivation of the reference's
   ``schemas`` table (FIXTURES.md §1) from the driver's ``documents``
   parquet: subject ← source, version ← registration order within subject,
   fingerprint ← sha256(text), soft-delete ← every 20th id.  Being pure
   ANSI SQL, every query over it is DuckDB-oracle-checkable.

2. ``fixture_schemas`` — real Avro/JSON-Schema/Protobuf documents from the
   reference's BDD corpus shapes (FIXTURES.md §3) for the domain-algorithm
   operators (canonicalization, field extraction, compatibility).

At 100 TB the corpus would be a parquet/iceberg table partitioned by
``registry_ctx`` then bucketed by ``subject``; the window in the
derivation runs per-subject, so state is bounded by versions-per-subject.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from axonops_schema_registry_spark.catalog import load_table


def registry_corpus(spark: SparkSession, sf_dir: str,
                    max_schema_id: int | None = None) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if max_schema_id is not None:
        docs = docs.filter(F.col("doc_id") < max_schema_id)
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("source").alias("subject"),
        F.row_number().over(w).cast("int").alias("version"),
        F.col("text").alias("schema_text"),
        F.sha2(F.col("text"), 256).alias("fingerprint"),
        (F.col("doc_id") % 20 == 0).alias("deleted"),
        F.col("doc_id").alias("schema_id"),
    )


def corpus_cte(where: str = "TRUE") -> str:
    """DuckDB twin of :func:`registry_corpus` as a CTE body."""
    return f"""
  SELECT source AS subject,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
           AS version,
         text AS schema_text,
         sha256(text) AS fingerprint,
         (doc_id % 20 = 0) AS deleted,
         doc_id AS schema_id
  FROM documents WHERE {where}
"""


# ---------------------------------------------------------------------------
# Fixture documents (FIXTURES.md §3 shapes — reference BDD corpus patterns)
# ---------------------------------------------------------------------------

AVRO_USER_V1 = ('{"type":"record","name":"User","fields":'
                '[{"name":"name","type":"string"}]}')
AVRO_USER_V2 = ('{"type":"record","name":"User","fields":'
                '[{"name":"name","type":"string"},'
                '{"name":"age","type":"int","default":0}]}')
AVRO_USER_V2_BAD = ('{"type":"record","name":"User","fields":'
                    '[{"name":"name","type":"string"},'
                    '{"name":"age","type":"int"}]}')
AVRO_USER_V3 = ('{"type":"record","name":"User","fields":'
                '[{"name":"name","type":"string"},'
                '{"name":"age","type":"int","default":0},'
                '{"name":"email","type":["null","string"],"default":null}]}')
AVRO_ORDER = ('{"type":"record","name":"Order","namespace":"com.example",'
              '"fields":['
              '{"name":"order_id","type":"long","doc":"primary key"},'
              '{"name":"customerId","type":["null","long"],"default":null},'
              '{"name":"items","type":{"type":"array","items":'
              '{"type":"record","name":"Item","fields":'
              '[{"name":"sku","type":"string"},'
              '{"name":"qty","type":"int","default":1}]}}},'
              '{"name":"attrs","type":{"type":"map","values":"string"}}]}')
JSON_USER_V1 = ('{"type":"object","properties":{"name":{"type":"string"}},'
                '"required":["name"]}')
JSON_USER_V2 = ('{"type":"object","properties":{"name":{"type":"string"},'
                '"email":{"type":"string"}},"required":["name"]}')
PROTO_EVENT_V1 = 'syntax = "proto3";\nmessage Event {\n  string id = 1;\n}\n'
PROTO_EVENT_V2 = ('syntax = "proto3";\nmessage Event {\n  string id = 1;\n'
                  '  string source = 2;\n}\n')


_FIXTURE_SCHEMA = StructType([
    StructField("subject", StringType()),
    StructField("version", IntegerType()),
    StructField("schema_type", StringType()),
    StructField("schema_text", StringType()),
])


def fixture_schemas(spark: SparkSession) -> DataFrame:
    """(subject, version, schema_type, schema_text) fixture table, every
    column nullable.  Built through Arrow: Spark folds it into a local
    relation, so no job over it starts a Python worker."""
    rows = [
        ("user-value", 1, "AVRO", AVRO_USER_V1),
        ("user-value", 2, "AVRO", AVRO_USER_V2),
        ("order-events-value", 1, "AVRO", AVRO_ORDER),
        ("profile-value", 1, "JSON", JSON_USER_V1),
        ("profile-value", 2, "JSON", JSON_USER_V2),
        ("event-value", 1, "PROTOBUF", PROTO_EVENT_V1),
        ("event-value", 2, "PROTOBUF", PROTO_EVENT_V2),
    ]
    table = pa.Table.from_pylist(
        [dict(zip(_FIXTURE_SCHEMA.fieldNames(), r)) for r in rows],
        schema=to_arrow_schema(_FIXTURE_SCHEMA))
    return spark.createDataFrame(table, schema=_FIXTURE_SCHEMA)

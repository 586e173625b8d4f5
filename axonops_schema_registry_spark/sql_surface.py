"""The 1:1 Spark SQL surface (SURVEY.md §4's optional nicety, made real).

``register_all`` publishes the engine into a SparkSession so the whole
query surface is reachable from ``spark.sql``:

- temp views: every driver table, the ``registry_corpus`` derivation, its
  ``registry_live`` (soft-delete-filtered) twin, and the exploded
  ``fixture_fields`` table.  These three are ``RegistryAnalytics.corpus``,
  ``.live()`` and ``.field_plan()`` (``api.py``), so the SQL door and the
  facade read the registry through one implementation.  They stay lazy
  Spark plans: registering them reads nothing, and the facade's
  driver-side snapshot does not back them;
- SQL functions: ``canonical_fingerprint(text, type)``,
  ``check_compat(reader, writer, type)`` (returns is_compatible),
  ``normalize_field_name(name)``, ``glob_regex(pattern)``.

This mirrors the reference's REST/MCP duality — one engine, two doors
(/root/reference/internal/mcp/server.go wraps the same registry the REST
handlers use); here the second door is ANSI SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.api import RegistryAnalytics
from axonops_schema_registry_spark.catalog import register_views
from axonops_schema_registry_spark.registry.model import (
    fixture_schemas,
    registry_corpus,
)
from axonops_schema_registry_spark.registry.spark_udfs import ship_package


def register_all(spark: SparkSession, sf_dir: str) -> None:
    ship_package(spark)
    register_views(spark, sf_dir)

    reg = RegistryAnalytics(spark, registry_corpus(spark, sf_dir))
    reg.corpus.createOrReplaceTempView("registry_corpus")
    reg.live().createOrReplaceTempView("registry_live")
    (RegistryAnalytics(spark, fixture_schemas(spark)).field_plan()
     .createOrReplaceTempView("fixture_fields"))

    @F.pandas_udf("string")
    def canonical_fingerprint_udf(text: pd.Series,
                                  stype: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.spark_udfs import (
            canonical_fingerprint,
        )

        return pd.Series([canonical_fingerprint(t, s)
                          for t, s in zip(text, stype)])

    @F.pandas_udf("boolean")
    def check_compat_udf(reader: pd.Series, writer: pd.Series,
                         stype: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.compat import check_pair

        return pd.Series([not check_pair(r, w, s)
                          for r, w, s in zip(reader, writer, stype)])

    @F.pandas_udf("boolean")
    def validate_schema_udf(text: pd.Series,
                            stype: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.evolution import (
            validate_and_normalize,
        )

        return pd.Series([validate_and_normalize(t, s)["is_valid"]
                          for t, s in zip(text, stype)])

    @F.pandas_udf("string")
    def normalize_schema_udf(text: pd.Series,
                             stype: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.evolution import (
            validate_and_normalize,
        )

        return pd.Series([validate_and_normalize(t, s)["canonical"]
                          for t, s in zip(text, stype)])

    spark.udf.register("canonical_fingerprint", canonical_fingerprint_udf)
    spark.udf.register("check_compat", check_compat_udf)
    spark.udf.register("validate_schema", validate_schema_udf)
    spark.udf.register("normalize_schema", normalize_schema_udf)

    # scalar helpers (cold path, tiny args — plain Python UDFs are fine)
    from axonops_schema_registry_spark.operators.text import (
        glob_to_regex,
        normalize_name_snake_str,
    )

    spark.udf.register("normalize_field_name",
                       lambda name: normalize_name_snake_str(name or ""),
                       "string")
    spark.udf.register("glob_regex", glob_to_regex, "string")

    # -- curation surface as lazy views (the LLM-pipeline door) -----------
    from axonops_schema_registry_spark.catalog import load_table
    from axonops_schema_registry_spark.llm.packing import (
        chunk_documents,
        pack_manifest,
    )
    from axonops_schema_registry_spark.llm.text import (
        gopher_stats,
        pii_counts,
    )
    from axonops_schema_registry_spark.operators.text import (
        repetition_stats,
        tfidf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    (docs.select("doc_id", "source", *gopher_stats("text"))
     .createOrReplaceTempView("doc_quality_stats"))
    (docs.select("doc_id", "source", *pii_counts("text"))
     .createOrReplaceTempView("doc_pii_scan"))
    (repetition_stats(docs, "doc_id", "text")
     .createOrReplaceTempView("doc_repetition"))
    (pack_manifest(docs, 512)
     .createOrReplaceTempView("pack_manifest_512"))
    (chunk_documents(docs, 256, 192)
     .createOrReplaceTempView("doc_chunks"))
    (tfidf_top_terms(docs, "doc_id", "text", 3)
     .createOrReplaceTempView("doc_top_terms"))
    from axonops_schema_registry_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    (winnowing_fingerprints(docs, "doc_id", "text")
     .withColumnRenamed("id", "doc_id")
     .createOrReplaceTempView("doc_fingerprints"))

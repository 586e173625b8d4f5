"""axonops_schema_registry_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
schema registry (axonops/axonops-schema-registry, a Go OLTP-style metadata
server — see SURVEY.md) as an idiomatic Spark library:

- ``catalog``   — typed loaders for the driver's parquet tables.
- ``session``   — a tuned SparkSession builder (AQE, Arrow, one shuffle
                  partition per task slot).
- ``queries``   — the operator inventory from SURVEY.md §2, each entry a
                  DataFrame builder + a DuckDB oracle SQL string.
- ``registry``  — the registry domain library: Avro/JSON canonicalization,
                  fingerprints, field extraction, compatibility checkers,
                  the registration pipeline.
- ``llm``       — large-scale training-data-pipeline operators: dedup
                  (exact / MinHash-LSH / SimHash / n-gram Jaccard),
                  similarity search, text analysis, multimodal plumbing.
- ``streaming`` — Structured Streaming audit analytics (the reference's
                  audit bus + exporter, re-expressed with watermarks).

Everything is DataFrame/Spark-SQL first; Python UDFs appear only where the
semantics are genuinely non-relational (schema canonicalization,
compatibility recursion), and then as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy top-level conveniences (avoid importing pyspark at package import)
    if name == "RegistryAnalytics":
        from axonops_schema_registry_spark.api import RegistryAnalytics

        return RegistryAnalytics
    if name == "register_all":
        from axonops_schema_registry_spark.sql_surface import register_all

        return register_all
    if name == "get_spark":
        from axonops_schema_registry_spark.session import get_spark

        return get_spark
    raise AttributeError(name)

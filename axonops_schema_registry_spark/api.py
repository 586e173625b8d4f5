"""RegistryAnalytics — the engine's user-facing API facade.

One object bundling the query surface a reference user actually calls
(REST/MCP endpoints → methods), so switching means::

    from axonops_schema_registry_spark.api import RegistryAnalytics
    reg = RegistryAnalytics(spark, corpus_df)          # or .from_sf_dir(...)
    reg.latest()                                       # GET /subjects/*/versions/latest
    reg.history("user-value")                          # GET /subjects/{s}/versions
    reg.check("{...}", "user-value", mode="BACKWARD")  # POST /compatibility/...
    reg.register(incoming_df)                          # POST /subjects/{s}/versions
    reg.search_fields("customer_id")                   # POST /schemas/search/field
    reg.similar_subjects(0.3)                          # GET  /analysis/similarity
    reg.statistics()                                   # GET  /analysis/statistics

Every method returns a DataFrame (lazy; callers compose further or
collect).  The corpus contract is the FIXTURES.md §1 ``schemas`` shape:
(subject, version, schema_type, schema_text[, deleted][, fingerprint]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from axonops_schema_registry_spark.operators.core import latest_per_key
from axonops_schema_registry_spark.operators.text import (
    normalize_name_snake,
    normalize_name_snake_str,
)
from axonops_schema_registry_spark.registry.compat import check_compatibility
from axonops_schema_registry_spark.registry.registration import (
    import_batch,
    register_batch,
)
from axonops_schema_registry_spark.registry.spark_udfs import (
    extract_fields_udf,
    ship_package,
)


class RegistryAnalytics:
    def __init__(self, spark: SparkSession, corpus: DataFrame,
                 sf_dir: str | None = None) -> None:
        self.spark = spark
        if "deleted" not in corpus.columns:
            corpus = corpus.withColumn("deleted", F.lit(False))
        self.corpus = corpus
        self.sf_dir = sf_dir

    @classmethod
    def from_sf_dir(cls, spark: SparkSession,
                    sf_dir: str) -> "RegistryAnalytics":
        from axonops_schema_registry_spark.registry.model import (
            registry_corpus,
        )

        corpus = registry_corpus(spark, sf_dir).withColumn(
            "schema_type", F.lit("RAW"))
        return cls(spark, corpus, sf_dir=sf_dir)

    # -- read surface ------------------------------------------------------

    def live(self) -> DataFrame:
        return self.corpus.filter(~F.col("deleted"))

    def subjects(self) -> DataFrame:
        """GET /subjects"""
        return self.live().select("subject").distinct()

    def latest(self, subject: str | None = None) -> DataFrame:
        """GET /subjects/{s}/versions/latest (all subjects when None)."""
        live = self.live()
        if subject is not None:
            live = live.filter(F.col("subject") == subject)
        return latest_per_key(live, ["subject"], ["version"])

    def history(self, subject: str,
                include_deleted: bool = False) -> DataFrame:
        """GET /subjects/{s}/versions"""
        src = self.corpus if include_deleted else self.live()
        return src.filter(F.col("subject") == subject).orderBy("version")

    def versions_view(self) -> DataFrame:
        """The schema_versions aggregate view."""
        return (self.live().groupBy("subject")
                .agg(F.max("version").alias("latest_version"),
                     F.count(F.lit(1)).alias("version_count")))

    def statistics(self) -> DataFrame:
        """GET /analysis/statistics"""
        return (self.live().groupBy("schema_type")
                .agg(F.countDistinct("subject").alias("n_subjects"),
                     F.count(F.lit(1)).alias("n_versions")))

    # -- schema intelligence ----------------------------------------------

    def fields(self) -> DataFrame:
        """The exploded FieldInfo table (computed once, reuse downstream)."""
        ship_package(self.spark)
        fields_udf = extract_fields_udf()
        return (self.live()
                .withColumn("field", F.explode(
                    fields_udf("schema_text", "schema_type")))
                .select("subject", "version", "field.*"))

    def search_fields(self, term: str) -> DataFrame:
        """POST /schemas/search/field (exact mode w/ naming variants)."""
        fields = self.fields().withColumn(
            "norm_name", normalize_name_snake(F.col("name")))
        norm_term = normalize_name_snake_str(term)
        return fields.filter(F.col("norm_name") == norm_term) \
                     .select("subject", "version", "name", "path", "type")

    def similar_subjects(self, threshold: float = 0.3) -> DataFrame:
        """GET /analysis/similarity — Jaccard over latest field-name sets."""
        latest_fields = (self.fields()
                         .withColumn("__maxv", F.max("version").over(
                             Window.partitionBy("subject")))
                         .filter(F.col("version") == F.col("__maxv")))
        names = (latest_fields
                 .select("subject",
                         normalize_name_snake(F.col("name"))
                         .alias("norm_name")).distinct())
        sizes = names.groupBy("subject").agg(
            F.count(F.lit(1)).alias("set_size"))
        a = names.select(F.col("subject").alias("subject_a"), "norm_name")
        b = names.select(F.col("subject").alias("subject_b"), "norm_name")
        inter = (a.join(b, "norm_name")
                 .filter(F.col("subject_a") < F.col("subject_b"))
                 .groupBy("subject_a", "subject_b")
                 .agg(F.count(F.lit(1)).alias("n_shared")))
        return (inter
                .join(sizes.select(F.col("subject").alias("subject_a"),
                                   F.col("set_size").alias("size_a")),
                      "subject_a")
                .join(sizes.select(F.col("subject").alias("subject_b"),
                                   F.col("set_size").alias("size_b")),
                      "subject_b")
                .withColumn("jaccard",
                            F.col("n_shared").cast("double")
                            / (F.col("size_a") + F.col("size_b")
                               - F.col("n_shared")).cast("double"))
                .filter(F.col("jaccard") >= threshold))

    # -- write surface -----------------------------------------------------

    # A subject's history is versions-per-subject sized (small), but a
    # point check must not OOM the driver on a pathological subject: cap
    # the collect at the NEWEST versions — exactly the scope every
    # latest-only mode uses, and the tail transitive modes check first.
    CHECK_HISTORY_CAP = 1000

    def check(self, new_schema: str, subject: str, mode: str = "BACKWARD",
              schema_type: str = "AVRO") -> tuple[bool, list[str]]:
        """POST /compatibility/subjects/{s}/versions — driver-side verdict
        against the subject's (collected, capped) history."""
        rows = (self.history(subject).select("version", "schema_text")
                .orderBy(F.desc("version")).limit(self.CHECK_HISTORY_CAP)
                .collect())
        history = [r.schema_text for r in sorted(rows,
                                                 key=lambda r: r.version)]
        return check_compatibility(new_schema, history, mode, schema_type)

    def register(self, incoming: DataFrame, mode: str = "BACKWARD",
                 modes: DataFrame | None = None,
                 levels: DataFrame | None = None) -> DataFrame:
        """POST /subjects/{s}/versions as a batch job (§2.10 pipeline);
        ``modes`` enables write-mode gating (PUT /mode semantics) and
        ``levels`` per-subject configured compatibility (PUT /config)."""
        return register_batch(
            self.spark,
            self.corpus.select("subject", "version", "schema_type",
                               "schema_text", "deleted"),
            incoming, mode=mode, modes=modes, levels=levels)

    def import_schemas(self, incoming: DataFrame,
                       modes: DataFrame | None = None) -> DataFrame:
        """PUT /import — explicit IDs with conflict detection; with a
        ``modes`` table, import requires IMPORT mode."""
        id_col = "schema_id" if "schema_id" in self.corpus.columns \
            else "version"
        existing = self.corpus.withColumn(
            "fingerprint", F.sha2("schema_text", 256)) \
            .select(F.col(id_col).alias("schema_id"), "fingerprint")
        return import_batch(self.spark, existing, incoming, modes=modes)

    # -- advisory / admin surface (round-2) --------------------------------

    def resolve_modes(self, modes: DataFrame) -> DataFrame:
        """GET /mode/{s} for every subject (fallback chain + kill
        switch)."""
        from axonops_schema_registry_spark.registry.modes import (
            with_resolved_mode,
        )

        return with_resolved_mode(self.subjects(), modes)

    def dependency_graph(self, edges: DataFrame) -> DataFrame:
        """GET /subjects/{s}/versions/{v}/dependencies at arbitrary
        depth: transitive closure with depth + cycle guard."""
        from axonops_schema_registry_spark.operators.graph import (
            dependency_closure,
        )

        return dependency_closure(edges)

    def export_subject(self, subject: str | None = None) -> DataFrame:
        """GET /subjects/{s}/export — every live version as one bundle
        row per subject."""
        live = self.live()
        if subject is not None:
            live = live.filter(F.col("subject") == subject)
        fp = F.coalesce(
            *( [F.col("fingerprint")] if "fingerprint" in live.columns
               else [] ),
            F.sha2("schema_text", 256))
        entry = F.concat_ws(
            ":", F.lpad(F.col("version").cast("string"), 4, "0"),
            fp)
        return live.groupBy("subject").agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.array_join(F.sort_array(F.collect_list(entry)), "|")
            .alias("versions_bundle"))

    def suggest_evolution(self, subject: str, change_type: str,
                          field_name: str = "", field_type: str = "",
                          enum_symbol: str = "",
                          level: str = "BACKWARD") -> dict:
        """POST /subjects/{s}/evolution — advice + applied-change verdict
        against the subject's latest schema (driver-side point call)."""
        from axonops_schema_registry_spark.registry.evolution import (
            suggest_and_verify,
        )

        row = (self.latest(subject)
               .select("schema_type", "schema_text").take(1))
        if not row:
            return {"error": "Subject not found"}
        return suggest_and_verify(row[0].schema_text, row[0].schema_type,
                                  level, change_type, field_name,
                                  field_type, enum_symbol)

    def validate_schema(self, schema_text: str,
                        schema_type: str = "AVRO") -> dict:
        """POST /schemas/validate + /schemas/normalize (driver-side)."""
        from axonops_schema_registry_spark.registry.evolution import (
            validate_and_normalize,
        )

        return validate_and_normalize(schema_text, schema_type)

    def rewrap_deks(self, deks: DataFrame, keks: DataFrame) -> DataFrame:
        """POST /dek-registry/.../rewrap for the whole DEK table."""
        from axonops_schema_registry_spark.registry.dek import rewrap_deks

        return rewrap_deks(deks, keks)

    def delete_version(self, subject: str, version: int,
                       permanent: bool = False) -> DataFrame:
        """DELETE /subjects/{s}/versions/{v} (version -1 = 'latest'):
        the full status taxonomy (42202/40401/40402/40407/200) with the
        resolved version number, as a 1-row DataFrame."""
        from axonops_schema_registry_spark.queries.registry_queries import (
            version_delete_status,
        )

        requests = self.spark.createDataFrame(
            [(subject, version, permanent)],
            "subject string, version int, permanent boolean")
        return version_delete_status(self.corpus, requests)

    def prometheus_gauges(self) -> DataFrame:
        """GET /metrics' storage-derived gauge families
        (subjects_total / schemas_total{type} / schema_versions
        {subject}) as exposition rows — the Spark re-expression of the
        reference's periodic gauge refresh (metrics.go:474-486).
        Computed over ``self.corpus``, so user-supplied or filtered
        corpora are reflected exactly as the reference reflects live
        storage."""
        from axonops_schema_registry_spark.registry.metrics import (
            corpus_gauge_rows,
        )

        return corpus_gauge_rows(self.corpus)

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

The corpus contract is the FIXTURES.md §1 ``schemas`` shape:
(subject, version, schema_type, schema_text[, deleted][, fingerprint]).

A facade is one generation of its corpus.  Point reads (``latest(s)``,
``history(s)``, ``check``, ``suggest_evolution``), ``statistics`` and
field reads (``fields``, ``search_fields``, ``similar_subjects``) answer
from a
driver-side snapshot of that corpus: one Arrow collect on the first such
call, the field table extracted in-process on the first field read, both
kept for the facade's life and freed with it (no Spark cache).  Their
DataFrames are built from the snapshot and collect without a Spark job.
A corpus above ``SNAPSHOT_ROW_CAP`` rows keeps every read on Spark.  The
snapshot does not see rows appended after it was taken: build a new
facade after an append (a ``spark.read.parquet`` DataFrame keeps the file
list it was created with, so its generation is fixed anyway).  The
all-subject reads (``latest()``, ``live``, ``subjects``,
``versions_view``), ``field_plan`` (the SQL surface's field view) and
the rest return lazy Spark DataFrames.  ``register`` is eager for a
batch below ``registration.REGISTER_ROW_CAP`` rows (see its docstring).

This class is the one implementation of the registry's reads: the SQL
surface's registry views and the registry query specs call it, so the
specs' DuckDB oracles check these methods.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from axonops_schema_registry_spark.operators.core import latest_per_key
from axonops_schema_registry_spark.operators.text import (
    normalize_name_snake,
    normalize_name_snake_str,
)
from axonops_schema_registry_spark.registry.compat import check_compatibility
from axonops_schema_registry_spark.registry.fields import (
    FIELD_INFO_DDL,
    extract_fields,
)
from axonops_schema_registry_spark.registry.registration import (
    import_batch,
    register_batch,
    version_delete_status,
)
from axonops_schema_registry_spark.registry.spark_udfs import (
    extract_fields_udf,
    ship_package,
)


class _Snapshot:
    """One corpus generation in driver memory: the collected Arrow table,
    its row positions per subject sorted by version, and, built on first
    use, the exploded field table and the subject-similarity pairs."""

    def __init__(self, table: pa.Table, schema: StructType) -> None:
        self.table = table
        self.schema = schema
        keys = table.select(["subject", "version", "deleted"]).to_pandas()
        # Spark's ascending order puts null versions first
        order = keys.sort_values("version", kind="stable",
                                 na_position="first").index.to_numpy()
        groups = keys.iloc[order].groupby("subject", sort=False).indices
        self.rows = {s: order[p] for s, p in groups.items()}
        # a null ``deleted`` fails Spark's ~deleted filter too
        self.live_mask = keys["deleted"].eq(False).to_numpy()
        self.field_schema = StructType(
            [schema["subject"], schema["version"],
             *DataType.fromDDL(FIELD_INFO_DDL).fields])
        subject = schema["subject"]
        self.pair_schema = StructType(
            [StructField("subject_b", subject.dataType, subject.nullable),
             StructField("subject_a", subject.dataType, subject.nullable),
             StructField("n_shared", LongType(), False),
             StructField("size_a", LongType(), False),
             StructField("size_b", LongType(), False),
             StructField("jaccard", DoubleType(), True)])
        self._lock = threading.RLock()
        self._fields: pa.Table | None = None
        self._pairs: pd.DataFrame | None = None

    def positions(self, subject: str, include_deleted: bool) -> np.ndarray:
        pos = self.rows.get(subject, np.empty(0, dtype=np.int64))
        return pos if include_deleted else pos[self.live_mask[pos]]

    def column(self, name: str, pos: np.ndarray) -> list:
        return self.table.column(name).take(pos).to_pylist()

    def fields(self) -> pa.Table:
        """Every live row's extracted fields, plus ``norm_name`` and the
        row's position in ``table`` (``__row``)."""
        with self._lock:
            if self._fields is None:
                self._fields = self._extract_fields()
            return self._fields

    def _extract_fields(self) -> pa.Table:
        names = self.field_schema.fieldNames()
        cols: dict[str, list] = {n: [] for n in names + ["__row"]}
        pos = np.flatnonzero(self.live_mask)
        for row, subject, version, text, stype in zip(
                pos, *(self.column(c, pos) for c in (
                    "subject", "version", "schema_text", "schema_type"))):
            for f in extract_fields(text, stype):
                cols["subject"].append(subject)
                cols["version"].append(version)
                for n in names[2:]:
                    cols[n].append(f.get(n))
                cols["__row"].append(int(row))
        arrow = to_arrow_schema(self.field_schema)
        table = pa.Table.from_pydict(
            cols, schema=arrow.append(pa.field("__row", pa.int64())))
        norm = [normalize_name_snake_str(n) if n is not None else None
                for n in cols["name"]]
        return table.append_column("norm_name", pa.array(norm, pa.string()))

    def pairs(self) -> pd.DataFrame:
        """Jaccard over the normalised field-name sets of each subject's
        latest live version, for every pair sharing at least one name."""
        with self._lock:
            if self._pairs is None:
                self._pairs = self._similarity_pairs()
            return self._pairs

    def _similarity_pairs(self) -> pd.DataFrame:
        latest = [p[-1] for p in (self.positions(s, False)
                                  for s in self.rows) if len(p)]
        ft = self.fields().select(["__row", "subject", "norm_name"])
        names = (ft.filter(pc.is_in(ft["__row"], pa.array(latest, pa.int64())))
                 .select(["subject", "norm_name"]).to_pandas()
                 .drop_duplicates())
        sizes = names.groupby("subject").size()
        named = names.dropna(subset=["norm_name"])
        pairs = named.merge(named, on="norm_name", suffixes=("_a", "_b"))
        pairs = pairs[pairs["subject_a"] < pairs["subject_b"]]
        out = (pairs.groupby(["subject_a", "subject_b"]).size()
               .rename("n_shared").reset_index())
        out["size_a"] = out["subject_a"].map(sizes)
        out["size_b"] = out["subject_b"].map(sizes)
        out["jaccard"] = (out["n_shared"]
                          / (out["size_a"] + out["size_b"] - out["n_shared"]))
        return out[self.pair_schema.fieldNames()]


class RegistryAnalytics:
    # Point and field reads hold the whole corpus in driver memory: every
    # schema text (a few KB each) plus a field table several rows per
    # schema.  At 20,000 rows that is on the order of 100 MB of driver
    # heap; a larger corpus keeps those reads distributed on Spark.
    SNAPSHOT_ROW_CAP = 20_000

    # A subject's history is versions-per-subject sized (small), but a
    # point check must not OOM the driver on a pathological subject: cap
    # the collect at the NEWEST versions — exactly the scope every
    # latest-only mode uses, and the tail transitive modes check first.
    CHECK_HISTORY_CAP = 1000

    def __init__(self, spark: SparkSession, corpus: DataFrame,
                 sf_dir: str | None = None) -> None:
        self.spark = spark
        if "deleted" not in corpus.columns:
            corpus = corpus.withColumn("deleted", F.lit(False))
        self.corpus = corpus
        self.sf_dir = sf_dir
        self._lock = threading.Lock()
        self._snap: _Snapshot | None = None
        self._snap_built = False

    @classmethod
    def from_sf_dir(cls, spark: SparkSession,
                    sf_dir: str) -> "RegistryAnalytics":
        from axonops_schema_registry_spark.registry.model import (
            registry_corpus,
        )

        corpus = registry_corpus(spark, sf_dir).withColumn(
            "schema_type", F.lit("RAW"))
        return cls(spark, corpus, sf_dir=sf_dir)

    # -- the driver-side snapshot ------------------------------------------

    def _snapshot(self) -> _Snapshot | None:
        """The corpus as one driver-side snapshot, collected on first use;
        None when the corpus is above ``SNAPSHOT_ROW_CAP``."""
        with self._lock:
            if not self._snap_built:
                table = self.corpus.limit(self.SNAPSHOT_ROW_CAP + 1).toArrow()
                if table.num_rows <= self.SNAPSHOT_ROW_CAP:
                    self._snap = _Snapshot(table, self.corpus.schema)
                self._snap_built = True
            return self._snap

    def _frame(self, table: pa.Table, schema: StructType) -> DataFrame:
        """A DataFrame over driver rows, built through Arrow so that it
        collects without a Spark job."""
        return self.spark.createDataFrame(
            table.select(schema.fieldNames()), schema=schema)

    # -- read surface ------------------------------------------------------

    def live(self) -> DataFrame:
        return self.corpus.filter(~F.col("deleted"))

    def subjects(self) -> DataFrame:
        """GET /subjects"""
        return self.live().select("subject").distinct()

    def latest(self, subject: str | None = None) -> DataFrame:
        """GET /subjects/{s}/versions/latest (all subjects when None)."""
        snap = self._snapshot() if subject is not None else None
        if snap is not None:
            pos = snap.positions(subject, False)[-1:]
            return self._frame(snap.table.take(pos), snap.schema)
        live = self.live()
        if subject is not None:
            live = live.filter(F.col("subject") == subject)
        return latest_per_key(live, ["subject"], ["version"])

    def history(self, subject: str,
                include_deleted: bool = False) -> DataFrame:
        """GET /subjects/{s}/versions"""
        snap = self._snapshot()
        if snap is not None:
            pos = snap.positions(subject, include_deleted)
            return self._frame(snap.table.take(pos), snap.schema)
        src = self.corpus if include_deleted else self.live()
        return src.filter(F.col("subject") == subject).orderBy("version")

    def versions_view(self) -> DataFrame:
        """The schema_versions aggregate view."""
        return (self.live().groupBy("subject")
                .agg(F.max("version").alias("latest_version"),
                     F.count(F.lit(1)).alias("version_count")))

    def statistics(self) -> DataFrame:
        """GET /analysis/statistics: per schema type (a null type is one
        group), the distinct non-null subjects and the live versions."""
        snap = self._snapshot()
        if snap is not None:
            schema = StructType(
                [snap.schema["schema_type"],
                 StructField("n_subjects", LongType(), False),
                 StructField("n_versions", LongType(), False)])
            stats = (snap.table.filter(pa.array(snap.live_mask))
                     .group_by("schema_type")
                     .aggregate([("subject", "count_distinct"),
                                 ("subject", "count",
                                  pc.CountOptions(mode="all"))])
                     .select(["schema_type", "subject_count_distinct",
                              "subject_count"])
                     .rename_columns(schema.fieldNames()))
            return self._frame(stats, schema)
        return (self.live().groupBy("schema_type")
                .agg(F.countDistinct("subject").alias("n_subjects"),
                     F.count(F.lit(1)).alias("n_versions")))

    # -- schema intelligence ----------------------------------------------

    def fields(self) -> DataFrame:
        """The exploded FieldInfo table of the live rows (extracted once
        per snapshot, reuse downstream)."""
        snap = self._snapshot()
        if snap is not None:
            return self._frame(snap.fields(), snap.field_schema)
        return self.field_plan()

    def field_plan(self) -> DataFrame:
        """The same table as a lazy Spark plan that extracts on every
        evaluation: what ``fields`` runs above the cap, and the body of
        SQL views, which must not read the corpus when registered."""
        ship_package(self.spark)
        fields_udf = extract_fields_udf()
        return (self.live()
                .withColumn("field", F.explode(
                    fields_udf("schema_text", "schema_type")))
                .select("subject", "version", "field.*"))

    def search_fields(self, term: str) -> DataFrame:
        """POST /schemas/search/field (exact mode w/ naming variants)."""
        norm_term = normalize_name_snake_str(term)
        snap = self._snapshot()
        if snap is not None:
            ft = snap.fields()
            hits = ft.filter(pc.equal(ft["norm_name"], norm_term))
            return self._frame(hits, snap.field_schema[:5])
        fields = self.field_plan().withColumn(
            "norm_name", normalize_name_snake(F.col("name")))
        return fields.filter(F.col("norm_name") == norm_term) \
                     .select("subject", "version", "name", "path", "type")

    def similar_subjects(self, threshold: float = 0.3) -> DataFrame:
        """GET /analysis/similarity — Jaccard over the field-name sets of
        each subject's latest live version (a latest version without
        fields gives the subject an empty set, not an older version's).
        Fields are extracted from the latest rows only, one per subject."""
        snap = self._snapshot()
        if snap is not None:
            pairs = snap.pairs()
            hits = pairs[pairs["jaccard"] >= threshold]
            return self._frame(
                pa.Table.from_pandas(hits, preserve_index=False),
                snap.pair_schema)
        latest_fields = RegistryAnalytics(self.spark,
                                          self.latest()).field_plan()
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

    def check(self, new_schema: str, subject: str, mode: str = "BACKWARD",
              schema_type: str = "AVRO") -> tuple[bool, list[str]]:
        """POST /compatibility/subjects/{s}/versions — driver-side verdict
        against the subject's (capped) history."""
        snap = self._snapshot()
        if snap is not None:
            pos = snap.positions(subject, False)[-self.CHECK_HISTORY_CAP:]
            history = snap.column("schema_text", pos)
        else:
            rows = (self.history(subject).select("version", "schema_text")
                    .orderBy(F.desc("version")).limit(self.CHECK_HISTORY_CAP)
                    .collect())
            history = [r.schema_text
                       for r in sorted(rows, key=lambda r: r.version)]
        return check_compatibility(new_schema, history, mode, schema_type)

    def register(self, incoming: DataFrame, mode: str = "BACKWARD",
                 modes: DataFrame | None = None,
                 levels: DataFrame | None = None) -> DataFrame:
        """POST /subjects/{s}/versions for a batch
        (:func:`registry.registration.register_batch`): the per-subject
        write path over the batch and its subjects' stored histories only;
        caches nothing.  Below ``REGISTER_ROW_CAP`` rows it runs on the
        driver and is eager — the batch, the histories and each config
        table are read here, once, and the returned DataFrame collects
        without a Spark job; above the cap it returns the lazy cogroup.
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

        snap = self._snapshot()
        if snap is not None:
            pos = snap.positions(subject, False)[-1:]
            rows = list(zip(snap.column("schema_text", pos),
                            snap.column("schema_type", pos)))
        else:
            rows = [(r.schema_text, r.schema_type) for r in
                    self.latest(subject).select("schema_text",
                                                "schema_type").take(1)]
        if not rows:
            return {"error": "Subject not found"}
        return suggest_and_verify(*rows[0], level, change_type, field_name,
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

"""Continuous registration: the §2.10 write path as a streaming job.

The reference registers schemas online (one HTTP request at a time,
transactions for the races); the engine's equivalent is a Structured
Streaming ``foreachBatch`` loop over a registration-request stream:

  requests stream → [per micro-batch] register_batch(corpus, batch)
                  → append accepted rows to the corpus table
                  → emit per-request statuses

The corpus lives in a parquet directory (at scale: an iceberg/delta
table); each micro-batch registers against everything accepted so far, so
cross-batch duplicates and version continuity behave exactly like the
online server — the micro-batch boundary plays the role of the
transaction.  WITHIN a batch the sequential per-subject gate in
``register_batch`` checks each candidate against earlier same-batch
acceptances too, so batch boundaries don't change outcomes at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.registry.registration import register_batch

CORPUS_DDL = ("subject string, version int, schema_type string, "
              "schema_text string, deleted boolean")


class StreamingRegistry:
    """foreachBatch target maintaining a parquet-backed corpus."""

    def __init__(self, spark: SparkSession, corpus_path: str,
                 mode: str = "BACKWARD",
                 native_fingerprint: bool = False,
                 status_path: str | None = None,
                 track_statuses: bool = False) -> None:
        """``status_path``: when set, per-request statuses append to a
        parquet status TABLE (the scale path — nothing rides the
        driver).  ``track_statuses`` instead collects them into
        ``self.statuses``, a TEST-ONLY list that grows with the request
        stream (scaffolding for asserting batch/online equivalence).
        At least one must be enabled or statuses would be computed and
        dropped."""
        if status_path is None and not track_statuses:
            raise ValueError(
                "StreamingRegistry needs status_path (disk statuses) "
                "or track_statuses=True (test-only driver list)")
        self.spark = spark
        self.corpus_path = corpus_path
        self.mode = mode
        self.native_fingerprint = native_fingerprint
        self.status_path = status_path
        self.track_statuses = track_statuses
        self.statuses: list = []

    def corpus(self) -> DataFrame:
        if os.path.isdir(self.corpus_path) and any(
                f.endswith(".parquet")
                for f in os.listdir(self.corpus_path)):
            return self.spark.read.schema(CORPUS_DDL).parquet(self.corpus_path)
        return self.spark.createDataFrame([], CORPUS_DDL)

    def bootstrap(self, corpus: DataFrame) -> None:
        if "deleted" not in corpus.columns:
            corpus = corpus.withColumn("deleted", F.lit(False))
        corpus.select("subject", "version", "schema_type", "schema_text",
                      "deleted") \
            .write.mode("overwrite").parquet(self.corpus_path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Register one micro-batch; append accepted rows to the corpus."""
        batch_df = batch_df.cache()
        result = None
        try:
            if not batch_df.take(1):
                return
            result = register_batch(
                self.spark, self.corpus(), batch_df, mode=self.mode,
                native_fingerprint=self.native_fingerprint).cache()
            stamped = result.withColumn("epoch", F.lit(epoch_id))
            if self.status_path is not None:
                stamped.write.mode("append").parquet(self.status_path)
            if self.track_statuses:
                self.statuses.extend(stamped.collect())
            accepted = (result.filter(F.col("status") == "registered")
                        .join(batch_df, ["subject", "seq"])
                        .select("subject",
                                F.col("assigned_version").alias("version"),
                                "schema_type", "schema_text",
                                F.lit(False).alias("deleted")))
            accepted.write.mode("append").parquet(self.corpus_path)
        finally:
            # a long-running stream must not pin two frames per batch
            if result is not None:
                result.unpersist()
            batch_df.unpersist()


def run_registration_stream(spark: SparkSession, requests_dir: str,
                            registry: StreamingRegistry,
                            checkpoint: str):
    """Wire a request-file stream into the registry; availableNow drain."""
    requests = (spark.readStream
                .schema("subject string, seq long, schema_type string, "
                        "schema_text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(requests_dir))
    return (requests.writeStream.foreachBatch(registry)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())

"""Tuned SparkSession builder.

The settings here are the ones that matter at 100 TB, applied identically in
local test mode:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` equal to the session's task slots,
  ``sparkContext.defaultParallelism``: ``cpus`` in local mode, the total
  executor cores on a cluster.  AQE cannot coalesce a stateful streaming
  operator, so this is the number of state stores (and state-store tasks
  per micro-batch) every stream starts with: one per core.  Batch
  queries start AQE's coalescing from the same count.  A stream resumed
  from a checkpoint keeps the partition count it started with; Spark
  restores it from the offset log, whatever this session says.
- Arrow execution for the few pandas UDFs (compat checkers, canonicalizers).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "axonops-schema-registry-spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode: the driver corpus arrives as single ~10 MB parquet
        # files; split small so scans use the cores.  On a real cluster
        # with properly-sized files leave this at the 128m default.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # NOTE on runtime filters: bloom-filter join pruning
        # (spark.sql.optimizer.runtime.bloomFilter.enabled) is on by
        # default in Spark 4 and is the right 100 TB behavior; forcing
        # semiJoinReduction on top was measured to slow the local suite
        # ~5x (per-join aggregate subqueries dominate at test scale), so
        # it stays at its default.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # One shuffle partition per task slot; the slots are only known once
    # the context exists (local[*] and cluster masters).
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(spark.sparkContext.defaultParallelism))
    return spark

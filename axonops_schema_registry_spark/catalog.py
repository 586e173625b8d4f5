"""Table catalog: typed loaders for the driver's parquet tables.

The driver materializes a TPC-H-ish star schema plus an ``events`` stream
table and LLM-pipeline tables (``documents``, ``embeddings``) at
``/root/testdata/sf*/``.  At 100 TB these would be partitioned parquet/
iceberg tables; the loaders keep every read declarative (``spark.read``)
so Catalyst's scan pushdown (PushedFilters / ReadSchema) applies.

Scale notes (1000-executor deployment):
- Fact tables (``lineitem``, ``orders``, ``events``) would be
  date-partitioned; dimension tables (``region``, ``nation``, ``supplier``,
  ``part``, ``customer``) are broadcast-size by definition and every join
  against them below uses ``F.broadcast``.
- Nothing here caches by default: at 100 TB caching fact tables is wrong.
  Callers cache small derived frames (e.g. the exploded fields table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Depending on the generator run, events.parquet carries ts as
        # TIMESTAMP(NANOS) (Spark's reader rejects it; read nanos as LONG
        # and floor to microseconds, identical to DuckDB/pandas µs
        # truncation) or plain TIMESTAMP(MICROS) (load as-is).
        #
        # nanosAsLong is intentionally left set for the SESSION, not
        # scoped to this read: the conf is consulted at SCAN time (lazy),
        # so a save/restore around the eager schema sniff would flip it
        # back before a downstream .collect() executes the scan and the
        # read would fail.  Session-wide it is also what the streaming
        # replay path (streaming/audit.py) needs.  Side effect: any other
        # nano-timestamped parquet read in this session comes back LONG
        # instead of erroring — acceptable; no other table in the
        # catalog carries nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str,
                   prefix: str = "") -> dict[str, DataFrame]:
    """Register every table as a temp view (``spark.sql`` surface)."""
    frames = load_all(spark, sf_dir)
    for name, df in frames.items():
        df.createOrReplaceTempView(prefix + name)
    return frames

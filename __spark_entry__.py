"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the registry's latest-schema read at sf0.001
(``r1_latest_live_schema``, GET /subjects/{s}/versions/latest);
``queries()`` / ``oracle_sql()`` expose the full operator registry from
``axonops_schema_registry_spark.queries`` (one entry per implemented
operator from SURVEY.md §2, each with a DuckDB oracle where the semantics
are ANSI-SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from axonops_schema_registry_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Latest live schema per subject at sf0.001; at least one row."""
    return _q.SPEC_BY_NAME["r1_latest_live_schema"].build(
        spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()

"""Aggregated query registry — the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()`` and the pytest oracle
harness."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from axonops_schema_registry_spark.queries.base import QuerySpec


def _collect_specs() -> list[QuerySpec]:
    # imports are deliberately STRICT: a broken spec module must fail
    # loudly here, not silently shrink the driver-visible query surface
    from axonops_schema_registry_spark.queries import (
        llm_queries,
        registry_queries,
        relational,
        streaming_queries,
    )

    specs: list[QuerySpec] = (list(relational.SPECS)
                              + list(registry_queries.SPECS)
                              + list(llm_queries.SPECS)
                              + list(streaming_queries.SPECS))
    names = [s.name for s in specs]
    assert len(names) == len(set(names)), "duplicate query names"
    return specs


ALL_SPECS: list[QuerySpec] = _collect_specs()
SPEC_BY_NAME: dict[str, QuerySpec] = {s.name: s for s in ALL_SPECS}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.build for s in ALL_SPECS}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in ALL_SPECS if s.oracle is not None}


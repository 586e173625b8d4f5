"""Query-spec registry infrastructure.

Every operator from SURVEY.md §2 is declared as a :class:`QuerySpec`:
a named DataFrame builder ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL string.
The same registry backs:

- ``__spark_entry__.queries()`` / ``oracle_sql()`` — the driver contract;
- ``tests/test_queries_oracle.py`` — a local replica of the driver's
  hash-compare gate (Spark result vs DuckDB oracle, order-insensitive).

Float determinism contract
--------------------------
The driver hash-compares raw values, so every aggregate over DOUBLE columns
must be bit-identical between Spark and DuckDB.  Summation order is not
deterministic in either engine, so plain ``SUM(double)`` is out.  The
helpers below route every such aggregate through exact DECIMAL arithmetic
(deterministic, order-independent) and cast the final value back to DOUBLE;
ratios are then computed with IEEE double division, which is deterministic
given identical operands.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    """One engine operator: Spark builder + optional DuckDB oracle."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


def dsum(col: Column | str, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent SUM over a double column via DECIMAL(18, scale).

    Matches DuckDB ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`` exactly
    (the inputs are money-like values with <= ``scale`` meaningful decimals).
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def dsum_expr(col_sql: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({col_sql} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def floor_q(col: Column, scale: int = 4) -> Column:
    """Tie-free quantization of a double for oracle-compared output:
    ``floor(x · 10^scale) / 10^scale``.

    Why not ``round(x, scale)``: Spark rounds the EXACT binary
    expansion via BigDecimal HALF_UP while DuckDB rounds float-side
    with banker's semantics — for a value whose expansion sits at a
    decimal tie they disagree on bit-identical inputs (caught live by
    the r12 sf1 sweep: one of 20k cosines came back -0.0001 vs -0.0).
    ``floor`` of the shared product has no tie semantics at all, so
    identical input doubles quantize identically in every engine.
    DuckDB twin: ``floor(x * 10^s) / 10^s``.  Use this (not round)
    for any NEW spec emitting quantized float quotients; the
    long-green round(·, 4) specs keep their contract (their oracles
    share the literal) and are re-checked by the sf1 sweeps."""
    k = float(10 ** scale)
    return F.floor(col * F.lit(k)) / F.lit(k)


def psum(col: Column, scale: int = 6) -> Column:
    """Order-independent SUM of a per-row double *expression* (products).

    The per-row expression is evaluated in IEEE double (deterministic given
    the row), rounded into DECIMAL(25, scale), summed exactly, and returned
    as DOUBLE.

    PRECONDITION: the per-row value must be exactly representable at
    <= ``scale`` decimals (products of money-like columns are; every
    caller in this repo satisfies it).  For values with longer
    expansions the bare double→DECIMAL cast is a portability trap —
    Spark and DuckDB disagree on representational ties (e.g. 153/1024)
    — and the caller must ``F.round(col, scale)`` FIRST, the pattern
    lab1/qz2/nn4 use (pinned by
    tests/test_properties.py::test_decimal_sum_discipline_...).
    """
    return F.sum(col.cast(f"decimal(25,{scale})")).cast("double")


def psum_expr(col_sql: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({col_sql} AS DECIMAL(25,{scale}))) AS DOUBLE)"

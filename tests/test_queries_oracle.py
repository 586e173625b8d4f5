"""Every declared query spec hash-matches its DuckDB oracle at sf0.001
(the local replica of the driver's hash-compare gate)."""

from __future__ import annotations

import pytest

from axonops_schema_registry_spark import queries as q
from tests.oracle_harness import compare, duck_connection
from tests.conftest import SF_DIR

ORACLE_SPECS = [s for s in q.ALL_SPECS if s.oracle is not None]
NO_ORACLE_SPECS = [s for s in q.ALL_SPECS if s.oracle is None]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_match(spark, duck, spec, sf_dir):
    compare(spark, duck, spec, sf_dir)


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_all_result_columns_atomic(spark, sf_dir):
    """The driver's canonicalizer sorts every result column with pandas and
    crashes on unhashable values (round-1 j2/f6 failures: array<string>).
    No spec may return array/map/struct columns — serialize them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for spec in q.ALL_SPECS:
        df = spec.build(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((spec.name, f.name,
                                  f.dataType.simpleString()))
    assert not offenders, f"non-atomic result columns: {offenders}"


@pytest.mark.parametrize("spec", NO_ORACLE_SPECS, ids=lambda s: s.name)
def test_runs_and_stable(spark, spec, sf_dir):
    """Weaker gate for non-SQL-expressible ops: runs, deterministic schema,
    re-run returns identical rows."""
    df1 = spec.build(spark, sf_dir)
    rows1 = sorted(map(str, df1.collect()))
    df2 = spec.build(spark, sf_dir)
    rows2 = sorted(map(str, df2.collect()))
    assert df1.columns == df2.columns
    assert rows1 == rows2

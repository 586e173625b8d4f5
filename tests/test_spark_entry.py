"""The driver contract in ``__spark_entry__.py``: ``entry`` returns rows,
and ``queries()`` / ``oracle_sql()`` expose exactly the spec registry."""

from __future__ import annotations

import __spark_entry__ as E
from axonops_schema_registry_spark import queries as q


def test_spark_entry_contract(spark, sf_dir):
    rows = sorted(E.entry(spark).collect())
    assert len(rows) >= 1
    assert rows == sorted(q.SPEC_BY_NAME["r1_latest_live_schema"]
                          .build(spark, sf_dir).collect())
    assert list(E.queries()) == [s.name for s in q.ALL_SPECS]
    assert E.oracle_sql() == {s.name: s.oracle for s in q.ALL_SPECS
                              if s.oracle is not None}

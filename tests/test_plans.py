"""Physical-plan regression tests: the plans the engine is supposed to
produce (scan pushdown, broadcast dimension joins, whole-stage codegen,
no accidental cartesian products) — SURVEY.md §4's checklist."""

from __future__ import annotations

from axonops_schema_registry_spark.queries import SPEC_BY_NAME


def _plan(spark, sf_dir, name: str) -> str:
    return SPEC_BY_NAME[name].build(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, sf_dir, name: str) -> str:
    df = SPEC_BY_NAME[name].build(spark, sf_dir)
    return df.sparkSession._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().logical(),
        df._jdf.queryExecution().mode()).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "p1_live_view")
    # the soft-delete filter reaches the parquet scan…
    assert ("PushedFilters: [IsNotNull(o_orderstatus), "
            "Not(EqualTo(o_orderstatus,F))]") in plan
    # …and the scan reads only the 3 needed columns, not all of orders
    readschema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderkey" not in readschema and "o_custkey" not in readschema


def test_aggregate_runs_wholestage_codegen(spark, sf_dir):
    df = SPEC_BY_NAME["p1_live_view"].build(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages in the simple form
    assert "*(1)" in plan
    assert "partial_sum" in plan  # map-side partial aggregation present
    assert "AQEShuffleRead coalesced" in plan  # AQE runtime coalescing on


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j3_multilevel_resolution")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "CartesianProduct" not in plan


def test_s1_prefix_pushdown(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "s1_prefix_listing")
    assert "StringStartsWith(p_name,small )" in plan


def test_point_lookup_is_broadcast_not_collect(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s2_point_lookup")
    assert "BroadcastHashJoin" in plan


def test_no_cartesian_in_similarity(spark, sf_dir):
    for name in ("e3_similarity_selfjoin", "dd2_minhash_lsh_dedup",
                 "f7_fuzzy_match"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_registration_uses_sort_merge_or_hash_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "r4_registration_batch")
    assert "CartesianProduct" not in plan
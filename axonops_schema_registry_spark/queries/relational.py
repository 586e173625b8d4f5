"""Relational operator inventory (SURVEY.md §2.1-2.8) over the driver tables.

Per FIXTURES.md §4, each reference operator's Spark primitive is exercised
directly on the TPC-H-ish tables: prefix scans + pagination on ``part``,
the reference-graph join shape on ``part ⋈ lineitem ⋈ orders ⋈ customer``,
latest-per-key on ``orders``, dedup anti-joins and content addressing on
``events``/``documents`` fingerprints, set-ops between brand snapshots,
fuzzy/Levenshtein on ``part.p_name``.

Every spec has a DuckDB oracle; aggregates over doubles follow the decimal
determinism contract in ``.base``.  Timestamp outputs are formatted to
strings so the hash compare is timezone-representation-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table
from axonops_schema_registry_spark.operators import (
    content_addressed_ids,
    diff_keyed_sets,
    fuzzy_pairs,
    glob_to_regex,
    jaccard_pairs,
    latest_per_key,
    list_with_prefix,
    point_lookup_min,
    with_prev_value,
)
from axonops_schema_registry_spark.queries.base import (
    QuerySpec,
    dsum,
    dsum_expr,
    psum,
    psum_expr,
)

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Headline analytical queries (bench set)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan+agg: the A1/A4 aggregate pattern at fact scale.

    Single scan of lineitem, map-side partial aggregation, 6 aggregates per
    group; the filter and 8-column projection push into the parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2, "sum_qty"),
            dsum("l_extendedprice", 2, "sum_base_price"),
            psum(disc_price).alias("sum_disc_price"),
            psum(charge).alias("sum_charge"),
            (dsum("l_quantity", 2) / F.count(F.lit(1))).alias("avg_qty"),
            (dsum("l_extendedprice", 2) / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_expr('l_quantity')} AS sum_qty,
       {dsum_expr('l_extendedprice')} AS sum_base_price,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
       {psum_expr('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
       {dsum_expr('l_quantity')} / COUNT(*) AS avg_qty,
       {dsum_expr('l_extendedprice')} / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + agg + deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders.join(F.broadcast(cust),
                            F.col("o_custkey") == F.col("c_custkey"))
                .select("o_orderkey", "o_orderdate", "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(psum(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("o_orderdate"),
            "o_orderpriority", "revenue")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate,
       o_orderpriority,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join: revenue per nation where the supplier and
    customer share a nation.  Dimensions are broadcast; only lineitem ⋈
    orders shuffles (on orderkey)."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(psum(revenue).alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


Q5_ORACLE = f"""
SELECT n_name,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: shipping volume between two nations by year —
    the multi-dimension broadcast + fact shuffle pattern."""
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("ship_year"))
        .agg(psum(revenue).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: revenue lost to returns per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(psum(revenue).alias("lost_revenue"),
             F.count(F.lit(1)).alias("n_returned"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_mktsegment,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS lost_revenue,
       COUNT(*) AS n_returned
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: pure filter + aggregate — every predicate reaches
    the parquet scan (PushedFilters), one scalar out."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                      & (F.col("l_shipdate") < F.lit("1997-01-01"))
                      & (F.col("l_discount") >= 0.02)
                      & (F.col("l_discount") <= 0.08)
                      & (F.col("l_quantity") < 24))
            .agg(psum(F.col("l_extendedprice") * F.col("l_discount"))
                 .alias("forecast_revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))


Q6_ORACLE = f"""
SELECT {psum_expr('l_extendedprice * l_discount')} AS forecast_revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 24
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: aggregate-then-semi-join (HAVING over the fact,
    joined back to dimensions), deterministic top-k."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(dsum("l_quantity", 2, "total_qty"))
             .filter(F.col("total_qty") > 150))
    return (big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
               .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
               .select("c_name", "c_custkey", "o_orderkey",
                       F.date_format("o_orderdate", TS_FMT_SPARK)
                       .alias("o_orderdate"), "o_totalprice", "total_qty")
               .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
               .limit(100))


Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {dsum_expr('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {dsum_expr('l_quantity')} > 150) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: promo revenue share — conditional aggregate ratio
    over a broadcast-dim join, single-row result."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue) \
        .otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (F.lit(100.0) * psum(promo) / psum(revenue)).alias("promo_share_pct"),
        psum(revenue).alias("total_revenue"))


Q14_ORACLE = f"""
SELECT 100.0 * {psum_expr("CASE WHEN p_type LIKE 'PROMO%' "
                          "THEN l_extendedprice * (1.0 - l_discount) "
                          "ELSE 0.0 END")}
         / {psum_expr('l_extendedprice * (1.0 - l_discount)')}
         AS promo_share_pct,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


# --------------------------------------------------------------------------
# §2.1 scans / §2.6 pagination
# --------------------------------------------------------------------------

def s1_prefix_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P3/O1/O2: prefix scan + deterministic order + offset/limit."""
    return list_with_prefix(_t(spark, sf_dir, "part"), "p_name", "small ",
                            order_by=["p_partkey"], offset=5, limit=10)


S1_ORACLE = """
SELECT * FROM part WHERE p_name LIKE 'small %'
ORDER BY p_partkey LIMIT 10 OFFSET 5
"""


def s2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: point lookup by ID (min orderkey, resolved distributively)."""
    return point_lookup_min(_t(spark, sf_dir, "orders"), "o_orderkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.date_format("o_orderdate", TS_FMT_SPARK).alias("o_orderdate"),
        "o_orderpriority")


S2_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
"""


def s3_subject_version_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: composite-key lookup (orderkey = subject, linenumber = version)."""
    li = point_lookup_min(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    return li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                     "l_quantity", "l_extendedprice")


S3_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
       l_extendedprice
FROM lineitem WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem)
"""


def s4_fingerprint_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: content-addressed lookup — find all docs carrying the fingerprint
    of the first document, first-writer tie-break (ORDER BY id LIMIT 1)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.sha2(F.col("text"), 256))
    target = F.broadcast(
        point_lookup_min(docs, "doc_id").select(
            F.col("fingerprint").alias("__fp")))
    return (docs.join(target, docs["fingerprint"] == target["__fp"])
                .orderBy("doc_id").limit(1)
                .select("doc_id", "fingerprint", "source"))


S4_ORACLE = """
WITH fp AS (SELECT sha256(text) AS f FROM documents
            WHERE doc_id = (SELECT MIN(doc_id) FROM documents))
SELECT doc_id, sha256(text) AS fingerprint, source
FROM documents WHERE sha256(text) = (SELECT f FROM fp)
ORDER BY doc_id LIMIT 1
"""


def s5_distinct_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: key listing (ListSubjects → DISTINCT)."""
    return _t(spark, sf_dir, "documents").select("source", "lang").distinct()


S5_ORACLE = "SELECT DISTINCT source, lang FROM documents"


# --------------------------------------------------------------------------
# §2.2 projections / filters
# --------------------------------------------------------------------------

def p1_live_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: soft-delete visibility — 'live' rows only ('F' = deleted analog),
    aggregated per priority."""
    return (_t(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") != "F")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", 2, "total_value")))


P1_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_expr('o_totalprice')} AS total_value
FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderpriority
"""


def p4_status_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: when/otherwise outcome classification (40404/40406 split analog)."""
    ev = _t(spark, sf_dir, "events")
    status = (F.when(F.col("event_type") == "error", F.lit("failure"))
               .otherwise(F.lit("success")))
    return (ev.withColumn("outcome", status)
              .groupBy("outcome", "event_type")
              .agg(F.count(F.lit(1)).alias("n_events")))


P4_ORACLE = """
SELECT CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
         AS outcome,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def p5_metadata_property_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: filter on a JSON metadata property (compatibility-group analog)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (ev.withColumn("k", k).filter(F.col("k") >= 50)
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.countDistinct("user_id").alias("n_users")))


P5_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

def j1_referenced_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: reverse-reference join — who references each Brand#1 part?
    (schema_references ⋈ schemas ≡ lineitem ⋈ part, + orders for actor)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("p_partkey", "p_name")
        .agg(F.countDistinct("o_custkey").alias("n_referencing_customers"),
             F.count(F.lit(1)).alias("n_references"))
    )


J1_ORACLE = """
SELECT p_partkey, p_name,
       COUNT(DISTINCT o_custkey) AS n_referencing_customers,
       COUNT(*) AS n_references
FROM lineitem
JOIN part   ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_brand = 'Brand#1'
GROUP BY p_partkey, p_name
"""


def j3_multilevel_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: multi-level reference resolution (supplier → nation → region —
    a 2-level DAG walk, one broadcast join per level)."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (supp
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_name", "n_name", "r_name"))


J3_ORACLE = """
SELECT s_suppkey, s_name, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def j6_config_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: subject → global → default config fallback via left join +
    coalesce (registry.go:747-799)."""
    cust = _t(spark, sf_dir, "customer")
    overrides = (_t(spark, sf_dir, "nation")
                 .filter(F.col("n_regionkey") == 0)
                 .select("n_nationkey", "n_name"))
    return (cust.join(F.broadcast(overrides),
                      F.col("c_nationkey") == F.col("n_nationkey"), "left")
            .withColumn("resolved_config",
                        F.coalesce(F.col("n_name"), F.lit("GLOBAL_DEFAULT")))
            .groupBy("resolved_config")
            .agg(F.count(F.lit(1)).alias("n_customers")))


J6_ORACLE = """
SELECT COALESCE(n_name, 'GLOBAL_DEFAULT') AS resolved_config,
       COUNT(*) AS n_customers
FROM customer
LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0) n
  ON c_nationkey = n_nationkey
GROUP BY 1
"""


def j7_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: dedup-on-register — incoming batch anti-joined against the
    existing corpus on fingerprint (registry.go:121-131)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.sha2(F.col("text"), 256))
    existing = docs.filter(F.col("doc_id") < 450).select("fingerprint")
    incoming = docs.filter(F.col("doc_id") >= 450)
    return (incoming.join(existing, "fingerprint", "left_anti")
                    .select("doc_id", "source", "fingerprint"))


J7_ORACLE = """
SELECT doc_id, source, sha256(text) AS fingerprint
FROM documents
WHERE doc_id >= 450
  AND sha256(text) NOT IN (SELECT sha256(text) FROM documents
                           WHERE doc_id < 450)
"""


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------

def a1_versions_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the schema_versions materialized view shape — latest + count per
    key (postgres/migrations.go:230-234)."""
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.date_format(F.max("o_orderdate"), TS_FMT_SPARK)
                 .alias("latest_order"),
                 F.count(F.lit(1)).alias("n_orders")))


A1_ORACLE = f"""
SELECT o_custkey, strftime(MAX(o_orderdate), '{TS_FMT_DUCK}') AS latest_order,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


def a4_registry_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: registry statistics — counts by type + distinct actors
    (analysis.go:1252-1279)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.countDistinct("user_id").alias("n_users"),
                   (psum(F.col("value"), 6) / F.count(F.lit(1)))
                   .alias("avg_value")))


A4_ORACLE = f"""
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       {psum_expr('value')} / COUNT(*) AS avg_value
FROM events GROUP BY event_type
"""


def a5_field_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: cross-subject field-pattern detection — tokens appearing in >= 2
    sources (analysis.go:1337-1378)."""
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.col("source"),
                        F.explode(F.split("text", " ")).alias("token"))
                .distinct())
    return (toks.groupBy("token")
                .agg(F.countDistinct("source").alias("n_sources"))
                .filter(F.col("n_sources") >= 2))


A5_ORACLE = """
SELECT token, COUNT(DISTINCT source) AS n_sources
FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token HAVING COUNT(DISTINCT source) >= 2
"""


def a6_type_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: field-consistency type histogram — distinct types per normalized
    name, consistent = <= 1 (analysis.go:1303-1327)."""
    part = _t(spark, sf_dir, "part")
    words = part.select(F.explode(F.split("p_name", " ")).alias("word"),
                        F.col("p_type"))
    return (words.groupBy("word")
                 .agg(F.countDistinct("p_type").alias("n_types"),
                      F.count(F.lit(1)).alias("n_uses"))
                 .withColumn("consistent", F.col("n_types") <= 1))


A6_ORACLE = """
SELECT word, COUNT(DISTINCT p_type) AS n_types, COUNT(*) AS n_uses,
       COUNT(DISTINCT p_type) <= 1 AS consistent
FROM (SELECT unnest(string_split(p_name, ' ')) AS word, p_type FROM part)
GROUP BY word
"""


def a8_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: quality category scores + grade bucketing
    (internal/analysis/quality.go:25-141): ratio aggregates over a
    document's parts, CASE-chain grade A>=90 … F."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("bigint")
    score = F.lit(100.0) * (
        F.lit(0.4) * (F.least(n_tokens, F.lit(100)).cast("double") / F.lit(100.0))
        + F.lit(0.3) * (n_distinct.cast("double") / n_tokens.cast("double"))
        + F.lit(0.3) * (F.lit(1.0) - n_stop.cast("double") / n_tokens.cast("double"))
    )
    grade = (F.when(F.col("quality_score") >= 90, "A")
              .when(F.col("quality_score") >= 75, "B")
              .when(F.col("quality_score") >= 60, "C")
              .when(F.col("quality_score") >= 45, "D")
              .otherwise("F"))
    return (docs.select("doc_id", n_tokens.alias("n_tokens"),
                        n_distinct.alias("n_distinct"),
                        n_stop.alias("n_stopwords"),
                        score.alias("quality_score"))
                .withColumn("grade", grade))


A8_ORACLE = """
SELECT doc_id, n_tokens, n_distinct, n_stopwords, quality_score,
       CASE WHEN quality_score >= 90 THEN 'A'
            WHEN quality_score >= 75 THEN 'B'
            WHEN quality_score >= 60 THEN 'C'
            WHEN quality_score >= 45 THEN 'D'
            ELSE 'F' END AS grade
FROM (
  SELECT doc_id, n_tokens, n_distinct, n_stopwords,
         100.0 * (0.4 * (CAST(LEAST(n_tokens, 100) AS DOUBLE) / 100.0)
                + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE)
                               / CAST(n_tokens AS DOUBLE)))
           AS quality_score
  FROM (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           len(list_filter(string_split(text, ' '),
                           t -> t IN ('the', 'a'))) AS n_stopwords
    FROM documents))
"""


def a9_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: complexity metrics + grade (analysis.go:517-543)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    max_len = F.array_max(F.transform(toks, F.length)).cast("bigint")
    grade = (F.when(F.col("n_tokens") <= 30, "simple")
              .when(F.col("n_tokens") <= 60, "moderate")
              .otherwise("complex"))
    return (docs.select("doc_id", F.col("n_chars"),
                        n_tokens.alias("n_tokens"),
                        max_len.alias("max_token_len"))
                .withColumn("complexity", grade))


A9_ORACLE = """
SELECT doc_id, n_chars, n_tokens, max_token_len,
       CASE WHEN n_tokens <= 30 THEN 'simple'
            WHEN n_tokens <= 60 THEN 'moderate'
            ELSE 'complex' END AS complexity
FROM (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(list_max(list_transform(string_split(text, ' '), t -> len(t)))
              AS BIGINT) AS max_token_len
  FROM documents)
"""


def a10_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/ST7: per-hour, per-type request metrics — count + avg + median
    (internal/metrics/metrics.go:517-560 histograms as batch analytics)."""
    ev = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT_SPARK)
    return (ev.groupBy(hour.alias("event_hour"), F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   (psum(F.col("value"), 6) / F.count(F.lit(1)))
                   .alias("avg_value"),
                   F.round(F.expr("percentile(value, 0.5)"), 4)
                   .alias("p50_value")))


A10_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS event_hour,
       event_type, COUNT(*) AS n_events,
       {psum_expr('value')} / COUNT(*) AS avg_value,
       ROUND(quantile_cont(value, 0.5), 4) AS p50_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# §2.5 windows
# --------------------------------------------------------------------------

def w1_latest_per_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest order per customer (latest schema per subject)."""
    latest = latest_per_key(_t(spark, sf_dir, "orders"), ["o_custkey"],
                            ["o_orderdate", "o_orderkey"])
    return latest.select("o_custkey", "o_orderkey",
                         F.date_format("o_orderdate", TS_FMT_SPARK)
                         .alias("o_orderdate"), "o_totalprice")


W1_ORACLE = f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


def w3_content_addressed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A3: first-writer-wins content addressing over event payload
    fingerprints (fingerprint-claim semantics,
    postgres/migrations.go:138-141)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "fingerprint", F.sha2(F.col("props"), 256))
    return content_addressed_ids(ev, "fingerprint", "event_id").select(
        "fingerprint", "canonical_id", "n_occurrences", "content_id")


W3_ORACLE = """
SELECT fingerprint, canonical_id, n_occurrences,
       CAST(dense_rank() OVER (ORDER BY canonical_id) AS INT) AS content_id
FROM (
  SELECT sha256(props) AS fingerprint, MIN(event_id) AS canonical_id,
         COUNT(*) AS n_occurrences
  FROM events GROUP BY 1)
"""


def w5_prior_version_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: lag() pairwise prior-version comparison — order-value delta per
    customer history (transitive-check shape, checker.go:58-65)."""
    withprev = with_prev_value(_t(spark, sf_dir, "orders"), ["o_custkey"],
                               ["o_orderdate", "o_orderkey"], "o_totalprice",
                               "prev_price")
    delta = (F.col("o_totalprice").cast("decimal(18,2)")
             - F.col("prev_price").cast("decimal(18,2)")).cast("double")
    return withprev.select("o_custkey", "o_orderkey",
                           delta.alias("price_delta"))


W5_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2))
            - CAST(lag(o_totalprice) OVER w AS DECIMAL(18,2)) AS DOUBLE)
         AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def o2_deterministic_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: offset/limit pagination over a total order (handlers.go:1401-1424)."""
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .offset(100).limit(20)
            .select("o_orderkey", "o_totalprice"))


O2_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 100
"""


# --------------------------------------------------------------------------
# §2.7 set operations
# --------------------------------------------------------------------------

def e1_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: schema diff added/removed/changed between two brand snapshots
    (analysis.go:838-871)."""
    part = _t(spark, sf_dir, "part")
    per_brand = part.groupBy("p_brand", "p_name").agg(
        F.min("p_size").alias("min_size"))
    b1 = per_brand.filter(F.col("p_brand") == "Brand#1").drop("p_brand")
    b2 = per_brand.filter(F.col("p_brand") == "Brand#2").drop("p_brand")
    return diff_keyed_sets(b1, b2, "p_name", "min_size")


E1_ORACLE = """
WITH b1 AS (SELECT p_name, MIN(p_size) AS min_size FROM part
            WHERE p_brand = 'Brand#1' GROUP BY p_name),
     b2 AS (SELECT p_name, MIN(p_size) AS min_size FROM part
            WHERE p_brand = 'Brand#2' GROUP BY p_name)
SELECT COALESCE(b1.p_name, b2.p_name) AS p_name,
       b1.min_size AS value_a, b2.min_size AS value_b,
       CASE WHEN b1.p_name IS NULL THEN 'added'
            WHEN b2.p_name IS NULL THEN 'removed'
            WHEN b1.min_size <> b2.min_size THEN 'changed'
            ELSE 'unchanged' END AS status
FROM b1 FULL OUTER JOIN b2 ON b1.p_name = b2.p_name
WHERE CASE WHEN b1.p_name IS NULL THEN 'added'
           WHEN b2.p_name IS NULL THEN 'removed'
           WHEN b1.min_size <> b2.min_size THEN 'changed'
           ELSE 'unchanged' END <> 'unchanged'
"""


def e2_subject_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: shared / only-in-one membership compare (analysis.go:1217-1241)."""
    ev = _t(spark, sf_dir, "events")
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    error = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purchase.intersect(error).withColumn("membership", F.lit("both"))
    only_p = purchase.exceptAll(error).withColumn("membership",
                                                  F.lit("purchase_only"))
    return both.unionByName(only_p)


E2_ORACLE = """
SELECT user_id, 'both' AS membership FROM
  (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
   INTERSECT
   SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT user_id, 'purchase_only' AS membership FROM
  (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
   EXCEPT
   SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
"""


def e3_similarity_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/E3: Jaccard similarity self-join over 3-shingle sets
    (analysis.go:376-429) — join-based, not O(n²) cross product.

    3-word shingles, not unigrams: the corpus vocabulary is tiny (~40
    words), so unigram document frequency is ~n and the token equi-join
    degenerates to Σ df(token)² ≈ n² rows.  Shingle df is O(1), keeping the
    join linear in corpus size — the difference between 131 s and 2 s at
    sf0.1, and between feasible and not at 100 TB.
    """
    return jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text",
                         threshold=0.8, ngram=3)


E3_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2])) AS token
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS set_size FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, n_inter, sa.set_size AS size_a, sb.set_size AS size_b,
       CAST(n_inter AS DOUBLE)
         / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.8
"""


def e5_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: union of per-subject result frames (analysis.go:1087-1095)."""
    cust = _t(spark, sf_dir, "customer")

    def seg(name: str) -> DataFrame:
        return (cust.filter(F.col("c_mktsegment") == name)
                    .agg(F.count(F.lit(1)).alias("n_customers"),
                         dsum("c_acctbal", 2, "total_balance"))
                    .withColumn("segment", F.lit(name)))

    return seg("BUILDING").unionByName(seg("MACHINERY"))


E5_ORACLE = f"""
SELECT COUNT(*) AS n_customers, {dsum_expr('c_acctbal')} AS total_balance,
       'BUILDING' AS segment
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT COUNT(*) AS n_customers, {dsum_expr('c_acctbal')} AS total_balance,
       'MACHINERY' AS segment
FROM customer WHERE c_mktsegment = 'MACHINERY'
"""


# --------------------------------------------------------------------------
# §2.8 string / scalar functions
# --------------------------------------------------------------------------

def f2_regex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: regex search over names (analysis.go:115-122)."""
    return (_t(spark, sf_dir, "part")
            .filter(F.col("p_name").rlike("^(small|large) .*(bolt|gear)$"))
            .select("p_partkey", "p_name", "p_type"))


F2_ORACLE = """
SELECT p_partkey, p_name, p_type FROM part
WHERE regexp_matches(p_name, '^(small|large) .*(bolt|gear)$')
"""

_F3_REGEX = glob_to_regex("sm*l*")  # '^sm.*l.*$'


def f3_glob_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: case-insensitive glob match translated to a regex
    (analysis.go:684-715)."""
    return (_t(spark, sf_dir, "part")
            .filter(F.lower(F.col("p_name")).rlike(_F3_REGEX))
            .select("p_partkey", "p_name"))


F3_ORACLE = f"""
SELECT p_partkey, p_name FROM part
WHERE regexp_matches(lower(p_name), '{_F3_REGEX}')
"""


def f5_normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6: PascalCase → snake_case normalization round-trip
    (internal/analysis/fields.go:245-261) — pure column expressions."""
    part = _t(spark, sf_dir, "part")
    pascal = F.expr(
        "concat_ws('', transform(split(p_name, ' '), "
        "w -> concat(upper(substring(w, 1, 1)), substring(w, 2))))")
    snake = F.lower(F.regexp_replace(F.col("pascal_name"),
                                     "([a-z0-9])([A-Z])", r"$1_$2"))
    return (part.select("p_partkey", pascal.alias("pascal_name"))
                .withColumn("snake_name", snake))


F5_ORACLE = r"""
SELECT p_partkey, pascal_name,
       lower(regexp_replace(pascal_name, '([a-z0-9])([A-Z])', '\1_\2', 'g'))
         AS snake_name
FROM (
  SELECT p_partkey,
         array_to_string(list_transform(string_split(p_name, ' '),
                         w -> upper(w[1]) || w[2:]), '') AS pascal_name
  FROM part)
"""


def f7_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7-F9: Levenshtein fuzzy pairs within a blocking key
    (internal/analysis/fuzzy.go:41-56,121-130)."""
    return fuzzy_pairs(_t(spark, sf_dir, "part"), "p_partkey", "p_name",
                       "p_type", threshold=0.7)


F7_ORACLE = """
SELECT a.p_type AS block, a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(lower(a.p_name), lower(b.p_name)) AS lev,
       1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
           / CAST(GREATEST(len(a.p_name), len(b.p_name)) AS DOUBLE)
         AS fuzzy_score
FROM part a JOIN part b
  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
WHERE 1.0 - CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS DOUBLE)
          / CAST(GREATEST(len(a.p_name), len(b.p_name)) AS DOUBLE) >= 0.7
"""


def f10_global_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F16: content fingerprint folding sorted references —
    sha256 over id + sorted ref list (registry.go:1518-1544)."""
    li = _t(spark, sf_dir, "lineitem")
    refs = (li.groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_list("l_partkey")).alias("refs")))
    folded = F.concat_ws(
        "|", F.col("l_orderkey").cast("string"),
        F.concat_ws(",", F.expr("transform(refs, r -> cast(r as string))")))
    return refs.select("l_orderkey",
                       F.sha2(folded, 256).alias("global_fingerprint"))


F10_ORACLE = """
SELECT l_orderkey,
       sha256(CAST(l_orderkey AS VARCHAR) || '|' ||
              array_to_string(list_sort(array_agg(l_partkey)), ','))
         AS global_fingerprint
FROM lineitem GROUP BY l_orderkey
"""


def f14_subject_name_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/F15: subject-name strategy + identifier validation flags
    (analysis.go:546-613)."""
    docs = _t(spark, sf_dir, "documents").select("source").distinct()
    subject = F.concat(F.col("source"), F.lit("-value"))
    return (docs.select(subject.alias("subject"))
            .withColumn("topic_name_ok",
                        F.col("subject").rlike("^.+-(key|value)$"))
            .withColumn("record_name_ok",
                        F.col("subject")
                        .rlike(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")))


F14_ORACLE = r"""
SELECT source || '-value' AS subject,
       regexp_matches(source || '-value', '^.+-(key|value)$') AS topic_name_ok,
       regexp_matches(source || '-value',
                      '^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$')
         AS record_name_ok
FROM (SELECT DISTINCT source FROM documents)
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS semi-join: orders of one quarter that have
    at least one returned line, counted by priority (adapted to the
    simplified lineitem schema: l_returnflag='R' plays the late-line
    predicate).  The plan must be a LeftSemi join, never a join+distinct."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01")))
    returned = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R").select("l_orderkey")
    return (orders.join(returned,
                        orders["o_orderkey"] == returned["l_orderkey"],
                        "leftsemi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q12_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped case-sum over a fact-fact join: per linestatus,
    how many 1996 lines belong to high- vs low-priority orders (adapted:
    l_linestatus plays shipmode)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey",
                                                "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped anti-join + grouped COUNT(DISTINCT): per brand,
    distinct suppliers shipping it, EXCLUDING suppliers in the
    complaints set (negative balance stands in for the LIKE
    '%Complaints%' filter; lineitem is the part↔supplier bridge since
    the corpus has no partsupp)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1") \
        .select("p_partkey", "p_brand")
    complaints = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (li.join(complaints,
                    li["l_suppkey"] == complaints["s_suppkey"], "leftanti")
            .join(F.broadcast(part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


Q16_ORACLE = """
SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped outer-join distribution: orders per customer
    (zero-preserving LEFT OUTER with a right-side predicate), then the
    histogram of customers by order count — the classic two-level
    aggregation over an outer join."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
"""


def q17_small_quantity_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated-average filter: revenue from
    lineitems whose quantity is below 20% of their part's average.  The
    correlated subquery decorrelates to one per-part aggregate + join;
    the average COMPARISON avoids division entirely (qty*count*5 < sum
    in exact DECIMAL) so both engines agree bit-exactly at the
    threshold boundary."""
    li = _t(spark, sf_dir, "lineitem")
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#2").select("p_partkey"))
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(20,6)")).alias("__qsum"),
        F.count(F.lit(1)).alias("__qcnt"))
    j = (li.join(part, li["l_partkey"] == part["p_partkey"])
         .join(stats, "l_partkey")
         .filter(F.col("l_quantity").cast("decimal(20,6)")
                 * F.col("__qcnt") * 5 < F.col("__qsum")))
    return j.agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))


Q17_ORACLE = f"""
SELECT {dsum_expr('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(20,6))) AS qsum,
             COUNT(*) AS qcnt
      FROM lineitem GROUP BY l_partkey) s USING (l_partkey)
WHERE p_brand = 'Brand#2'
  AND CAST(l_quantity AS DECIMAL(20,6)) * qcnt * 5 < qsum
"""


def q19_disjunctive_pushdown(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunction of conjunctive ranges: revenue under
    an OR of three (brand, size, quantity) envelopes.  Catalyst pushes
    the common sub-predicates and keeps the disjunction a single
    post-join filter — no union-of-three-scans blowup."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand",
                                            "p_size")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    env = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    rev = psum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.filter(env).agg(rev.alias("revenue"))


Q19_ORACLE = f"""
SELECT {psum_expr('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped EXISTS + NOT EXISTS pair: suppliers who were the
    ONLY late shipper (shipdate > orderdate + 90 days) on finalized
    multi-supplier orders.  Both correlated EXISTS decorrelate to one
    semi-join and one anti-join on (orderkey, suppkey<>suppkey) — the
    hardest relational shape in the TPC-H set."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey",
                                              "l_shipdate")
    ords = (_t(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"))
    late = (li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .select("l_orderkey", "l_suppkey").distinct())
    allp = li.select("l_orderkey", "l_suppkey").distinct()
    a = late.alias("a")
    semi = a.join(
        allp.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")), "leftsemi")
    anti = semi.alias("s").join(
        late.alias("c"),
        (F.col("s.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("s.l_suppkey") != F.col("c.l_suppkey")), "leftanti")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (anti.groupBy("l_suppkey")
            .agg(F.countDistinct("l_orderkey").alias("numwait"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "numwait"))


Q21_ORACLE = """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
allp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_name, COUNT(DISTINCT a.l_orderkey) AS numwait
FROM late a JOIN supplier ON s_suppkey = a.l_suppkey
WHERE EXISTS (SELECT 1 FROM allp b
              WHERE b.l_orderkey = a.l_orderkey
                AND b.l_suppkey <> a.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late c
                  WHERE c.l_orderkey = a.l_orderkey
                    AND c.l_suppkey <> a.l_suppkey)
GROUP BY s_name
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped anti-join opportunity report: per market
    segment, customers with above-average positive balance and NO
    orders.  The global average comparison uses the division-free
    bal*count > sum DECIMAL form; the no-orders predicate is one
    anti-join."""
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = (cust.filter(F.col("c_acctbal") > 0)
           .agg(F.sum(bal).alias("__bsum"),
                F.count(F.lit(1)).alias("__bcnt")))
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    eligible = (cust.crossJoin(F.broadcast(pos))
                .filter(bal * F.col("__bcnt") > F.col("__bsum")))
    dormant = eligible.join(
        orders, eligible["c_custkey"] == orders["o_custkey"], "leftanti")
    return (dormant.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 dsum("c_acctbal", alias="totacctbal")))


Q22_ORACLE = f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bsum,
         COUNT(*) AS bcnt
  FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment, COUNT(*) AS numcust,
       {dsum_expr('c_acctbal')} AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bcnt > bsum
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped share-of-total HAVING: parts whose shipped value
    exceeds 1.3x the MEAN part value (the mean-relative form of Q11's
    0.0001/SF knob, so the predicate stays selective at every scale
    factor).  The global (total, count) enters as a 1-row broadcast and
    the comparison stays in exact DECIMAL (val*n_parts*10 > total*13) —
    division-free, so the HAVING boundary is bit-exact."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum((F.col("l_extendedprice") * F.col("l_quantity"))
                .cast("decimal(25,6)"))
    per_part = li.groupBy("l_partkey").agg(val.alias("__val"))
    total = per_part.agg(F.sum("__val").alias("__total"),
                         F.count(F.lit(1)).alias("__nparts"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("__val") * F.col("__nparts") * 10
                    > F.col("__total") * 13)
            .select("l_partkey",
                    F.col("__val").cast("double").alias("part_value")))


Q11_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(25,6))) AS val
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT SUM(val) AS t, COUNT(*) AS n FROM per_part)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM per_part, total WHERE val * n * 10 > t * 13
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped view + max: the supplier(s) with the maximum
    total revenue over a ship-date quarter.  The revenue 'view' is one
    aggregate; the max filter is a rank-1 window over it (no
    re-aggregation, no self-join of the view)."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(psum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("total_revenue")))
    w = Window.orderBy(F.desc("total_revenue"))
    top = (rev.withColumn("__r", F.rank().over(w))
           .filter(F.col("__r") == 1).drop("__r"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (top.join(F.broadcast(supp),
                     top["l_suppkey"] == supp["s_suppkey"])
            .select("s_suppkey", "s_name", "total_revenue"))


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {psum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped nested semi-join: suppliers who shipped more
    than half of some part's recent volume ('excess' share of a part's
    quarter), as names — supplier ∈ (pairs whose shipped quantity
    exceeds 50% of the part's total).  Two aggregates + one
    division-free DECIMAL comparison + one semi-join."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") >= "2000-01-01"))
    qty = F.sum(F.col("l_quantity").cast("decimal(20,6)"))
    pair = li.groupBy("l_partkey", "l_suppkey").agg(qty.alias("__pq"))
    part_total = li.groupBy("l_partkey").agg(qty.alias("__pt"))
    excess = (pair.join(part_total, "l_partkey")
              .filter(F.col("__pq") * 2 > F.col("__pt"))
              .select("l_suppkey").distinct())
    supp = _t(spark, sf_dir, "supplier")
    return (supp.join(excess,
                      supp["s_suppkey"] == excess["l_suppkey"], "leftsemi")
            .select("s_suppkey", "s_name"))


Q20_ORACLE = """
WITH li AS (SELECT * FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '2000-01-01'),
pair AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(20,6))) AS pq
  FROM li GROUP BY l_partkey, l_suppkey),
part_total AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(20,6))) AS pt
  FROM li GROUP BY l_partkey)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM pair JOIN part_total USING (l_partkey)
  WHERE pq * 2 > pt)
"""


def asof1_config_at_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup): every event picks up the config
    snapshot that was in force when it happened — snapshots are every
    10th event per type (deduped per timestamp), lookups are the rest.
    Spark has no native ASOF; ``operators.core.as_of_join`` re-expresses
    it as union + running-last-value window (one shuffle); the oracle is
    DuckDB's native ASOF LEFT JOIN, so the window formulation is proven
    equivalent to the real operator semantics."""
    from axonops_schema_registry_spark.operators.core import as_of_join

    ev = _t(spark, sf_dir, "events")
    snaps = (ev.filter(F.col("event_id") % 10 == 0)
             .groupBy("event_type", "ts")
             .agg(F.max("value").alias("config_value")))
    lefts = (ev.filter(F.col("event_id") % 10 != 0)
             .select("event_id", "event_type",
                     F.col("ts").alias("event_ts")))
    out = as_of_join(lefts, snaps, "event_type", "event_ts", "ts",
                     ["config_value"])
    return out.select("event_id", "event_type", "event_ts",
                      "config_value", "asof_ts")


ASOF1_ORACLE = """
WITH snaps AS (
  SELECT event_type, ts, MAX(value) AS config_value
  FROM events WHERE event_id % 10 = 0 GROUP BY event_type, ts),
lefts AS (
  SELECT event_id, event_type, ts AS event_ts
  FROM events WHERE event_id % 10 <> 0)
SELECT l.event_id, l.event_type, l.event_ts, s.config_value,
       s.ts AS asof_ts
FROM lefts l ASOF LEFT JOIN snaps s
  ON l.event_type = s.event_type AND l.event_ts >= s.ts
"""


def rj1_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: events counted per maintenance window
    (windows derived deterministically from each type's first event:
    [min_ts, +3d) and [min_ts+10d, +13d)).  The plan is an EQUI-join on
    day buckets + exact predicate — never the quadratic inequality
    BroadcastNestedLoop; the oracle uses the plain inequality join."""
    from axonops_schema_registry_spark.operators.core import (
        range_join_bucketed,
    )

    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy("event_type").agg(F.min("ts").alias("t0"))
    w1 = base.select(
        "event_type", F.concat(F.col("event_type"), F.lit(":w1"))
        .alias("window_id"), F.col("t0").alias("w_start"),
        (F.col("t0") + F.expr("INTERVAL 3 DAYS")).alias("w_end"))
    w2 = base.select(
        "event_type", F.concat(F.col("event_type"), F.lit(":w2"))
        .alias("window_id"),
        (F.col("t0") + F.expr("INTERVAL 10 DAYS")).alias("w_start"),
        (F.col("t0") + F.expr("INTERVAL 13 DAYS")).alias("w_end"))
    windows = (w1.unionByName(w2)
               .withColumnRenamed("event_type", "w_event_type"))
    joined = range_join_bucketed(ev.select("event_id", "event_type", "ts"),
                                 "ts", windows, "w_start", "w_end")
    # a maintenance calendar is keyed by system: exact type equality
    return (joined
            .filter(F.col("event_type") == F.col("w_event_type"))
            .groupBy("window_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event")))


RJ1_ORACLE = """
WITH base AS (SELECT event_type, MIN(ts) AS t0 FROM events
              GROUP BY event_type),
windows AS (
  SELECT event_type, event_type || ':w1' AS window_id, t0 AS w_start,
         t0 + INTERVAL 3 DAY AS w_end FROM base
  UNION ALL
  SELECT event_type, event_type || ':w2', t0 + INTERVAL 10 DAY,
         t0 + INTERVAL 13 DAY FROM base)
SELECT w.window_id, COUNT(*) AS n_events, MIN(e.event_id) AS first_event,
       MAX(e.event_id) AS last_event
FROM events e JOIN windows w
  ON e.event_type = w.event_type
 AND e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
"""


def hr1_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hourly → daily → weekly,
    each grain re-aggregated FROM the previous one, never from raw —
    the continuous-aggregate pattern that makes coarse grains O(fine
    buckets) instead of O(events) at 100 TB.  count/sum/min/max
    re-aggregate losslessly (avg derives from sum/count at read time);
    the oracle computes weekly straight from raw, proving the cascade
    exact."""
    ev = _t(spark, sf_dir, "events")
    # the running sums stay DECIMAL through every grain (exact,
    # associative re-aggregation); only the final output casts to double
    hourly = (ev.groupBy(F.col("event_type"),
                         F.date_trunc("hour", "ts").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("value").cast("decimal(18,3)"))
                   .alias("sum_value"),
                   F.min("value").alias("min_value"),
                   F.max("value").alias("max_value")))
    daily = (hourly.groupBy("event_type",
                            F.date_trunc("day", "bucket").alias("bucket"))
             .agg(F.sum("n").alias("n"),
                  F.sum("sum_value").alias("sum_value"),
                  F.min("min_value").alias("min_value"),
                  F.max("max_value").alias("max_value")))
    weekly = (daily.groupBy("event_type",
                            F.date_trunc("week", "bucket").alias("bucket"))
              .agg(F.sum("n").alias("n"),
                   F.sum("sum_value").alias("sum_value"),
                   F.min("min_value").alias("min_value"),
                   F.max("max_value").alias("max_value")))
    return weekly.select(
        "event_type",
        F.date_format("bucket", TS_FMT_SPARK).alias("week"),
        "n", F.col("sum_value").cast("double").alias("sum_value"),
        "min_value", "max_value")


HR1_ORACLE = f"""
SELECT event_type,
       strftime(date_trunc('week', ts), '{TS_FMT_DUCK}') AS week,
       COUNT(*) AS n,
       {dsum_expr('value', 3)} AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events
GROUP BY event_type, date_trunc('week', ts)
"""


# --------------------------------------------------------------------------
# Coverage completions: J2/J9/E4/F1/F6/W2/A3
# --------------------------------------------------------------------------

def j2_subjects_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: schema-ID → subjects/versions reverse lookup — which event types
    (subjects) carry each content fingerprint (postgres/store.go:242-258)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "fingerprint", F.sha2(F.col("props"), 256))
    # array results are serialized to one string: the driver's pandas
    # canonicalizer sorts all columns and cannot hash python lists
    return (ev.groupBy("fingerprint")
              .agg(F.array_join(F.sort_array(F.collect_set("event_type")), ",")
                   .alias("subjects"),
                   F.countDistinct("user_id").alias("n_actors")))


J2_ORACLE = """
SELECT sha256(props) AS fingerprint,
       array_to_string(list_sort(list_distinct(array_agg(event_type))), ',')
         AS subjects,
       COUNT(DISTINCT user_id) AS n_actors
FROM events GROUP BY 1
"""

_ALIASES = [("legacy-src1", "src1"), ("legacy-src3", "src3")]


def j9_alias_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: subject alias resolution before any lookup
    (registry_helpers.go:28) — requests against aliased names resolve to
    the target subject's corpus rows."""
    docs = _t(spark, sf_dir, "documents")
    aliases = spark.createDataFrame(_ALIASES, "alias string, target string")
    # resolve the *request* side: every alias behaves like its target
    requested = aliases.join(
        F.broadcast(docs.select(F.col("source").alias("target"))
                    .distinct()), "target")
    return (requested.join(docs, docs["source"] == requested["target"])
            .groupBy("alias", "target")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("doc_id").alias("max_doc_id")))


J9_ORACLE = """
WITH aliases(alias, target) AS (VALUES ('legacy-src1', 'src1'),
                                       ('legacy-src3', 'src3'))
SELECT alias, target, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc_id
FROM aliases JOIN documents ON source = target
GROUP BY alias, target
"""


def e4_migration_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: migration plan steps between two snapshots — anti-join deltas
    rendered as add/remove messages (analysis.go:944-973)."""
    diff = e1_schema_diff(spark, sf_dir)
    step = (F.when(F.col("status") == "added", F.lit("add"))
             .when(F.col("status") == "removed", F.lit("remove"))
             .otherwise(F.lit("change")))
    msg = F.concat(step, F.lit(" field '"), F.col("p_name"), F.lit("'"))
    return diff.select("p_name", step.alias("step_type"),
                       msg.alias("message"))


E4_ORACLE = """
WITH b1 AS (SELECT p_name, MIN(p_size) AS min_size FROM part
            WHERE p_brand = 'Brand#1' GROUP BY p_name),
     b2 AS (SELECT p_name, MIN(p_size) AS min_size FROM part
            WHERE p_brand = 'Brand#2' GROUP BY p_name),
diff AS (
  SELECT COALESCE(b1.p_name, b2.p_name) AS p_name,
         CASE WHEN b1.p_name IS NULL THEN 'add'
              WHEN b2.p_name IS NULL THEN 'remove'
              WHEN b1.min_size <> b2.min_size THEN 'change'
              ELSE 'unchanged' END AS step_type
  FROM b1 FULL OUTER JOIN b2 ON b1.p_name = b2.p_name)
SELECT p_name, step_type,
       step_type || ' field ''' || p_name || '''' AS message
FROM diff WHERE step_type <> 'unchanged'
"""


def f1_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: substring search over document text (analysis.go:142)."""
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("text").contains("spark merge"))
            .select("doc_id", "source"))


F1_ORACLE = """
SELECT doc_id, source FROM documents WHERE text LIKE '%spark merge%'
"""


def f6_naming_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: snake/camel/Pascal/kebab naming variants, deduped
    (internal/analysis/fuzzy.go:60-94)."""
    from axonops_schema_registry_spark.operators.text import naming_variants

    part = _t(spark, sf_dir, "part")
    # serialized to a single string for the driver canonicalizer (no lists)
    return (part.withColumn("__words", F.split("p_name", " "))
                .select("p_partkey", "p_name",
                        F.array_join(
                            F.sort_array(naming_variants("__words")), ",")
                        .alias("variants")))


F6_ORACLE = """
SELECT p_partkey, p_name,
       array_to_string(list_sort(list_distinct([
         array_to_string(words, '_'),
         words[1] || array_to_string(list_transform(words[2:],
             w -> upper(w[1]) || w[2:]), ''),
         array_to_string(list_transform(words,
             w -> upper(w[1]) || w[2:]), ''),
         array_to_string(words, '-')
       ])), ',') AS variants
FROM (SELECT p_partkey, p_name, string_split(p_name, ' ') AS words FROM part)
"""


def w2_listing_with_latest_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: listing annotated with a latest-only flag
    (memory/store.go:1087-1101)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (orders.withColumn("is_latest", F.row_number().over(w) == 1)
                  .select("o_custkey", "o_orderkey", "is_latest"))


W2_ORACLE = """
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
         AS is_latest
FROM orders WHERE o_custkey <= 50
"""


def a4c_cube_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 at scale: statistics over all (event_type × outcome) grouping
    combinations in ONE pass via CUBE — the reference computes each
    breakdown with a separate query; a 100 TB deployment wants one scan."""
    ev = _t(spark, sf_dir, "events")
    outcome = (F.when(F.col("event_type") == "error", "failure")
                .otherwise("success"))
    return (ev.withColumn("outcome", outcome)
              .cube("event_type", "outcome")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.countDistinct("user_id").alias("n_users")))


A4C_ORACLE = """
SELECT event_type,
       CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
         AS outcome,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY CUBE (event_type,
               CASE WHEN event_type = 'error' THEN 'failure'
                    ELSE 'success' END)
"""


def a3_global_id_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: GetMaxSchemaID + global counters (storage.go:287,
    registry.go:511-536)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.max("o_orderkey").alias("max_schema_id"),
        F.countDistinct("o_custkey").alias("n_subjects"),
        F.count(F.lit(1)).alias("n_versions"))


A3_ORACLE = """
SELECT MAX(o_orderkey) AS max_schema_id,
       COUNT(DISTINCT o_custkey) AS n_subjects,
       COUNT(*) AS n_versions
FROM orders
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated-min supplier selection, adapted to
    the driver schema (no partsupp table — the per-(part, supplier)
    unit cost derives from lineitem's observed prices): for SMALL
    parts of size 10, pick each part's cheapest EUROPE supplier.
    The per-group min re-enters as an equi-join (the decorrelated
    form Catalyst produces for Q2's scalar subquery)."""
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    li = _t(spark, sf_dir, "lineitem")

    europe_supp = (supp
                   .join(F.broadcast(nation),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .join(F.broadcast(region.filter(
                       F.col("r_name") == "EUROPE")),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                   .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    target_parts = part.filter((F.col("p_size") == 10)
                               & (F.col("p_type") == "SMALL")) \
        .select("p_partkey", "p_name")
    unit_cost = (li.groupBy("l_partkey", "l_suppkey")
                 .agg(F.min(F.col("l_extendedprice")
                            / F.col("l_quantity")).alias("unit_cost")))
    offers = (unit_cost
              .join(F.broadcast(target_parts),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(europe_supp),
                    F.col("l_suppkey") == F.col("s_suppkey")))
    best = offers.groupBy("p_partkey").agg(
        F.min("unit_cost").alias("__min_cost"))
    return (offers.join(best, "p_partkey")
            .filter(F.col("unit_cost") == F.col("__min_cost"))
            .select("p_partkey", "p_name", "s_name", "n_name",
                    "s_acctbal", "unit_cost")
            .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
            .limit(100))


Q2_ORACLE = """
WITH europe_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
target_parts AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size = 10 AND p_type = 'SMALL'),
unit_cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
offers AS (
  SELECT p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost
  FROM unit_cost
  JOIN target_parts ON l_partkey = p_partkey
  JOIN europe_supp ON l_suppkey = s_suppkey),
best AS (SELECT p_partkey, MIN(unit_cost) AS min_cost FROM offers
         GROUP BY p_partkey)
SELECT o.p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost
FROM offers o JOIN best b
  ON o.p_partkey = b.p_partkey AND o.unit_cost = b.min_cost
ORDER BY s_acctbal DESC, o.p_partkey, s_name LIMIT 100
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share: NATION_3's share of ASIA
    customers' PROMO-part revenue per order year.  The share divides
    two exact DECIMAL sums as doubles — bit-deterministic."""
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    cust_asia = (cust
                 .join(F.broadcast(nation),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                 .join(F.broadcast(region.filter(
                     F.col("r_name") == "ASIA")),
                     F.col("n_regionkey") == F.col("r_regionkey"))
                 .select("c_custkey"))
    supp_n = (supp
              .join(F.broadcast(nation.select(
                  F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("sn_key"))
              .select("s_suppkey", "supp_nation"))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    base = (li
            .join(F.broadcast(part.filter(F.col("p_type") == "PROMO")
                              .select("p_partkey")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp_n),
                  F.col("l_suppkey") == F.col("s_suppkey")))
    return (base.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(psum(F.when(F.col("supp_nation") == "NATION_3", rev)
                      .otherwise(F.lit(0.0))).alias("nation_revenue"),
                 psum(rev).alias("total_revenue"))
            .withColumn("mkt_share",
                        F.col("nation_revenue")
                        / F.col("total_revenue"))
            .orderBy("o_year"))


Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       {psum_expr("CASE WHEN sn.n_name = 'NATION_3' THEN "
                  "l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         AS nation_revenue,
       {psum_expr('l_extendedprice * (1.0 - l_discount)')}
         AS total_revenue,
       {psum_expr("CASE WHEN sn.n_name = 'NATION_3' THEN "
                  "l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         / {psum_expr('l_extendedprice * (1.0 - l_discount)')}
         AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY 1 ORDER BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-type profit by supplier nation and
    year, adapted to the driver schema (no partsupp supplycost — the
    cost side derives from the part's retail price): profit =
    revenue - 0.5 * p_retailprice * quantity over STANDARD parts."""
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    amount = (F.col("l_extendedprice")
              * (F.lit(1.0) - F.col("l_discount"))
              - F.lit(0.5) * F.col("p_retailprice")
              * F.col("l_quantity"))
    return (li
            .join(F.broadcast(part.filter(F.col("p_type") == "STANDARD")
                              .select("p_partkey", "p_retailprice")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").alias("o_year"))
            .agg(psum(amount).alias("sum_profit"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("nation", F.desc("o_year")))


Q9_ORACLE = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {psum_expr('l_extendedprice * (1.0 - l_discount) '
                  '- 0.5 * p_retailprice * l_quantity')} AS sum_profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


SPECS: list[QuerySpec] = [
    QuerySpec("q2_min_cost_supplier", q2_min_cost_supplier, Q2_ORACLE,
              tags=("relational", "join", "correlated")),
    QuerySpec("q8_market_share", q8_market_share, Q8_ORACLE,
              tags=("relational", "join", "agg")),
    QuerySpec("q9_product_profit", q9_product_profit, Q9_ORACLE,
              tags=("relational", "join", "agg")),
    QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE,
              doc="scan+agg flagship", tags=("agg",)),
    QuerySpec("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE,
              doc="join+agg+topk", tags=("join",)),
    QuerySpec("q5_local_supplier_volume", q5_local_supplier_volume, Q5_ORACLE,
              doc="star join", tags=("join",)),
    QuerySpec("q7_nation_volume", q7_nation_volume, Q7_ORACLE,
              doc="two-dimension volume join", tags=("join",)),
    QuerySpec("q10_returned_items", q10_returned_items, Q10_ORACLE,
              doc="returned-items topk", tags=("join",)),
    QuerySpec("q14_promo_revenue_share", q14_promo_revenue_share, Q14_ORACLE,
              doc="promo share ratio", tags=("join",)),
    QuerySpec("q6_forecast_revenue", q6_forecast_revenue, Q6_ORACLE,
              doc="pushdown filter agg", tags=("agg",)),
    QuerySpec("q18_large_orders", q18_large_orders, Q18_ORACLE,
              doc="having semi-join topk", tags=("join",)),
    QuerySpec("q4_order_priority", q4_order_priority, Q4_ORACLE,
              doc="EXISTS semi-join", tags=("join",)),
    QuerySpec("q12_priority_linestatus", q12_priority_linestatus,
              Q12_ORACLE, doc="case-sum fact-fact join", tags=("join",)),
    QuerySpec("q16_supplier_counts", q16_supplier_counts, Q16_ORACLE,
              doc="anti-join + count-distinct", tags=("join",)),
    QuerySpec("q13_customer_distribution", q13_customer_distribution,
              Q13_ORACLE, doc="outer-join histogram", tags=("join", "agg")),
    QuerySpec("q17_small_quantity_revenue", q17_small_quantity_revenue,
              Q17_ORACLE, doc="correlated-average filter",
              tags=("join", "agg")),
    QuerySpec("q19_disjunctive_pushdown", q19_disjunctive_pushdown,
              Q19_ORACLE, doc="OR-of-conjunctions filter", tags=("scan",)),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, Q21_ORACLE,
              doc="EXISTS + NOT EXISTS pair", tags=("join",)),
    QuerySpec("q22_dormant_customers", q22_dormant_customers, Q22_ORACLE,
              doc="global-average anti-join", tags=("join", "agg")),
    QuerySpec("q11_important_stock", q11_important_stock, Q11_ORACLE,
              doc="share-of-total HAVING", tags=("agg",)),
    QuerySpec("q15_top_supplier", q15_top_supplier, Q15_ORACLE,
              doc="revenue view + rank-1 max", tags=("agg", "window")),
    QuerySpec("q20_excess_shippers", q20_excess_shippers, Q20_ORACLE,
              doc="nested semi-join", tags=("join",)),
    QuerySpec("asof1_config_at_event_time", asof1_config_at_event_time,
              ASOF1_ORACLE, doc="as-of point-in-time join",
              tags=("join", "window")),
    QuerySpec("rj1_events_in_windows", rj1_events_in_windows, RJ1_ORACLE,
              doc="bucketed range join", tags=("join",)),
    QuerySpec("hr1_hypertable_rollup", hr1_hypertable_rollup, HR1_ORACLE,
              doc="hierarchical continuous aggregate", tags=("agg",)),
    QuerySpec("s1_prefix_listing", s1_prefix_listing, S1_ORACLE, tags=("scan",)),
    QuerySpec("s2_point_lookup", s2_point_lookup, S2_ORACLE, tags=("scan",)),
    QuerySpec("s3_subject_version_lookup", s3_subject_version_lookup,
              S3_ORACLE, tags=("scan",)),
    QuerySpec("s4_fingerprint_lookup", s4_fingerprint_lookup, S4_ORACLE,
              tags=("scan",)),
    QuerySpec("s5_distinct_listing", s5_distinct_listing, S5_ORACLE,
              tags=("scan",)),
    QuerySpec("p1_live_view", p1_live_view, P1_ORACLE, tags=("filter",)),
    QuerySpec("p4_status_split", p4_status_split, P4_ORACLE, tags=("filter",)),
    QuerySpec("p5_metadata_property_filter", p5_metadata_property_filter,
              P5_ORACLE, tags=("filter",)),
    QuerySpec("j1_referenced_by", j1_referenced_by, J1_ORACLE, tags=("join",)),
    QuerySpec("j3_multilevel_resolution", j3_multilevel_resolution, J3_ORACLE,
              tags=("join",)),
    QuerySpec("j6_config_fallback", j6_config_fallback, J6_ORACLE,
              tags=("join",)),
    QuerySpec("j7_dedup_anti_join", j7_dedup_anti_join, J7_ORACLE,
              tags=("join",)),
    QuerySpec("a1_versions_view", a1_versions_view, A1_ORACLE, tags=("agg",)),
    QuerySpec("a4_registry_statistics", a4_registry_statistics, A4_ORACLE,
              tags=("agg",)),
    QuerySpec("a5_field_patterns", a5_field_patterns, A5_ORACLE, tags=("agg",)),
    QuerySpec("a6_type_consistency", a6_type_consistency, A6_ORACLE,
              tags=("agg",)),
    QuerySpec("a8_quality_scores", a8_quality_scores, A8_ORACLE, tags=("agg",)),
    QuerySpec("a9_complexity", a9_complexity, A9_ORACLE, tags=("agg",)),
    QuerySpec("a10_event_metrics", a10_event_metrics, A10_ORACLE,
              tags=("agg",)),
    QuerySpec("w1_latest_per_subject", w1_latest_per_subject, W1_ORACLE,
              tags=("window",)),
    QuerySpec("w3_content_addressed_ids", w3_content_addressed_ids, W3_ORACLE,
              tags=("window",)),
    QuerySpec("w5_prior_version_delta", w5_prior_version_delta, W5_ORACLE,
              tags=("window",)),
    QuerySpec("o2_deterministic_pagination", o2_deterministic_pagination,
              O2_ORACLE, tags=("sort",)),
    QuerySpec("e1_schema_diff", e1_schema_diff, E1_ORACLE, tags=("setop",)),
    QuerySpec("e2_subject_compare", e2_subject_compare, E2_ORACLE,
              tags=("setop",)),
    QuerySpec("e3_similarity_selfjoin", e3_similarity_selfjoin, E3_ORACLE,
              tags=("setop",)),
    QuerySpec("e5_union_segments", e5_union_segments, E5_ORACLE,
              tags=("setop",)),
    QuerySpec("f2_regex_search", f2_regex_search, F2_ORACLE, tags=("string",)),
    QuerySpec("f3_glob_search", f3_glob_search, F3_ORACLE, tags=("string",)),
    QuerySpec("f5_normalize_names", f5_normalize_names, F5_ORACLE,
              tags=("string",)),
    QuerySpec("f7_fuzzy_match", f7_fuzzy_match, F7_ORACLE, tags=("string",)),
    QuerySpec("f10_global_fingerprint", f10_global_fingerprint, F10_ORACLE,
              tags=("string",)),
    QuerySpec("f14_subject_name_strategy", f14_subject_name_strategy,
              F14_ORACLE, tags=("string",)),
    QuerySpec("j2_subjects_by_fingerprint", j2_subjects_by_fingerprint,
              J2_ORACLE, tags=("join",)),
    QuerySpec("j9_alias_resolution", j9_alias_resolution, J9_ORACLE,
              tags=("join",)),
    QuerySpec("e4_migration_plan", e4_migration_plan, E4_ORACLE,
              tags=("setop",)),
    QuerySpec("f1_substring_search", f1_substring_search, F1_ORACLE,
              tags=("string",)),
    QuerySpec("f6_naming_variants", f6_naming_variants, F6_ORACLE,
              tags=("string",)),
    QuerySpec("w2_listing_with_latest_flag", w2_listing_with_latest_flag,
              W2_ORACLE, tags=("window",)),
    QuerySpec("a3_global_id_stats", a3_global_id_stats, A3_ORACLE,
              tags=("agg",)),
    QuerySpec("a4c_cube_statistics", a4c_cube_statistics, A4C_ORACLE,
              tags=("agg",)),
]

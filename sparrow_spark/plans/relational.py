"""Core relational operators (SURVEY.md §2.2): scan/filter/project,
hash aggregation, all join kinds, DISTINCT, set ops, HAVING, grouping
sets, LIMIT/ORDER BY — declared with the DataFrame API so Catalyst
applies pushdown/pruning/join-selection (the reference delegates the
same work to DataFusion: reference src/execute_impl/select.rs:41-97).

Scale notes per query are inline: small dimensions are broadcast, fact
tables shuffle on join/group keys only once, and every double aggregate
is rounded so results are exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Q1: pricing summary — scan + filter + hash-agg + sort (TPC-H Q1 shape).
# Flagship query: same spine as the reference's S1 SELECT path
# (reference src/execute_impl/select.rs:41-97 via DataFusion hash agg).
# Scale: single shuffle on 2 low-cardinality keys; partial aggregation
# (map-side combine) is automatic; filter pushed to parquet scan.
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rnd(F.sum(disc_price), 2).alias("sum_disc_price"),
            rnd(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
            rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
            rnd(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3: shipping priority — 3-way join + agg + top-k.
# Scale: customer filter applied before join (pushdown); top-k via
# orderBy+limit compiles to TakeOrderedAndProject (no full sort).
# --------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5: local supplier volume — 6-way join with dimension broadcast chain.
# Scale: region/nation/supplier/customer are dimensions → broadcast;
# only lineitem⋈orders shuffles (on orderkey).
# --------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc())
    )


# --------------------------------------------------------------------------
# Q6: forecast revenue — pure filter + global agg (no group keys).
# Scale: filters push to parquet row-group stats; single-row result.
# --------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q10: returned items — join + agg + top-k by revenue.
# --------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(max(c_acctbal), 2) AS acctbal
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            rnd(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Join kinds (reference supports INNER/LEFT/RIGHT/FULL OUTER via
# DataFusion HashJoinExec — reference src/core/execution.rs:186-265;
# semi/anti are a Spark free-superset used for unique-key checks).
# --------------------------------------------------------------------------
@query(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
    )


@query(
    "q_join_right_outer",
    oracle="""
    SELECT o_orderkey, o_orderstatus, c_name
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    WHERE c_acctbal < -500
    """,
)
def q_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -500)
    orders = _t(spark, sf_dir, "orders")
    return orders.join(cust, cust.c_custkey == orders.o_custkey, "right").select(
        "o_orderkey", "o_orderstatus", "c_name"
    )


@query(
    "q_join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(supp, cust.nk == supp.nk, "full").select(
        F.coalesce(cust.nk, supp.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@query(
    "q_join_theta",
    oracle="""
    SELECT s_nationkey, count(*) AS n_pairs
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    GROUP BY s_nationkey
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi-key plus inequality residual: Catalyst plans a hash join on
    # the equi part with the theta predicate as a post-join filter.
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    return (
        supp
        .join(
            cust,
            (supp.s_nationkey == cust.c_nationkey) & (supp.s_acctbal > cust.c_acctbal),
        )
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q_join_using_natural",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    """,
)
def q_join_using_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference normalizes USING(cols) joins (src/core/execution.rs:404-420);
    # Spark's join(on=[col]) is the same coalesced-key semantics.
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


# --------------------------------------------------------------------------
# Aggregation matrix (DataFusion 6 built-ins → Spark equivalents,
# SURVEY §2.2): stats aggs, count distinct, distinct, having, percentile.
# --------------------------------------------------------------------------
@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(stddev_samp(l_quantity), 4) AS std_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.var_samp("l_quantity"), 4).alias("var_qty"),
        rnd(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        rnd(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        rnd(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        rnd(F.min("l_extendedprice"), 2).alias("min_price"),
        rnd(F.max("l_extendedprice"), 2).alias("max_price"),
        rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_exact,
           true AS approx_within_10pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the at-scale cardinality
    path (reference: DF 6 approx_distinct, SURVEY §2.2). Engines'
    sketches differ bit-for-bit, so the oracle contract is the exact
    count plus a bounded-relative-error assertion on the sketch (HLL++
    at rsd=0.02 is far inside 10% at any cardinality)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.countDistinct("o_custkey")
            )
            <= 0.10 * F.countDistinct("o_custkey")
        ).alias("approx_within_10pct"),
    )


@query(
    "q_select_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "q_having",
    oracle="""
    SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
    FROM part GROUP BY p_brand
    HAVING count(*) > 5
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            rnd(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .filter(F.col("n_parts") > 5)
    )


@query(
    "q_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUPING SETS are a free Spark superset over the reference (absent
    # in DataFusion 6 — SURVEY §2.2).
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_cust"))


@query(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentile (matches DuckDB quantile_cont);
    # percentile_approx stays available as the at-scale variant.
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        rnd(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
    )


@query(
    "q_percentile_approx_audit",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
           TRUE AS p50_in_band,
           TRUE AS p90_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile_approx_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the AT-SCALE percentile path: percentile_approx
    (Greenwald-Khanna sketch, mergeable across partitions — the only
    percentile that works at 100 TB, where exact `percentile` would
    collect every value per group) is checked against its own rank
    guarantee. With accuracy A the sketch's rank error is at most n/A,
    so the approx value must lie within the exact interpolated
    percentiles of q ± 1/A. The query OUTPUTS the verdict booleans (and
    the exact values), so the oracle — which cannot reproduce the
    sketch — re-derives the exact side and the literal expectation that
    both bands hold. Keep the exact aggregate here fixture-only; at
    production scale the audit runs on a sampled partition and only
    the approx path touches the full data."""
    acc = 100  # rank error <= n/100 => quantile band q +/- 0.01
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile_approx(l_quantity, 0.5, {acc})").alias("p50_a"),
        F.expr(f"percentile_approx(l_quantity, 0.9, {acc})").alias("p90_a"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50_e"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_e"),
        F.expr("percentile(l_quantity, 0.49)").alias("p50_lo"),
        F.expr("percentile(l_quantity, 0.51)").alias("p50_hi"),
        F.expr("percentile(l_quantity, 0.89)").alias("p90_lo"),
        F.expr("percentile(l_quantity, 0.91)").alias("p90_hi"),
    )
    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        rnd(F.col("p50_e"), 4).alias("p50_exact"),
        rnd(F.col("p90_e"), 4).alias("p90_exact"),
        F.col("p50_a").between(F.col("p50_lo"), F.col("p50_hi")).alias("p50_in_band"),
        F.col("p90_a").between(F.col("p90_lo"), F.col("p90_hi")).alias("p90_in_band"),
    )


# --------------------------------------------------------------------------
# Set operations (UNION [ALL] / INTERSECT / EXCEPT — SURVEY §2.2).
# --------------------------------------------------------------------------
@query(
    "q_union_all",
    oracle="""
    SELECT c_name AS name, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS src FROM supplier
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return cust.unionByName(supp)


@query(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.distinct().subtract(supp.distinct())


# --------------------------------------------------------------------------
# ORDER BY multi-key with nulls placement + LIMIT/OFFSET.
# --------------------------------------------------------------------------
@query(
    "q_orderby_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50 OFFSET 25
    """,
)
def q_orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(
            F.col("o_orderpriority").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .offset(25)
        .limit(50)
    )


# --------------------------------------------------------------------------
# Range (non-equi interval) join — reference lacks it; implemented as a
# broadcast nested-loop with a band predicate. Scale path: bin both
# sides to overlapping buckets of width = band and equi-join on bucket.
# --------------------------------------------------------------------------
@query(
    "q_range_join",
    oracle="""
    SELECT s_suppkey, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(
            supp,
            (cust.c_acctbal >= supp.s_acctbal - 100) & (cust.c_acctbal <= supp.s_acctbal + 100),
        )
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            rnd(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@query(
    "q_join_cardinality_est",
    oracle="""
    WITH sk AS (
      SELECT l_orderkey, count(*) AS ca FROM lineitem
      WHERE l_orderkey % 16 = 0 GROUP BY 1
    ), ob AS (
      SELECT o_orderkey, count(*) AS cb FROM orders GROUP BY 1
    ), est AS (
      SELECT CAST(16 * coalesce(sum(ca * cb), 0) AS BIGINT) AS est_rows
      FROM sk JOIN ob ON l_orderkey = o_orderkey
    ), act AS (
      SELECT CAST(count(*) AS BIGINT) AS actual_rows
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT est_rows, actual_rows,
           round(abs(est_rows - actual_rows)
                 / CAST(actual_rows AS DOUBLE), 4) AS rel_error
    FROM est, act
    """,
)
def q_join_cardinality_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from key histograms — the planner
    primitive behind join reordering and broadcast decisions
    (|A join B| = sum over keys of cA(k)*cB(k)). The estimate uses a
    deterministic 1-in-16 KEY sample of the fact side (key sampling
    keeps per-key counts intact, so the scaled sum is unbiased for
    the key-sum), compared against the true executed cardinality.

    Scale: the estimate touches only two keyed count aggregates and a
    histogram join on the sampled keys — a ~6% pass instead of the
    full join. This is how an engine decides a join strategy BEFORE
    paying for the join; at 100 TB the histogram is the only thing
    that moves. The actual-count side exists purely as the audit."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    sk = (
        li.filter(F.col("l_orderkey") % 16 == 0)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    ob = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cb"))
    est = (
        sk.join(ob, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            (16 * F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)))
            .cast("bigint")
            .alias("est_rows")
        )
    )
    act = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("actual_rows")
    )
    return est.join(act).select(
        "est_rows",
        "actual_rows",
        rnd(
            F.abs(F.col("est_rows") - F.col("actual_rows"))
            / F.col("actual_rows").cast("double"),
            4,
        ).alias("rel_error"),
    )


def _zvalue(a, b, bits: int = 8):
    """Morton/Z-order interleave of two `bits`-bit integers (a in the
    even bit positions, b in the odd) as a JVM-side integer fold."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(abit, 2 * i) + F.shiftleft(bbit, 2 * i + 1)
    return z


@query(
    "q_zorder_layout",
    oracle="""
    WITH z AS (
      SELECT l_orderkey,
             l_partkey % 256 AS p8, l_suppkey % 256 AS s8,
             (
               ((l_partkey % 256) // 1 % 2) * 1 + ((l_suppkey % 256) // 1 % 2) * 2
             + ((l_partkey % 256) // 2 % 2) * 4 + ((l_suppkey % 256) // 2 % 2) * 8
             + ((l_partkey % 256) // 4 % 2) * 16 + ((l_suppkey % 256) // 4 % 2) * 32
             + ((l_partkey % 256) // 8 % 2) * 64 + ((l_suppkey % 256) // 8 % 2) * 128
             + ((l_partkey % 256) // 16 % 2) * 256 + ((l_suppkey % 256) // 16 % 2) * 512
             + ((l_partkey % 256) // 32 % 2) * 1024 + ((l_suppkey % 256) // 32 % 2) * 2048
             + ((l_partkey % 256) // 64 % 2) * 4096 + ((l_suppkey % 256) // 64 % 2) * 8192
             + ((l_partkey % 256) // 128 % 2) * 16384 + ((l_suppkey % 256) // 128 % 2) * 32768
             ) AS zval
      FROM lineitem
    )
    SELECT CAST(zval // 1024 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT p8) AS BIGINT) AS n_part_values,
           CAST(count(DISTINCT s8) AS BIGINT) AS n_supp_values,
           CAST(min(zval) AS BIGINT) AS z_min,
           CAST(max(zval) AS BIGINT) AS z_max
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit — the data-clustering
    primitive behind OPTIMIZE ZORDER BY (p, s): interleaving the bits
    of two join/filter keys gives a 1-D sort order under which any
    contiguous file of rows spans only a small aligned square of the
    (p, s) key space, so min/max file statistics prune on BOTH
    columns. The audit buckets rows by z-range (1024-wide = a 32x32
    key tile) and reports how many distinct values of each key a
    bucket touches — bounded at 32 per side, versus ~all 256 for a
    single-key or arrival-order layout.

    Scale: the z-value is a pure map-side integer fold (no Python, no
    shuffle); the audit is one keyed agg over 64 buckets. The
    production write is sort-within-partitions by zval before
    writing files — same expression, zero extra shuffles beyond the
    range partition the sort already needs."""
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        (F.col("l_partkey") % 256).alias("p8"),
        (F.col("l_suppkey") % 256).alias("s8"),
        _zvalue(F.col("l_partkey") % 256, F.col("l_suppkey") % 256).alias("zval"),
    )
    return (
        z.groupBy((F.col("zval") / 1024).cast("bigint").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("p8").cast("bigint").alias("n_part_values"),
            F.countDistinct("s8").cast("bigint").alias("n_supp_values"),
            F.min("zval").cast("bigint").alias("z_min"),
            F.max("zval").cast("bigint").alias("z_max"),
        )
        .orderBy("zbucket")
    )


@query(
    "q_frequent_pairs",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sup AS (
      SELECT p1, p2, CAST(count(*) AS BIGINT) AS support
      FROM pairs GROUP BY 1, 2
    )
    SELECT p1, p2, support
    FROM sup WHERE support >= 2
    ORDER BY support DESC, p1, p2
    LIMIT 50
    """,
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining (the A-priori/FP-growth
    first pass): parts co-purchased in the same order, with support
    counts, top-50 by support — co-occurrence statistics drive
    recommendations, shelf placement, and (for corpora) co-citation /
    co-mention analysis.

    Scale: pairs are generated WITHIN baskets — one groupBy(orderkey)
    collects each basket's distinct sorted items (basket sizes are
    bounded by order width, here <= 7), pairs explode per basket
    (O(width²) per order, never corpus²), and support is one keyed
    agg with map-side combine. The oracle's self-join form would
    shuffle the fact table against itself; the basket form shuffles
    it once. Top-50 = TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("items"), i + 2, F.size(F.col("items"))
                        ),
                        lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                    ),
                )
            )
        ).alias("pr")
    ).select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.col("support").desc(), "p1", "p2")
        .limit(50)
    )


@query(
    "q_item_cf",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), cooc AS (
      SELECT p1, p2, CAST(count(*) AS DOUBLE) AS c FROM pairs GROUP BY 1, 2
    ), pop AS (
      SELECT l_partkey AS p, CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n
      FROM lineitem GROUP BY 1
    ), sym AS (
      SELECT p1 AS item, p2 AS other, c FROM cooc
      UNION ALL
      SELECT p2 AS item, p1 AS other, c FROM cooc
    ), scored AS (
      SELECT s.item, s.other,
             s.c / sqrt(pa.n * pb.n) AS sim,
             row_number() OVER (PARTITION BY s.item
                                ORDER BY s.c / sqrt(pa.n * pb.n) DESC,
                                         s.other) AS rk
      FROM sym s JOIN pop pa ON pa.p = s.item JOIN pop pb ON pb.p = s.other
      WHERE s.c >= 2
    )
    SELECT item, other, round(sim, 6) AS sim, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 3
    ORDER BY item, rk
    """,
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (the classic Amazon
    'customers also bought'): cosine on basket co-occurrence —
    sim(i, j) = cooc(i, j) / sqrt(n_i * n_j) — with a min-support cut
    and top-3 neighbors per item. Feeds recommendations straight from
    the q_frequent_pairs machinery.

    Scale: co-occurrence pairs explode WITHIN baskets (width-bounded,
    never corpus²); popularity is one keyed count; the symmetric
    expansion doubles only the support-filtered pair list, and
    ranking shuffles per item — all keyed, no similarity matrix ever
    materialized beyond surviving pairs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                        lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                    ),
                )
            )
        ).alias("pr")
    ).select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    cooc = pairs.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).filter(F.col("c") >= 2)
    pop = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.countDistinct("l_orderkey").cast("double").alias("n")
    )
    sym = cooc.select(
        F.col("p1").alias("item"), F.col("p2").alias("other"), "c"
    ).unionByName(
        cooc.select(F.col("p2").alias("item"), F.col("p1").alias("other"), "c")
    )
    pa = pop.select(F.col("p").alias("item"), F.col("n").alias("na"))
    pb = pop.select(F.col("p").alias("other"), F.col("n").alias("nb"))
    sim = F.col("c") / F.sqrt(F.col("na") * F.col("nb"))
    from pyspark.sql import Window as W

    rw = W.partitionBy("item").orderBy(sim.desc(), "other")
    return (
        sym.join(pa, "item")
        .join(pb, "other")
        .withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 3)
        .select(
            "item", "other", rnd(sim, 6).alias("sim"),
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("item", "rk")
    )


@query(
    "q_gini_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY 1
    ), ranked AS (
      SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i,
             count(*) OVER () AS n
      FROM cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(sum(rev), 2) AS total_revenue,
           round(2.0 * sum(i * rev) / (max(n) * sum(rev))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the inequality summary (0 = uniform, →1 = one whale) computed by
    the sorted-rank identity G = 2·Σ(i·x_(i)) / (n·Σx) − (n+1)/n.
    The business-health twin of the corpus heavy-hitter audits; for a
    training corpus the same operator measures source or domain
    concentration.

    Scale: per-customer revenue is one keyed agg; ranks come from
    global_sort_ranks (range partition + offsets, no single-task
    window); the final reduction is a plain aggregate. One range
    shuffle beyond the rollup."""
    from sparrow_spark.operators.dedup import global_sort_ranks

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    ranked = global_sort_ranks(cust, ["rev", "o_custkey"])
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        rnd(F.sum("rev"), 2).alias("total_revenue"),
        rnd(
            F.lit(2.0) * F.sum(F.col("rn") * F.col("rev"))
            / (F.count(F.lit(1)) * F.sum("rev"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


@query(
    "q_set_ops_all",
    oracle="""
    WITH a AS (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    ), b AS (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    ), i AS (
      SELECT o_orderpriority FROM a INTERSECT ALL
      SELECT o_orderpriority FROM b
    ), e AS (
      SELECT o_orderpriority FROM a EXCEPT ALL
      SELECT o_orderpriority FROM b
    )
    SELECT 'intersect_all' AS op, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n
    FROM i GROUP BY o_orderpriority
    UNION ALL
    SELECT 'except_all', o_orderpriority, CAST(count(*) AS BIGINT)
    FROM e GROUP BY o_orderpriority
    ORDER BY op, o_orderpriority
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL keeps
    min(multiplicity) per value across the two inputs and EXCEPT ALL
    subtracts multiplicities — the SQL:1999 duplicates-preserving
    forms (q_intersect / q_except cover the DISTINCT forms) that
    matter whenever row counts ARE the payload (inventory
    reconciliation, event replays). Spark's intersectAll/exceptAll
    plan as aggregate-count + join on counts, not row-pairing.

    Scale: both rewrite to value-keyed count aggregates — one shuffle
    per side on the value key, output bounded by distinct values."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    i = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_orderpriority", "n")
    )
    e = (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "o_orderpriority", "n")
    )
    return i.unionByName(e).orderBy("op", "o_orderpriority")


@query(
    "q_filtered_aggs",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE o_totalprice > 100000)
                AS BIGINT) AS n_large,
           round(avg(o_totalprice) FILTER (WHERE o_orderpriority
                                           LIKE '1-%'), 2)
             AS avg_urgent_price,
           round(sum(o_totalprice) FILTER (WHERE year(o_orderdate) = 1997),
                 2) AS rev_1997
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard FILTER-clause aggregates (SQL:2003): several
    differently-filtered aggregates over the SAME grouped pass —
    count, conditional count, a filtered average (NULL when no row
    qualifies, unlike the CASE-WHEN-ELSE-0 rewrite), and a filtered
    sum — the idiom that replaces N self-joins or N CASE pyramids
    with one scan. Spark parses the same FILTER syntax in SQL; the
    DataFrame twin is when().otherwise(None) inside the aggregate.

    Scale: one keyed aggregation regardless of how many filtered
    aggregates ride in it."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_filtered_aggs")
    out = orders.sparkSession.sql(
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(*) FILTER (WHERE o_totalprice > 100000)
                    AS BIGINT) AS n_large,
               avg(o_totalprice) FILTER (WHERE o_orderpriority
                                         LIKE '1-%') AS avg_urgent_raw,
               sum(o_totalprice) FILTER (WHERE year(o_orderdate) = 1997)
                 AS rev_1997_raw
        FROM _orders_filtered_aggs
        GROUP BY o_orderstatus
        """
    )
    return out.select(
        "o_orderstatus",
        "n_orders",
        "n_large",
        rnd("avg_urgent_raw", 2).alias("avg_urgent_price"),
        rnd("rev_1997_raw", 2).alias("rev_1997"),
    ).orderBy("o_orderstatus")

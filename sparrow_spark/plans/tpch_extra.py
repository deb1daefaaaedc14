"""Extended TPC-H query shapes (Q2/Q4/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q17/
Q20/Q21/Q22 — with the spine queries elsewhere this completes all 22),
adapted to the fixture's TPC-H subset schema (no partsupp, no
commitdate/receiptdate/phone — the lineitem<->part link stands in for
partsupp, shipdate ordering stands in for commit-vs-receipt lateness,
and nationkey stands in for the phone country code).

These exercise the relational surface the reference delegates wholesale
to its vendored DataFusion (reference src/execute_impl/select.rs:41-97):
multi-way joins with mixed broadcast/shuffle sides, scalar and
correlated subqueries (decorrelated to joins the idiomatic Spark way),
EXISTS/NOT EXISTS (left-semi/anti joins), conditional aggregation, and
distinct aggregation.

Scale notes inline per query: true dimensions (nation/region/supplier/
part) broadcast; fact-fact joins (lineitem<->orders) shuffle once on the
join key; correlated aggregates become one extra keyed shuffle instead
of a per-row subquery probe.
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
# Q7: volume shipping between two nations — 6-way join, disjunctive
# nation-pair predicate, year extraction.
# Scale: nation broadcast twice (supplier side, customer side); the
# pair predicate prunes before aggregation; one shuffle for the
# lineitem⋈orders equi-join, one for the final 3-key agg.
# --------------------------------------------------------------------------
@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
        )
    )
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8: national market share — 8-way join + conditional aggregation
# (share = sum(case)/sum). Scale: all dimension sides broadcast; the
# only shuffles are lineitem⋈orders and the 1-key agg.
# --------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, lineitem, orders, customer, supplier, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND l_suppkey = s_suppkey
        AND s_nationkey = n2.n_nationkey
        AND r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
        )
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region, F.col("n1_region") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            rnd(
                F.sum(F.when(F.col("nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9: product-type profit — join through part/supplier/nation, group by
# nation and year. (No partsupp in the fixture, so profit omits
# ps_supplycost.) Scale: part filter prunes the probe side early.
# --------------------------------------------------------------------------
@query(
    "q9_product_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(rnd(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q13: customer order-count distribution — left outer join with an
# extra join-side predicate, two-level aggregation.
# Scale: both aggs shuffle on their own key; the first (custkey) is
# high-cardinality — partial agg keeps the shuffle small.
# --------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q15: top supplier — aggregate "view" + scalar max subquery. The
# max-revenue comparison is decorrelated into a broadcast join against
# the 1-row max (Spark plans the scalar subquery the same way).
# --------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(max_rev, F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16: supplier count by part attributes — distinct aggregation over a
# filtered join. (Fixture has no partsupp; the lineitem part<->supplier
# pairs stand in.) Scale: count(DISTINCT) expands to a two-phase agg
# (dedup shuffle then count) automatically.
# --------------------------------------------------------------------------
@query(
    "q16_parts_supplier",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue — correlated scalar subquery
# (per-part avg quantity), decorrelated the idiomatic Spark way into a
# pre-aggregated per-part threshold joined back to lineitem. Exact
# cross-engine: quantities are integers, so avg = exact-int-sum / count
# is bit-identical regardless of summation order.
# --------------------------------------------------------------------------
@query(
    "q17_small_quantity",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(thresholds, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(rnd(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS over
# lineitem self-joins (left-semi then left-anti in Spark), adapted to
# the fixture: "waiting" = this supplier has the strictly latest
# shipdate among a multi-supplier order's lines.
# Scale: both semi/anti probes shuffle on l_orderkey — same key as the
# orders join, so AQE can reuse the exchange; no row explosion.
# --------------------------------------------------------------------------
@query(
    "q21_suppliers_waiting",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_0', 'NATION_1')
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTS/NOT-EXISTS pair decorrelates to ONE pass over
    lineitem: for each line, 'another supplier shipped strictly later'
    is decidable from per-order window aggregates (max shipdate over
    OTHER suppliers, derived from the order max, the runner-up max, and
    whether the argmax supplier is unique). One scan + one shuffle on
    l_orderkey (the orders join keys the same column, so the window
    reuses its partitioning) — versus the naive three lineitem scans
    with semi+anti probes."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_0", "NATION_1")
    )
    w_ord = Window.partitionBy("l_orderkey")
    w_os = Window.partitionBy("l_orderkey", "l_suppkey")
    lined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .withColumn("s_max", F.max("l_shipdate").over(w_os))
        .withColumn("m1", F.max("l_shipdate").over(w_ord))
        .withColumn("n_supps", F.size(F.collect_set("l_suppkey").over(w_ord)))
        .withColumn(
            "n_supps_at_m1",
            F.size(
                F.collect_set(
                    F.when(F.col("s_max") == F.col("m1"), F.col("l_suppkey"))
                ).over(w_ord)
            ),
        )
        .withColumn(
            "m2",
            F.max(F.when(F.col("s_max") < F.col("m1"), F.col("l_shipdate"))).over(
                w_ord
            ),
        )
        .withColumn(
            "other_max",
            F.when(
                (F.col("s_max") < F.col("m1")) | (F.col("n_supps_at_m1") >= 2),
                F.col("m1"),
            ).otherwise(F.col("m2")),
        )
    )
    waiting = lined.filter(
        (F.col("n_supps") >= 2) & (F.col("l_shipdate") >= F.col("other_max"))
    )
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q22: global sales opportunity — scalar avg subquery + NOT EXISTS
# (anti join), adapted: nationkey-mod-10 stands in for the phone
# country code. Scale: the avg is a 1-row broadcast; the anti join
# shuffles on custkey once.
# --------------------------------------------------------------------------
@query(
    "q22_sales_opportunity",
    oracle="""
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
        AND c_acctbal > (
          SELECT avg(c_acctbal) FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5)
        )
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01'
        )
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 10
    ).filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    # "No recent orders": anti join against the windowed orders subset
    # (an unwindowed NOT EXISTS matches nothing on this fixture).
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) t
    WHERE c.c_custkey <= 50
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    top-2 orders of each of the first 50 customers) — the SQL:2016
    lateral-join surface (Spark 4 native; DuckDB identical). Catalyst
    de-correlates it to a ranked join, so the executed plan is the same
    shape as the window top-k — no per-row re-execution."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__lat_{t}")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               round(t.o_totalprice + 1e-9, 2) AS totalprice
        FROM __lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM __lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t
        WHERE c.c_custkey <= 50
        """
    )


# --------------------------------------------------------------------------
# Q2: minimum-cost supplier — the classic correlated scalar-min
# subquery, adapted: the fixture has no partsupp, so the
# (part, supplier) link with unit cost min(l_extendedprice/l_quantity)
# derived from lineitem stands in for ps_supplycost (reference
# src/execute_impl/select.rs:41-97 runs the stock TPC-H shape through
# its vendored DataFusion).
# Scale: the part filter is applied FIRST and semi-prunes the link
# aggregate, so the per-part min is computed only over surviving
# parts' region suppliers (identical result — the min is correlated
# per part); supplier⋈nation⋈region is a broadcast chain; the only
# fact shuffles are the (partkey, suppkey) link agg and the per-part
# min — both keyed, both map-side combining.
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH link AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, p_name, round(unit_cost, 2) AS supply_cost
    FROM part, link, supplier, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size <= 15 AND p_type IN ('ECONOMY', 'SMALL')
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND unit_cost = (
        SELECT min(l2.unit_cost)
        FROM link l2, supplier s2, nation n2, region r2
        WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type").isin("ECONOMY", "SMALL"))
    ).select("p_partkey", "p_name")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    link = (
        _t(spark, sf_dir, "lineitem")
        # Semi-prune to filtered parts BEFORE the link aggregate: at
        # 100 TB this turns a full (part, supp) rollup into one over
        # the ~1/2000 selected parts.
        .join(part.select("p_partkey"),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    cand = link.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    min_cost = cand.groupBy(F.col("l_partkey").alias("mc_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        cand.join(F.broadcast(min_cost), F.col("l_partkey") == F.col("mc_partkey"))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            rnd("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            rnd("unit_cost", 2).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q4: order-priority checking — EXISTS with a correlated non-equi
# condition, adapted: "shipped more than 30 days after ordering"
# stands in for commitdate < receiptdate (the fixture carries only
# l_shipdate).
# Scale: left-semi join on the orderkey equi-key with the date
# comparison as a join filter — one keyed shuffle of the windowed
# orders subset, never a per-row subquery probe; the 3-month order
# window is pushed to the parquet scan.
# --------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01'
      AND o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q11: important stock identification — HAVING against a scalar
# aggregate subquery over the same derived table, adapted: per-part
# revenue from NATION_1/2/3 suppliers stands in for
# ps_supplycost * ps_availqty.
# Scale: the per-part rollup shuffles once on partkey with map-side
# combine; the global threshold is a 1-row broadcast (never a
# recompute-per-row subquery); supplier⋈nation is a broadcast chain.
# --------------------------------------------------------------------------
@query(
    "q11_important_stock",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS p_partkey,
             sum(l_extendedprice * (1 - l_discount)) AS val
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      GROUP BY l_partkey
    )
    SELECT p_partkey, round(val, 2) AS part_value
    FROM pv
    WHERE val > (SELECT sum(val) * 0.001 FROM pv)
    ORDER BY part_value DESC, p_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    pv = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
        )
    )
    threshold = pv.agg((F.sum("val") * F.lit(0.001)).alias("cut"))
    return (
        pv.join(threshold)
        .filter(F.col("val") > F.col("cut"))
        .select("p_partkey", rnd("val", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


# --------------------------------------------------------------------------
# Q20: potential part promotion — nested IN subqueries with a
# correlated aggregate threshold, adapted: a supplier qualifies when
# its 1995-96 shipped quantity of some '%bolt%' part exceeds 20% of
# that part's cross-supplier total (stands in for
# ps_availqty > 0.5 * sum(l_quantity); the fixture has no partsupp).
# Scale: the name-filtered part list broadcasts into the lineitem
# scan; the (suppkey, partkey) rollup and the per-part total reuse
# the same pruned subset; the qualifying-supplier set is a left-semi
# join — no DISTINCT materialization; supplier⋈nation⋈region is a
# broadcast chain.
# --------------------------------------------------------------------------
@query(
    "q20_potential_promotion",
    oracle="""
    WITH sp AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    pt AS (SELECT l_partkey AS pk, sum(qty) AS total_qty FROM sp GROUP BY l_partkey)
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier, nation, region
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM sp, pt
        WHERE l_partkey = pk AND qty > 0.2 * total_qty
      )
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    bolt_parts = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey")
    sp = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(bolt_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    pt = sp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("total_qty")
    )
    qualifying = (
        sp.join(pt, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty") > F.lit(0.2) * F.col("total_qty"))
        .select("l_suppkey")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    return (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", rnd("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )

"""Relational core: scans, filters, joins (broadcast/shuffle/semi/anti),
aggregations (plain, distinct, rollup, cube), windows, sorts/limits, set ops.

Scale notes (100 TB): every query here is expressed declaratively so Catalyst
keeps predicate pushdown + column pruning into the parquet scan. Dimension
tables (region/nation/supplier/customer at analytics scale) are broadcast
explicitly; the fact-side joins shuffle on their join keys once and AQE
handles skew/coalescing. No driver-side collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 2)                                        AS avg_qty,
           round(avg(l_extendedprice), 2)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: single-pass scan + hash aggregate.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE)                           AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style: 3-way join + agg + deterministic top-10.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # customer is the dimension here: broadcast it so only lineitem<->orders
    # shuffles (on orderkey). At 100 TB lineitem/orders co-partition on
    # orderkey, making that join shuffle-free with bucketing.
    return (
        l.filter(F.col("l_shipdate") > F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey   = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name IN ('R0', 'R1', 'AMERICA', 'ASIA')
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-style 6-way star join; all dims broadcast, one fact shuffle.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("R0", "R1", "AMERICA", "ASIA"))
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    doc="Top-k per group via ranking window; single shuffle on the group key.",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "supplier_acctbal_rank",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           dense_rank() OVER (ORDER BY s_acctbal DESC)                          AS drnk,
           rank()       OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS nation_rnk,
           ntile(4)               OVER w        AS quartile,
           round(percent_rank()   OVER w, 6)    AS pct_rank,
           round(cume_dist()      OVER w, 6)    AS cume,
           first_value(s_suppkey) OVER w        AS richest,
           lag(s_suppkey)         OVER w        AS prev_supp,
           lead(s_suppkey, 1, -1) OVER w        AS next_supp
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
    doc="The window-function surface in one query. The global dense_rank is "
    "computed TWO-PHASE (functions/ranks.py: range partition -> local rank "
    "-> cumulative distinct-count offsets), so no single-partition "
    "WindowExec appears even on fact-sized input; nation_rnk is the "
    "partitioned rank. The frame/zoo columns (ntile, percent_rank, "
    "cume_dist, first_value, lag, lead-with-default) use an unpartitioned "
    "window INTENTIONALLY and are DIMENSION-TABLE-ONLY by contract: they "
    "need the global row count / neighbor rows, so they don't two-phase "
    "like plain ranks do — for fact-sized global ranking use global_rank.",
)
def supplier_acctbal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.functions.ranks import global_rank

    s = _t(spark, sf_dir, "supplier")
    ranked = global_rank(
        s,
        order_cols=[F.col("s_acctbal").desc()],
        key_cols=["s_acctbal"],
        kind="dense_rank",
        out="drnk",
    )
    zoo = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return ranked.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        "drnk",
        F.rank()
        .over(Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc()))
        .alias("nation_rnk"),
        F.ntile(4).over(zoo).alias("quartile"),
        F.round(F.percent_rank().over(zoo), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(zoo), 6).alias("cume"),
        F.first("s_suppkey").over(zoo).alias("richest"),
        F.lag("s_suppkey").over(zoo).alias("prev_supp"),
        F.lead("s_suppkey", 1, -1).over(zoo).alias("next_supp"),
    )


@query(
    "part_type_brand_cube",
    oracle="""
    SELECT p_type, p_brand,
           count(*)                     AS n_parts,
           round(avg(p_retailprice), 2) AS avg_price
    FROM part
    GROUP BY CUBE (p_type, p_brand)
    """,
    doc="CUBE grouping sets over the part dimension.",
)
def part_type_brand_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.cube("p_type", "p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
    )


@query(
    "customer_semi_anti",
    oracle="""
    SELECT 'has_big_order' AS tag, c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    UNION ALL
    SELECT 'no_urgent_order' AS tag, c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    doc="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins in one tagged "
    "union: customers with a >300k order / customers with no urgent order. "
    "Both branches prune the fact side before the join and multiply no rows.",
)
def customer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select(F.lit("has_big_order").alias("tag"), "c_custkey")
    )
    anti = (
        c.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select(F.lit("no_urgent_order").alias("tag"), "c_custkey")
    )
    return semi.unionByName(anti)


@query(
    "nation_setops",
    oracle="""
    SELECT 'union' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
        UNION
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
        SELECT n_nationkey AS nationkey FROM nation
        EXCEPT
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000)
    """,
    doc="The three set operators in one tagged union: UNION-distinct of "
    "high-balance customer/supplier nations, INTERSECT of building-segment "
    "customer nations with supplier nations, EXCEPT of nations minus "
    "high-balance supplier nations (DataFrame subtract = EXCEPT DISTINCT).",
)
def nation_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    u = (
        cust.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .union(
            supp.filter(F.col("s_acctbal") > 9000).select(
                F.col("s_nationkey").alias("nationkey")
            )
        )
        .distinct()
    )
    i = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_nationkey").alias("nationkey"))
        .intersect(supp.select(F.col("s_nationkey").alias("nationkey")))
    )
    e = (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("nationkey"))
        .subtract(
            supp.filter(F.col("s_acctbal") > 8000).select(
                F.col("s_nationkey").alias("nationkey")
            )
        )
    )
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nationkey")  # noqa: E731
    return tag(u, "union").unionByName(tag(i, "intersect")).unionByName(tag(e, "except"))


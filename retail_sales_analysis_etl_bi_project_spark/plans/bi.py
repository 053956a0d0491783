"""The reference's four flagship BI insight queries (docs/'Retail sales
Sql Analysis .docx' q1-q4) and dashboard KPIs (project-doc docx §5),
re-expressed on the driver's TPC-H-shaped star schema (SURVEY.md §7.0):

    Q1 top-5 products by revenue      -> top-5 parts           (J2,A1,O1)
    Q2 monthly revenue trend          -> by order year/month   (J3,A2,O2)
    Q3 revenue by store & state       -> by supplier & nation  (J4,A3,O3)
    Q4 age-group contribution         -> acctbal segments      (J5,P15,A4)
    K1 total revenue, K2 avg order value, K3 distinct customers,
    K4 revenue share by category      -> by brand              (A9-A12)

Physical notes (100 TB posture): every join is fact x small-dim and is
planned as a BroadcastHashJoin (dims are orders of magnitude below the
broadcast threshold); aggregations are partial+final HashAggregate over
low-cardinality keys, so the only full shuffle is the final groupBy of
pre-combined partials. Money sums are exact decimals (functions.money).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec, revenue_expr, sum_money
from ..functions.derived import acctbal_segment
from ..sources.tables import load_fact_wide, load_table
from .registry import query

# DuckDB-side twin of functions.money.revenue_expr — exact decimal math
# so a single-threaded oracle and a 1000-executor Spark job agree bit-for-bit.
REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


@query(
    "q01_top5_products_by_revenue",
    oracle=f"""
    SELECT p.p_name AS product_name,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_name
    ORDER BY revenue DESC, product_name
    LIMIT 5
    """,
)
def q01_top5_products_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q1: SUM(total_amount) GROUP BY product_name ORDER BY DESC
    FETCH FIRST 5 (docx:q1). Spark plans TakeOrderedAndProject — no global
    sort materialization. Tie-broken on name for determinism.
    Fact at cluster width before the join+decimal pass — see q02."""
    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_name").alias("product_name"))
        .agg(sum_money(revenue_expr(), "revenue"))
        .orderBy(F.desc("revenue"), "product_name")
        .limit(5)
    )


@query(
    "q02_monthly_revenue_trend",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS year,
           CAST(month(o.o_orderdate) AS INTEGER) AS month,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q02_monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q2: SUM(total_amount) GROUP BY year, month (docx:q2).

    Fact at cluster width before the join+decimal pass (r16, guide
    §2.2/§2.5): single-row-group test files scan as ONE task, so the
    broadcast join + exact-decimal arithmetic ran serially regardless
    of core count; decimal sums are associative, so the result is
    partitioning-independent (measured on the k4 twin: 1.2 -> 0.7 s
    warm at sf0.1; the repartition is skipped automatically on
    well-split inputs — see sources.tables.load_fact_wide)."""
    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(sum_money(revenue_expr(), "revenue"))
        .orderBy("year", "month")
    )


@query(
    "q03_revenue_by_supplier_nation",
    oracle=f"""
    SELECT s.s_name AS store_name, n.n_name AS state,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY revenue DESC
    """,
)
def q03_revenue_by_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q3: revenue by store & state (docx:q3); supplier+nation
    stand in for dim_store (SURVEY.md §7.0). Both dims broadcast."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("s_name").alias("store_name"), F.col("n_name").alias("state"))
        .agg(sum_money(revenue_expr(), "revenue"))
        .orderBy(F.desc("revenue"))
    )


@query(
    "q04_custbal_segment_revenue",
    oracle=f"""
    SELECT CASE WHEN c.c_acctbal < 0 THEN 'negative'
                WHEN c.c_acctbal < 2500 THEN 'low'
                WHEN c.c_acctbal < 5000 THEN 'mid'
                WHEN c.c_acctbal < 7500 THEN 'high'
                ELSE 'top' END AS bal_segment,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY revenue DESC
    """,
)
def q04_custbal_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference q4: CASE age-bucket contribution (docx:q4); c_acctbal
    plays the role of age (P15 bucketing operator).
    Fact at cluster width before the join+decimal pass — see q02."""
    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(acctbal_segment("c_acctbal").alias("bal_segment"))
        .agg(sum_money(revenue_expr(), "revenue"))
        .orderBy(F.desc("revenue"))
    )


@query(
    "k_core_kpis",
    oracle=f"""
    SELECT
      (SELECT CAST(SUM({REVENUE_SQL}) AS DOUBLE) FROM lineitem l) AS total_revenue,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
       FROM orders) AS avg_order_value,
      (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_customers
    """,
)
def k_core_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference dashboard's three scalar KPIs in one row (project-doc
    docx §5): A9 total revenue (exact-decimal sum over lineitem), A10
    average order value (exact sum / exact count -> one deterministic
    double division), A11 exact distinct customers. Two independent
    single-row aggregates crossJoined — each is a map-side partial +
    one final combine; the crossJoin is 1x1. The broadcast hint pins
    the join's build side: without it AQE picks the side by which
    aggregate stage finishes first, and a second final plan compiles
    its own classes."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = lineitem.agg(sum_money(revenue_expr(), "total_revenue"))
    ord_kpis = orders.agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_order_value"
        ),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    return rev.crossJoin(F.broadcast(ord_kpis))


@query(
    "k4_category_revenue_share",
    oracle=f"""
    WITH cat AS (
      SELECT p.p_brand AS category, SUM({REVENUE_SQL}) AS rev,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                 - CAST(l_quantity AS DECIMAL(12,2)) *
                   CAST(p.p_retailprice AS DECIMAL(12,2)) *
                   CAST(0.6 AS DECIMAL(3,2))) AS prof
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT category,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(prof AS DOUBLE) AS profit,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) * 100
             AS share_pct
    FROM cat
    ORDER BY revenue DESC
    """,
)
def k4_category_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI 'revenue share by category' (project-doc docx §5, A12) — brand
    plays category — plus the P11/P12 derived-profit business rule
    (README.md:95-98): profit = revenue - cost with cost modeled as 60%
    of retail price x quantity (the reference's cost = price x U(0.4,0.9)
    rule, generate_data.py:161, fixed at its midpoint for determinism).
    Exact decimal end-to-end; share via an unpartitioned window over the
    (tiny) aggregated frame, not over the fact."""
    from pyspark.sql.window import Window

    # fact at cluster width before the join+decimal pass — see q02
    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    part = load_table(spark, sf_dir, "part")
    rev_e = revenue_expr()
    cost_e = dec("l_quantity") * dec("p_retailprice") * F.lit(0.6).cast("decimal(3,2)")
    cat = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("category"))
        .agg(F.sum(rev_e).alias("rev"), F.sum(rev_e - cost_e).alias("prof"))
    )
    return cat.select(
        "category",
        F.col("rev").cast("double").alias("revenue"),
        F.col("prof").cast("double").alias("profit"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(Window.partitionBy()).cast("double")
            * 100
        ).alias("share_pct"),
    ).orderBy(F.desc("revenue"))

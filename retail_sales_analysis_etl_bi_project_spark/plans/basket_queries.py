"""Round-8c retail-BI queries (registered after index_queries):

- bi_market_basket_pairs : co-purchase affinity — support and lift for
                           every part pair bought together in >= 2
                           orders (the association-rule mining stage
                           behind "frequently bought together")
- bi_pareto_brand_products : per-brand Pareto cut — the products that
                           cumulatively cover the first 80% of brand
                           revenue, with the 80% test evaluated in
                           EXACT decimal (no float share)

Both extend the reference's retail analytics (its docx Q1-Q4/K1-K4 stop
at one-dimensional revenue rollups, /root/reference/etl/etl.py:220-306)
with the two classic merchandising reports, re-expressed Spark-first.

Numeric discipline: lift uses the same pinned *,/ double association
as text_bigram_pmi; the Pareto threshold compares 5*(cum-rev) <
4*total entirely in decimal, so the 80% cut can never flip on a float
ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import fixed_point_sum, fixed_point_sum_sql, revenue_expr
from ..sources.tables import load_table
from .bi import REVENUE_SQL
from .registry import query
from .shared_cache import memo_persist

_MIN_SUPPORT = 2


def shared_basket_li(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed DISTINCT (order, part) basket persist — one fact
    scan + one distinct shuffle per run, shared by the whole basket /
    co-purchase-graph family (pairs, triples, linkpred).

    Stored at CLUSTER WIDTH, clustered by l_orderkey (r16, the
    dedup-pair-stage fix of r15 applied here): the distinct's exchange
    output is small in BYTES, so AQE byte-coalescing folded the persist
    into 1-2 partitions — and every consumer's expensive stage is a
    basket SELF-JOIN whose cost is Σ C(basket, 2) / Σ C(basket, 3)
    ROWS, which therefore ran near-serially on the persist's partitions
    (measured: bi_basket_triples' whole cubic expansion + partial
    aggregation in ONE task, 2.0 s standalone — the one >10% r15
    regression). An explicit defaultParallelism repartition on the
    join key costs one extra small shuffle at persist build and buys
    full-width pair/triple expansion for every consumer; rows are
    unchanged, so oracle hashes cannot move."""
    from ..operators.partitioning import to_cluster_width

    return memo_persist(
        "basket_li",
        spark,
        sf_dir,
        lambda: to_cluster_width(
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct(),
            "l_orderkey",
        ),
    )


def shared_item_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed per-part basket-support persist (l_partkey, n_item):
    bi_market_basket_pairs references the item-count aggregation TWICE
    (n_a, n_b sides) and bi_basket_triples THREE times (n_a, n_b, n_c)
    — each reference re-aggregated the basket persist per action (Spark
    gets no reuse across broadcast subtrees). One evaluation per run;
    the aggregated support table a production association miner
    materializes next to the edge list. Rows identical to the inline
    aggregation, so oracle hashes cannot move."""
    li = shared_basket_li(spark, sf_dir)
    return memo_persist(
        "basket_item_support",
        spark,
        sf_dir,
        lambda: li.groupBy("l_partkey").agg(
            F.count(F.lit(1)).alias("n_item")
        ),
    )


def shared_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed support>=_MIN_SUPPORT co-purchase pair persist
    (part_a < part_b, n_both): ONE definition of the co-purchase edge
    relation for bi_market_basket_pairs (pair mining) and
    bi_copurchase_linkpred (whose plan referenced the pair pipeline in
    SIX subtrees — both adjacency sides twice each, the anti-join, plus
    degrees — so one action re-ran the order self-join up to that many
    times; AQE exchange reuse recovered only part of it). The persist
    is part-pair grain, support-filtered — the aggregated edge table a
    production co-purchase graph materializes once per refresh."""
    li = shared_basket_li(spark, sf_dir)
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return memo_persist(
        "copurchase_pairs",
        spark,
        sf_dir,
        lambda: (
            a.join(b, "l_orderkey")
            .where(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_both"))
            .where(F.col("n_both") >= _MIN_SUPPORT)
        ),
        params=(_MIN_SUPPORT,),
    )


@query(
    "bi_market_basket_pairs",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    cp AS (
      SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_both
      FROM pairs GROUP BY 1, 2
    ),
    item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM li GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
    )
    SELECT part_a, part_b, n_both,
           ia.n_item AS n_a, ib.n_item AS n_b,
           (CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE))
             / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
             AS lift
    FROM cp
    JOIN item ia ON cp.part_a = ia.l_partkey
    JOIN item ib ON cp.part_b = ib.l_partkey
    CROSS JOIN tot
    WHERE n_both >= {_MIN_SUPPORT}
    ORDER BY lift DESC, part_a, part_b
    """,
)
def bi_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: for every pair of parts co-purchased
    in >= 2 orders, the co-occurrence support and the lift
    P(a,b)/(P(a)P(b)) = n_both * n_orders / (n_a * n_b) — the
    association signal behind cross-sell recommendations. Lift is one
    pinned chain of IEEE *,/ over exact bigint counts (the
    text_bigram_pmi convention), so it hash-matches the oracle.

    Scale shape (the standard distributed co-occurrence plan):
    - baskets first collapse to DISTINCT (order, part) — re-ordered
      lines of the same part cost one row each before the pair join;
    - pair generation is a SELF-EQUI-JOIN on l_orderkey (a < b halves
      the output): work is sum of squared basket sizes, bounded by the
      basket-size cap (13 here; real carts are O(10-100)), NEVER a
      cross join over parts — the join key is the order, so AQE
      handles popular-part skew and nothing part-quadratic exists;
    - pair counts partial-aggregate map-side; the n_both >= 2 filter
      lands BEFORE the per-item-support joins, pruning the singleton
      tail (~97% of pairs here) from both shuffles;
    - per-item supports join on the part key (shuffle; item counts can
      be vocabulary-huge at web scale), the 1-row order total rides a
      broadcast crossJoin;
    - the DISTINCT basket table feeds FOUR consumers (both pair-join
      sides, item supports, the order total), so it goes through the
      managed memo_persist scope — one fact scan + one distinct
      shuffle per run instead of the ~3 AQE's exchange reuse still
      left executing (code-review finding, this round)."""
    li = shared_basket_li(spark, sf_dir)
    cp = shared_copurchase_pairs(spark, sf_dir)
    item = shared_item_support(spark, sf_dir)
    tot = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        cp.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(tot)
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (
                (F.col("n_both").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
    )


@query(
    "bi_pareto_brand_products",
    oracle=f"""
    WITH rev AS (
      SELECT p.p_brand AS brand, l.l_partkey AS part_key,
             SUM({REVENUE_SQL}) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT brand, part_key, rev,
             row_number() OVER (
               PARTITION BY brand ORDER BY rev DESC, part_key) AS rnk,
             SUM(rev) OVER (
               PARTITION BY brand ORDER BY rev DESC, part_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_rev,
             SUM(rev) OVER (PARTITION BY brand) AS total_rev
      FROM rev
    )
    SELECT brand, CAST(rnk AS BIGINT) AS rnk, part_key,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(cum_rev AS DOUBLE) AS cum_revenue,
           CAST(total_rev AS DOUBLE) AS brand_revenue
    FROM ranked
    WHERE 5 * (cum_rev - rev) < 4 * total_rev
    ORDER BY brand, rnk
    """,
)
def bi_pareto_brand_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto (80/20) report: products ranked by revenue
    within their brand, kept while the revenue ACCUMULATED BEFORE them
    is under 80% of the brand total — i.e. the head set that covers
    the first 80% of brand revenue, including the product that crosses
    the line. The assortment-rationalization readout every retail BI
    stack ships next to K4's share-by-category.

    The 80% test is 5*(cum - rev) < 4*total over EXACT decimal sums
    (functions/money.py): integer-scaled decimal compare, so the cut
    is bit-identical across engines and parallelism — a float share
    would flip rows whose cumulative share sits on the 0.8 boundary.

    Scale shape: revenue collapses per (brand, part) first (one
    groupBy over the fact, map-side partial); the rank/cumsum windows
    both use the same (brand)-partitioned sort, so Catalyst evaluates
    them in ONE Window node over one shuffle; per-brand windows
    parallelize across brands (the global-Pareto variant would need a
    single total order — that form belongs behind a top-k prefilter)."""
    # fact at cluster width before the join+decimal pass (r16, guide
    # §2.2/§2.5 — see plans/bi.py q02; decimal sums associative and
    # the Pareto cut compares integer-scaled decimals)
    from ..sources.tables import load_fact_wide

    li = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand").alias("brand")
    )
    rev = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("brand", F.col("l_partkey").alias("part_key"))
        .agg(F.sum(revenue_expr()).alias("rev"))
    )
    order = [F.desc("rev"), F.asc("part_key")]
    w = Window.partitionBy("brand").orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # brand total over the SAME ordered spec (unbounded frame), not a
    # bare partitionBy: identical partitioning+ordering lets Catalyst
    # fold all three aggregates into ONE Window node over one
    # exchange+sort (a plain partitionBy window planned a second
    # hashpartitioning(brand) exchange — pinned in
    # tests/test_plan_contracts.py)
    wtot = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = rev.select(
        "brand",
        "part_key",
        "rev",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.sum("rev").over(wcum).alias("cum_rev"),
        F.sum("rev").over(wtot).alias("total_rev"),
    )
    return (
        ranked.where(
            F.lit(5) * (F.col("cum_rev") - F.col("rev"))
            < F.lit(4) * F.col("total_rev")
        )
        .select(
            "brand",
            "rnk",
            "part_key",
            F.col("rev").cast("double").alias("revenue"),
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            F.col("total_rev").cast("double").alias("brand_revenue"),
        )
        .orderBy("brand", "rnk")
    )


@query(
    "bi_revenue_hhi_by_type",
    oracle=f"""
    WITH rev AS (
      SELECT p.p_type AS part_type, p.p_brand AS brand,
             SUM({REVENUE_SQL}) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT part_type, SUM(rev) AS total_rev FROM rev GROUP BY 1
    ),
    shares AS (
      SELECT rev.part_type, brand,
             (CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE))
               * (CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE)) AS sh2
      FROM rev JOIN tot ON rev.part_type = tot.part_type
    )
    SELECT part_type,
           CAST(count(*) AS BIGINT) AS n_brands,
           {{hhi_sql}} AS hhi
    FROM shares GROUP BY part_type ORDER BY part_type
    """.replace(
        "{hhi_sql}",
        # fixed_point_sum_sql inlined at module end (import below)
        fixed_point_sum_sql("sh2", scale=12) + " ",
    ),
)
def bi_revenue_hhi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per part type: HHI =
    sum over brands of (brand share of type revenue)^2 — the
    assortment-concentration KPI next to the Pareto cut (HHI -> 1
    means one brand owns the type; -> 1/n means even split).

    Exactness: brand revenues and type totals are exact decimals; each
    share is ONE double division and one multiply (IEEE, same
    association both engines); the cross-ROW sum of squared shares —
    the only order-dependent step — goes through fixed_point_sum at
    scale 12 (shares^2 <= 1, so the quantization is 5 orders inside
    the 2^53 envelope), making the HHI bit-identical at any
    parallelism.

    Scale shape: one broadcast dim join + groupBy(type, brand) over
    the fact (map-side partial); totals and shares live on the
    brand-grain table; the final groupBy(type) is type-cardinality."""
    # fact at cluster width before the join+decimal pass (r16 — see
    # q02; shares go through fixed_point_sum, parallelism-independent)
    from ..sources.tables import load_fact_wide

    li = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").alias("part_type"),
        F.col("p_brand").alias("brand"),
    )
    rev = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("part_type", "brand")
        .agg(F.sum(revenue_expr()).alias("rev"))
    )
    wt = Window.partitionBy("part_type")
    share = F.col("rev").cast("double") / F.sum("rev").over(wt).cast("double")
    return (
        rev.select("part_type", (share * share).alias("sh2"))
        .groupBy("part_type")
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            fixed_point_sum("sh2", scale=12).alias("hhi"),
        )
        .orderBy("part_type")
    )

"""Round-12g statistics over the retail star.

Four statistical mechanisms the BI surface still lacked:

- bi_revenue_trend_ols : exact-integer ordinary-least-squares trend
        of daily revenue — slope/intercept as single divisions of
        exact fixed-point sums (the engine's first REGRESSION
        surface; every other trend artifact is a moving average)
- bi_revenue_gini_customers : Gini concentration of revenue across
        customers via Lorenz ranks — the inequality measure next to
        HHI (share-of-squares) with a genuinely different mechanism
        (rank-weighted sums over the sorted distribution)
- bi_basket_triples : A-priori 3-itemsets over the co-purchase
        baskets with triple lift — one tier past the pair miner
        (bi_market_basket_pairs), work bounded by Σ C(basket, 3)
- bi_reorder_hazard : censored discrete-time life table of the
        time-to-next-order — the survival-analysis primitive the
        retention cohorts (return counting) do not cover

Numeric discipline (REQUIREMENTS.md): money converts ONCE to exact
fixed-point integers (×10⁴, the functions/money.py scale), every sum
and product stays exact integer (BIGINT→DECIMAL(38,0) in Spark,
HUGEINT in DuckDB), and each output statistic is a single IEEE
division (or a pinned chain of double *,/ over exact-integer casts —
the bigram-PMI convention). No float accumulates anywhere.

Reference scope: the reference's analytics stop at groupBy aggregates
(/root/reference/etl/etl.py:220-306); regression, concentration, and
itemset mining are extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import fixed4_expr, fixed4_sql
from ..sources.tables import load_table
from .registry import query
from .shared_cache import memo_persist

_DEC = "decimal(38,0)"


def _no_overflow(label: str, expr, *inputs):
    """Loud-overflow guard for DECIMAL(38,0) product chains: under the
    default allowPrecisionLoss a decimal product that exceeds 38 digits
    silently returns NULL, while the DuckDB oracle's HUGEINT errors —
    a silent-vs-loud divergence (r12 ADVICE). Wrap each product so an
    out-of-headroom corpus raises at runtime instead of emitting NULL
    statistics: NULL output with all *inputs* non-null can only be
    overflow. Empty-input NULLs (legitimately NULL sums) pass through."""
    ok = F.lit(True)
    for c in inputs:
        ok = ok & c.isNotNull()
    return F.when(
        ok & expr.isNull(),
        F.raise_error(
            F.lit(f"{label}: decimal(38,0) overflow — documented headroom exceeded")
        ).cast(_DEC),
    ).otherwise(expr)


def shared_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev DECIMAL(30,4)) exact daily revenue — memo-persisted so
    the ENTIRE daily-series family (OLS, Mann–Kendall, runs test, ACF,
    and eval_queries' backtest/conformal pair) pays ONE orders scan per
    (application, corpus) instead of one per query branch (review
    finding, r12i: the day-grain statistics each rescanned the fact
    3-6×). Day-count-sized, so the persist is KBs at any fact scale.
    Deriving per-day ×10⁴ fixed point from this decimal sum is exact
    (Σ(a·10⁴) = (Σa)·10⁴), so consumers' values are unchanged."""
    return memo_persist(
        "daily_rev",
        spark,
        sf_dir,
        lambda: load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(30,4)")
            .alias("rev")
        ),
    )


def dense_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, v DECIMAL(30,4)) calendar-gapfilled daily revenue derived
    from the shared persist — the single definition of the dense
    series the backtest/conformal/ACF trio previously re-implemented
    (review finding, r12i). Missing days fill with exact 0."""
    daily = shared_daily_revenue(spark, sf_dir)
    b = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = b.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return cal.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("rev"), F.lit(0).cast("decimal(30,4)")).alias("v"),
    )


@query(
    "bi_revenue_trend_ols",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({fixed4_sql('o_totalprice')}) AS HUGEINT) AS y4
      FROM orders GROUP BY 1),
    xy AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', day) AS HUGEINT)
               AS x, y4
      FROM daily),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y4) AS HUGEINT) AS sy4,
             CAST(SUM(x * y4) AS HUGEINT) AS sxy4,
             CAST(SUM(y4 * y4) AS HUGEINT) AS syy4,
             CAST(MIN(x) AS HUGEINT) AS minx
      FROM xy)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy4 - sx * sy4 AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(10000 AS DOUBLE))
             AS slope_per_day,
           CAST(sy4 * (n * sxx - sx * sx)
                + (n * sxy4 - sx * sy4) * (n * minx - sx) AS DOUBLE)
             / ((CAST(n AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(10000 AS DOUBLE))
             AS intercept,
           (CAST(n * sxy4 - sx * sy4 AS DOUBLE)
            * CAST(n * sxy4 - sx * sy4 AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy4 - sy4 * sy4 AS DOUBLE)) AS r2
    FROM s
    """,
)
def bi_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer ORDINARY LEAST SQUARES trend of daily revenue —
    the engine's first regression artifact (the gapfill query smooths;
    this FITS): x = epoch day number (1970-01-01 anchor — a FIXED
    literal, so no data-dependent min-date pass exists), y = daily
    revenue in exact ×10⁴ fixed point (functions/money.fixed4_expr),
    and the closed forms
        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept@first-day = (Σy·den + num·(n·minx − Σx)) / (n·den)
        R² = num² / (den · (n·Σy² − (Σy)²))
    where num/den are the slope's numerator/denominator, minx comes
    from the SAME aggregate, and EVERY sum and product is an exact
    integer (DECIMAL(38,0)/HUGEINT; y4² ≈ 10²⁶ per day forces the
    decimal widening before squaring). Slope is shift-invariant, and
    the intercept is reported AT THE FIRST OBSERVED DAY via the exact
    shift identity ȳ + b·(minx − x̄) — so the epoch anchor changes no
    output, it only removes a scan (review finding, r12g: the old
    min-date subquery made the plan read orders twice). R²'s numerator
    square would exceed 10³⁸, so it is a pinned chain of double *,/
    over the exact-integer casts (the bigram-PMI convention). The 10⁴
    scale divides out once per output.

    Scale shape (100 TB): the fact collapses to day grain FIRST (one
    map-side-combined groupBy — now genuinely the ONLY corpus-sized
    pass); the six sums + minx are a second 1-row aggregate over
    day-count rows. No window, no sort, no quadratic term."""
    daily = shared_daily_revenue(spark, sf_dir).select(
        "day", (F.col("rev") * 10000).cast("bigint").alias("y4")
    )
    xy = daily.select(
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        "y4",
    )
    s = xy.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast(_DEC).alias("sxx"),
        F.sum("y4").cast(_DEC).alias("sy4"),
        F.sum(F.col("x").cast(_DEC) * F.col("y4").cast(_DEC)).alias("sxy4"),
        F.sum(F.col("y4").cast(_DEC) * F.col("y4").cast(_DEC)).alias("syy4"),
        F.min("x").cast(_DEC).alias("minx"),
    )
    _sums = [F.col(c) for c in ("n", "sx", "sxx", "sy4", "sxy4", "syy4", "minx")]
    num = _no_overflow(
        "bi_revenue_trend_ols.num",
        F.col("n") * F.col("sxy4") - F.col("sx") * F.col("sy4"),
        *_sums,
    )
    den = _no_overflow(
        "bi_revenue_trend_ols.den",
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
        *_sums,
    )
    inum = _no_overflow(
        "bi_revenue_trend_ols.inum",
        F.col("sy4") * den + num * (F.col("n") * F.col("minx") - F.col("sx")),
        *_sums,
    )
    ydev = _no_overflow(
        "bi_revenue_trend_ols.ydev",
        F.col("n") * F.col("syy4") - F.col("sy4") * F.col("sy4"),
        *_sums,
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        (
            num.cast("double") / (den.cast("double") * F.lit(10000.0))
        ).alias("slope_per_day"),
        (
            inum.cast("double")
            / (
                (F.col("n").cast("double") * den.cast("double"))
                * F.lit(10000.0)
            )
        ).alias("intercept"),
        (
            (num.cast("double") * num.cast("double"))
            / (den.cast("double") * ydev.cast("double"))
        ).alias("r2"),
    )


@query(
    "bi_revenue_gini_customers",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM({fixed4_sql('o_totalprice')}) AS HUGEINT) AS y4
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT y4,
             CAST(row_number() OVER (ORDER BY y4, o_custkey) AS HUGEINT)
               AS i
      FROM cust),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(y4) AS HUGEINT) AS sy,
             CAST(SUM(i * y4) AS HUGEINT) AS siy
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(CAST(sy AS DECIMAL(38,0)) AS DOUBLE) / 10000.0
             AS total_revenue,
           CAST(2 * siy - (n + 1) * sy AS DOUBLE)
             / CAST(n * sy AS DOUBLE) AS gini
    FROM s
    """,
)
def bi_revenue_gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI concentration of revenue across customers via Lorenz
    ranks: sort customers by revenue (custkey tie-break — the rank is
    deterministic), weight each by its rank, and apply the closed form
    G = (2·Σ i·y_i − (n+1)·Σy) / (n·Σy) — the inequality coefficient
    next to bi_revenue_hhi_by_type with a genuinely different
    mechanism (HHI is share-of-squares, order-free; Gini is
    rank-weighted and needs the sorted distribution). All sums are
    exact ×10⁴ fixed-point integers; the 10⁴ scale cancels in G; ONE
    double division.

    Scale shape (100 TB): the fact collapses to customer grain first
    (map-side-combined); the global rank is a single-partition window
    over CUSTOMER-grain rows — fine to ~10⁷ customers, and past that
    the documented swap is the two-phase distributed rank (range
    partition + per-partition offsets, the pps/pack prefix-sum
    discipline, SCALE.md §Curation); the final reduction is one row."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(fixed4_expr("o_totalprice")).cast("bigint").alias("y4")
    )
    w = Window.orderBy("y4", "o_custkey")
    ranked = cust.select(
        "y4", F.row_number().over(w).cast("bigint").alias("i")
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("y4").cast(_DEC).alias("sy"),
        F.sum(F.col("i").cast(_DEC) * F.col("y4").cast(_DEC)).alias("siy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("sy").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        (
            (F.lit(2).cast(_DEC) * F.col("siy") - (F.col("n") + 1) * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sy")).cast("double")
        ).alias("gini"),
    )


_TRIPLE_MIN_SUPPORT = 2


@query(
    "bi_basket_triples",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
              AS n_orders FROM li),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
             FROM li GROUP BY 1),
    tri AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             c.l_partkey AS part_c, CAST(count(*) AS BIGINT) AS n_abc
      FROM li a
      JOIN li b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      JOIN li c ON b.l_orderkey = c.l_orderkey
                AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3
      HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
    )
    SELECT t.part_a, t.part_b, t.part_c, t.n_abc,
           CAST(CAST(t.n_abc AS HUGEINT) * tot.n_orders * tot.n_orders
                AS DOUBLE)
             / CAST(CAST(ia.n_item AS HUGEINT) * ib.n_item * ic.n_item
                    AS DOUBLE) AS lift3
    FROM tri t
    JOIN item ia ON ia.l_partkey = t.part_a
    JOIN item ib ON ib.l_partkey = t.part_b
    JOIN item ic ON ic.l_partkey = t.part_c
    CROSS JOIN tot
    ORDER BY n_abc DESC, part_a, part_b, part_c
    """,
)
def bi_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori 3-ITEMSETS over the co-purchase baskets: every part
    triple bought together in ≥ 2 orders, with the three-way lift
    P(abc)/(P(a)P(b)P(c)) = n_abc·N² / (n_a·n_b·n_c) — one tier past
    bi_market_basket_pairs (pairs) and bi_copurchase_linkpred
    (predicted pairs): the bundle-detection signal. Lift is a single
    double division of exact-integer products (numerator/denominator
    each one DECIMAL(38,0)/HUGEINT product chain).

    Scale shape (100 TB): baskets collapse to DISTINCT (order, part)
    ONCE via the managed basket_li persist (shared with the whole
    basket family); triple generation is the order-keyed double
    self-join a<b<c — work is Σ C(basket, 3), bounded by the
    basket-size cap (13 here; carts are O(10-100)), never
    part-cubic — and the support filter prunes before the three item-
    support joins. A production A-priori adds the candidate-pruning
    round (only triples whose three pairs are frequent); at this
    basket bound the direct join is cheaper than the extra shuffle,
    documented trade.

    Measured corpus property (stated so the sf0.1 emptiness is not
    mistaken for a bug): support-2 triples number 94 / 12 / 0 at
    sf0.001 / sf0.01 / sf0.1 — the generator grows the part space
    faster than baskets repeat, so bundle signals thin with scale
    and the honest answer at sf0.1 is empty (the linkpred
    empty-substrate precedent); the mechanism is exercised by the
    smaller SFs and the engineered-basket pytest."""
    from .basket_queries import shared_basket_li, shared_item_support

    li = shared_basket_li(spark, sf_dir)
    tot = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    # managed persist: the support aggregation was re-evaluated once
    # per broadcast side (3x here, 2x in bi_market_basket_pairs)
    item = shared_item_support(spark, sf_dir).select(
        "l_partkey", F.col("n_item").cast("bigint").alias("n_item")
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    c = li.select("l_orderkey", F.col("l_partkey").alias("part_c"))
    tri = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .join(c, "l_orderkey")
        .where(F.col("part_b") < F.col("part_c"))
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_abc"))
        .where(F.col("n_abc") >= _TRIPLE_MIN_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    ic = item.select(F.col("l_partkey").alias("part_c"), F.col("n_item").alias("nc"))
    lift = (
        F.col("n_abc").cast(_DEC)
        * F.col("n_orders").cast(_DEC)
        * F.col("n_orders").cast(_DEC)
    ).cast("double") / (
        F.col("na").cast(_DEC) * F.col("nb").cast(_DEC) * F.col("nc").cast(_DEC)
    ).cast(
        "double"
    )
    return (
        tri.join(ia, "part_a")
        .join(ib, "part_b")
        .join(ic, "part_c")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "part_c", "n_abc", lift.alias("lift3"))
        .orderBy(F.col("n_abc").desc(), "part_a", "part_b", "part_c")
    )


# Week cap for the reorder life table: intervals longer than the cap
# collapse into the open tail bucket (documented in the docstring).
_HAZARD_WEEK_CAP = 26


@query(
    "bi_reorder_hazard",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             lead(CAST(o_orderdate AS DATE)) OVER
               (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE),
                o_orderkey) AS nxt
      FROM orders),
    horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS hi FROM orders),
    iv AS (
      SELECT CASE WHEN nxt IS NOT NULL THEN datediff('day', d, nxt)
                  ELSE datediff('day', d, hi) END AS gap,
             (nxt IS NOT NULL) AS is_event
      FROM o CROSS JOIN horizon),
    wk AS (
      SELECT LEAST(gap // 7, {_HAZARD_WEEK_CAP}) AS week,
             CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events,
             CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
               AS n_censored
      FROM iv GROUP BY 1),
    grid AS (
      SELECT unnest(generate_series(0, {_HAZARD_WEEK_CAP})) AS week),
    dense AS (
      SELECT g.week, COALESCE(n_events, 0) AS n_events,
             COALESCE(n_censored, 0) AS n_censored
      FROM grid g LEFT JOIN wk USING (week)),
    risk AS (
      SELECT week, n_events, n_censored,
             CAST(SUM(n_events + n_censored) OVER (
               ORDER BY week ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
      FROM dense)
    SELECT CAST(week AS BIGINT) AS week, n_at_risk, n_events, n_censored,
           CASE WHEN n_at_risk > 0
                THEN CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
                END AS hazard
    FROM risk
    ORDER BY week
    """,
)
def bi_reorder_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time RE-ORDER HAZARD with right-censoring — the
    engine's first survival-analysis artifact (retention cohorts count
    returns; this measures time-to-next-order as a censored duration,
    the life-table every churn model starts from): each consecutive
    order pair is an EVENT interval (gap in days), each customer's
    last order is a CENSORED interval ending at the corpus horizon
    (max order date); intervals bucket into weeks (capped at
    26 — longer ones collapse into the open tail, documented);
    the week-t risk set is every interval still unresolved at t
    (Σ_{{u≥t}} events_u + censored_u — the standard actuarial life
    table) and hazard_t = events_t / at_risk_t. The Kaplan–Meier
    curve is the running product of (1 − hazard); the query emits the
    exact INGREDIENTS and leaves the product to the consumer — a
    float product chain is partition-order-dependent and would break
    the hash discipline (the PageRank fixed-point lesson applied by
    NOT emitting the unstable form).

    Exactness: every count is an exact BIGINT (the risk set is a
    reverse cumulative sum of exact integers — order-free); hazard is
    ONE double division per row; empty risk sets yield NULL on both
    engines.

    Scale shape (100 TB): one customer-partitioned window builds the
    intervals (customer-grain tasks); the 1-row horizon broadcasts;
    the life table aggregates to week grain (map-side combined,
    ≤ 27 rows) and the reverse-cumulative window runs over those
    rows only."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    o = orders.select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("nxt"),
    )
    horizon = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("hi")
    )
    iv = o.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNotNull(), F.datediff("nxt", "d")
        )
        .otherwise(F.datediff("hi", "d"))
        .alias("gap"),
        F.col("nxt").isNotNull().alias("is_event"),
    )
    wk = iv.groupBy(
        F.least(
            F.expr("gap div 7"), F.lit(_HAZARD_WEEK_CAP).cast("bigint")
        ).alias("week")
    ).agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_events"),
        F.sum(F.when(F.col("is_event"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_censored"),
    )
    grid = spark.range(0, _HAZARD_WEEK_CAP + 1).select(
        F.col("id").alias("week")
    )
    dense = grid.join(wk, "week", "left").na.fill(
        {"n_events": 0, "n_censored": 0}
    )
    w_risk = Window.orderBy("week").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = dense.withColumn(
        "n_at_risk",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w_risk)
        .cast("bigint"),
    )
    return risk.select(
        F.col("week").cast("bigint").alias("week"),
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(
            F.col("n_at_risk") > 0,
            F.col("n_events").cast("double")
            / F.col("n_at_risk").cast("double"),
        ).alias("hazard"),
    ).orderBy("week")


# ------------------------------------------------------------------ r12i
# Nonparametric time-series statistics over the daily revenue series:
# the Mann–Kendall trend test (rank-based — complements the parametric
# OLS fit), exact-integer autocorrelation at seasonal lags (the
# second-order dependence the OLS residual story needs), and the
# Wald–Wolfowitz runs test (distribution-free randomness check).


@query(
    "bi_revenue_trend_mannkendall",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({fixed4_sql('o_totalprice')}) AS HUGEINT) AS y4
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN b.y4 > a.y4 THEN 1
                  WHEN b.y4 < a.y4 THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.day < b.day),
    s AS (
      SELECT CAST((SELECT count(*) FROM daily) AS HUGEINT) AS n,
             CAST(SUM(sgn) AS HUGEINT) AS s_stat
      FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(2 * s_stat AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) AS kendall_tau
    FROM s
    """,
)
def bi_revenue_trend_mannkendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANN–KENDALL trend test on daily revenue — the nonparametric
    companion to bi_revenue_trend_ols: S = Σ_{i<j} sign(y_j − y_i)
    over all day pairs, and Kendall's tau = 2S/(n(n−1)) — rank-based,
    so a single outlier day cannot flip it the way it tilts a
    least-squares slope; agreement between the OLS sign and tau's sign
    is the standard robustness cross-check. Ties contribute 0 (the
    sign convention of the classic test).

    Exactness: S is a sum of {-1,0,1} — an exact integer, order-free;
    tau is ONE double division by the exact pair count.

    Scale shape (100 TB): the fact collapses to DAY grain first, so
    the pairwise comparison is C(n_days, 2) — ~2.9M pairs for an
    8-year series, a bounded self-join at ANY fact size (day count,
    not row count, drives it); for decade-scale series the join keys
    on coarse time blocks first (the banded two-phase swap, SCALE.md
    §KS). The 1-row day count rides a scalar subquery."""
    daily = shared_daily_revenue(spark, sf_dir).select(
        "day", (F.col("rev") * 10000).cast("bigint").alias("y4")
    )
    a = daily.select(F.col("day").alias("da"), F.col("y4").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y4").alias("yb"))
    sgn = (
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(sgn.alias("sgn"))
    n1 = daily.agg(F.count(F.lit(1)).cast(_DEC).alias("n"))
    return (
        pairs.agg(F.sum("sgn").cast(_DEC).alias("s_stat"))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s_stat").cast("bigint").alias("s_stat"),
            (
                (F.lit(2).cast(_DEC) * F.col("s_stat")).cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
            ).alias("kendall_tau"),
        )
    )


_ACF_LAGS = [1, 7, 14, 28]


@query(
    "bi_revenue_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    cal AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM b),
    dense AS (
      SELECT row_number() OVER (ORDER BY cal.day) AS t,
             CAST(coalesce({fixed4_sql('rev')},
                           CAST(0 AS HUGEINT)) AS HUGEINT) AS y
      FROM cal LEFT JOIN daily USING (day)),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS s,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM dense),
    lagged AS (
      SELECT g.k,
             CAST(SUM(a.y * bb.y) AS HUGEINT) AS sylag,
             CAST(SUM(a.y) AS HUGEINT) AS shead,
             CAST(SUM(bb.y) AS HUGEINT) AS stail
      FROM (SELECT unnest({_ACF_LAGS!r}) AS k) g
      JOIN dense a ON TRUE
      JOIN dense bb ON bb.t = a.t + g.k
      GROUP BY 1)
    SELECT CAST(l.k AS BIGINT) AS lag,
           CAST(n * n * sylag - n * s * (shead + stail)
                + (n - l.k) * s * s AS DOUBLE)
             / CAST(n * (n * syy - s * s) AS DOUBLE) AS acf
    FROM lagged l CROSS JOIN tot
    ORDER BY lag
    """,
)
def bi_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer AUTOCORRELATION of the gapfilled daily revenue at
    the seasonal lags 1/7/14/28 — the second-order temporal structure
    the trend fits ignore (a strong lag-7 spike IS the weekly
    seasonality; the lag-1 value feeds any AR(1) residual story):
    r_k = Σ(y_t − ȳ)(y_{t+k} − ȳ) / Σ(y_t − ȳ)², computed by
    multiplying the mean out —
    N²·num_k = N²·Σ y_t·y_{t+k} − N·S·(Σ_head y + Σ_tail y) + (N−k)·S²
    N²·den   = N·(N·Σy² − S²)
    — so EVERY term is an exact ×10⁴ fixed-point integer product
    (DECIMAL(38,0)/HUGEINT; magnitudes ≤ ~10³² at sf0.1, headroom
    documented) and each r_k is ONE double division. The edge sums
    Σ_head/Σ_tail (first/last N−k days) come from the same lagged
    join — no second pass.

    Scale shape (100 TB): fact to day grain first; the calendar index
    t is one day-grain window; the lag join is an equi-join on t+k
    over day-count rows × 4 lags; the reduction is 4 rows."""
    # y goes straight from the exact decimal daily sum to DECIMAL(38,0)
    # fixed point — no int64 intermediate anywhere (review findings,
    # r12i: an int64 y wrapped at the 100 TB design point, and routing
    # the SUMMED revenue through fixed4_expr's decimal(18,4) cast could
    # overflow→NULL→coalesce-to-0 silently; both gone)
    dense = dense_daily_revenue(spark, sf_dir).select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        (F.col("v") * 10000).cast(_DEC).alias("y"),
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("y").cast(_DEC).alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    lags = spark.createDataFrame(
        [(k,) for k in _ACF_LAGS], ["k"]
    ).select(F.col("k").cast("bigint").alias("k"))
    a = dense.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    bb = dense.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    lagged = (
        lags.crossJoin(a)
        .join(bb, F.col("tb") == F.col("ta") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("ya").cast(_DEC) * F.col("yb").cast(_DEC)).alias(
                "sylag"
            ),
            F.sum("ya").cast(_DEC).alias("shead"),
            F.sum("yb").cast(_DEC).alias("stail"),
        )
    )
    _sums = [
        F.col(c) for c in ("n", "s", "syy", "sylag", "shead", "stail", "k")
    ]
    num = _no_overflow(
        "bi_revenue_autocorr.num",
        F.col("n") * F.col("n") * F.col("sylag")
        - F.col("n") * F.col("s") * (F.col("shead") + F.col("stail"))
        + (F.col("n") - F.col("k")) * F.col("s") * F.col("s"),
        *_sums,
    )
    den = _no_overflow(
        "bi_revenue_autocorr.den",
        F.col("n") * (F.col("n") * F.col("syy") - F.col("s") * F.col("s")),
        *_sums,
    )
    return (
        lagged.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("lag"),
            (num.cast("double") / den.cast("double")).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "bi_revenue_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({fixed4_sql('o_totalprice')}) AS HUGEINT) AS y4
      FROM orders GROUP BY 1),
    med AS (
      SELECT y4 AS m FROM (
        SELECT y4, row_number() OVER (ORDER BY y4, day) AS r,
               count(*) OVER () AS n
        FROM daily) s
      WHERE r = (n + 1) // 2),
    signed AS (
      SELECT day, (y4 > med.m) AS above
      FROM daily CROSS JOIN med
      WHERE y4 <> med.m),
    runs AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY day) IS DISTINCT
                       FROM above THEN 1 ELSE 0 END AS is_start
      FROM signed)
    SELECT CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT)
             AS n_below,
           CAST(SUM(is_start) AS BIGINT) AS n_runs
    FROM runs
    """,
)
def bi_revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ runs test ingredients on daily revenue: code
    each day above/below the series MEDIAN (lower median, selected by
    a deterministic (y, day) row_number — no interpolation; median
    days drop, the classic convention) and count the RUNS of equal
    signs in day order — too few runs means positive serial dependence
    (clustering), too many means oscillation; the expected count under
    randomness, 2·n₊·n₋/(n₊+n₋) + 1, is a consumer-side formula over
    the emitted exact integers, so the query ships ONLY exact counts
    and the hash compares pure integers (no float anywhere —
    distribution-free in computation as well as in theory).

    Scale shape (100 TB): day grain throughout; the median is one
    window over day-count rows; run starts are a lag compare in day
    order; the answer is one row."""
    daily = shared_daily_revenue(spark, sf_dir).select(
        "day", (F.col("rev") * 10000).cast("bigint").alias("y4")
    )
    w_med = Window.orderBy("y4", "day")
    med = (
        daily.select(
            "y4",
            F.row_number().over(w_med).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("r") == F.expr("(n + 1) div 2"))
        .select(F.col("y4").alias("m"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y4") != F.col("m"))
        .select("day", (F.col("y4") > F.col("m")).alias("above"))
    )
    w_day = Window.orderBy("day")
    runs = signed.select(
        "above",
        F.when(
            ~F.lag("above").over(w_day).eqNullSafe(F.col("above")), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    return runs.agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.when(F.col("above"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_below"),
        F.sum("is_start").cast("bigint").alias("n_runs"),
    )

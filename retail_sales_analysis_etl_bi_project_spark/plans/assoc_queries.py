"""Round-14 association / hypothesis-test statistics over the star
schema — four mechanisms the r13 trend/robust family still lacked,
each with an exact DuckDB twin:

- bi_spearman_rev_qty_daily   : midrank Spearman correlation between
                                the daily revenue and daily order-count
                                series — DO busier days actually bring
                                proportionally more money? The rank
                                form is the outlier-proof companion to
                                a Pearson fit, and the first CROSS-
                                SERIES statistic in the registry (the
                                trend family is all univariate).
- bi_weekend_mannwhitney      : tie-corrected Mann–Whitney U test of
                                weekend vs weekday daily revenue — the
                                distribution-free "is weekend revenue
                                genuinely different" test behind the
                                weekday seasonal indices (the index
                                QUANTIFIES the gap; this SIGNIFICANCE-
                                tests it without normality).
- bi_active_customer_churn_jaccard : month-over-month Jaccard of the
                                active-customer SET — the set-churn
                                monitor (revenue can be flat while the
                                customer base silently rotates).
- events_type_weekday_chisq   : per-cell chi-square contributions of
                                the event_type × ISO-weekday
                                contingency table — WHICH type/day
                                cells drive any type-mix weekday
                                dependence.

Numeric discipline (REQUIREMENTS.md): ranks are integer MIDRANKS
SCALED BY 2 (midrank = (first+last)/2 can be a .5; ×2 keeps every
rank an exact integer), moments ride DECIMAL(38,0)/HUGEINT, each
emitted double is a pinned chain of casts/divisions/IEEE sqrt of
identically-exact integers — sqrt is correctly rounded under
IEEE-754 on both engines (the embed-norm precedent).

Reference scope: the reference's analytics stop at groupBy sums
(/root/reference/etl/etl.py:220-306); association statistics are
extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import fixed4_sql
from ..sources.tables import load_table
from .dedup_queries import _minhash_lsh_oracle, shared_minhash_pairs
from .registry import query
from .trend_queries import _DEC, dense_daily_revenue

# Benford expected first-digit fractions log10(1+1/d): module-level so
# the SAME Python float literal lands in the Spark plan and the DuckDB
# SQL string (the BM25-constant convention — a re-derivation on one
# side could round differently).
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

# DuckDB fragment: observed daily series (day, y4 revenue, c orders)
_SQL_DAILY_XY = f"""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM({fixed4_sql('o_totalprice')}) AS HUGEINT) AS y4,
           CAST(count(*) AS HUGEINT) AS c
    FROM orders GROUP BY 1
"""


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed (day, y4, c): exact ×10⁴ fixed-point daily revenue and
    the order count — ONE fact scan, map-side combined, day grain."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 10000)
            .cast(_DEC)
            .alias("y4"),
            F.count(F.lit(1)).cast(_DEC).alias("c"),
        )
    )


def _midrank2(order_col: str) -> Column:
    """Spark columns for the ×2 integer midrank of ``order_col``:
    2·rank + ties − 1, where rank is the SQL-standard min-rank and
    ties the value's multiplicity — positions rank..rank+ties−1
    average to rank+(ties−1)/2, so the doubled midrank is exactly
    2·rank+ties−1, an integer for any tie pattern."""
    w_rank = Window.orderBy(order_col)
    w_ties = Window.partitionBy(order_col)
    return (
        2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_ties) - 1
    ).cast(_DEC)


@query(
    "bi_spearman_rev_qty_daily",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY_XY}),
    ranked AS (
      SELECT CAST(2 * rank() OVER (ORDER BY y4)
                  + count(*) OVER (PARTITION BY y4) - 1 AS HUGEINT) AS rx,
             CAST(2 * rank() OVER (ORDER BY c)
                  + count(*) OVER (PARTITION BY c) - 1 AS HUGEINT) AS ry
      FROM daily),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(rx) AS HUGEINT) AS sx,
             CAST(SUM(ry) AS HUGEINT) AS sy,
             CAST(SUM(rx * ry) AS HUGEINT) AS sxy,
             CAST(SUM(rx * rx) AS HUGEINT) AS sxx,
             CAST(SUM(ry * ry) AS HUGEINT) AS syy
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS BIGINT) AS s_num,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
    FROM m
    """,
)
def bi_spearman_rev_qty_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between the daily-revenue and
    daily-order-count series — the registry's first cross-series
    statistic: rank both series (×2 integer midranks so ties stay
    exact), then Pearson on the ranks. High rho means busy days and
    big-money days are the SAME days; a low rho with a strong
    univariate trend means order count and basket size move on
    different calendars — the decomposition a capacity planner needs.

    Exactness: ×2 midranks are exact integers for any tie pattern
    (2·rank+ties−1); all five moments ride DECIMAL(38,0)/HUGEINT;
    s_num = n·Σrxry − Σrx·Σry is the exact-integer hash anchor; rho
    is the pinned chain num/(sqrt(d1)·sqrt(d2)) of exactly-rounded
    double casts (IEEE sqrt is correctly rounded on both engines).

    Scale shape (100 TB): the fact collapses to DAY grain in one
    map-side-combined pass; the rank windows run over day-count rows
    (the documented bounded day-grain concession — and past decade
    scale, operators/ranks.py's two-phase histogram is the same swap
    family); the moment reduction is one row."""
    daily = _daily_xy(spark, sf_dir)
    ranked = daily.select(
        _midrank2("y4").alias("rx"), _midrank2("c").alias("ry")
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("rx").cast(_DEC).alias("sx"),
        F.sum("ry").cast(_DEC).alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast(_DEC).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast(_DEC).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast(_DEC).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        num.cast("bigint").alias("s_num"),
        (
            num.cast("double")
            / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double")))
        ).alias("spearman_rho"),
    )


@query(
    "bi_weekend_mannwhitney",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY_XY}),
    g AS (
      SELECT y4,
             CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS is_we
      FROM daily),
    ranked AS (
      SELECT is_we,
             CAST(2 * rank() OVER (ORDER BY y4)
                  + count(*) OVER (PARTITION BY y4) - 1 AS HUGEINT) AS r2
      FROM g),
    ties AS (
      SELECT CAST(coalesce(SUM(t * t * t - t), 0) AS HUGEINT) AS tie_t
      FROM (SELECT CAST(count(*) AS HUGEINT) AS t FROM g GROUP BY y4)),
    m AS (
      SELECT CAST(SUM(is_we) AS HUGEINT) AS n1,
             CAST(SUM(1 - is_we) AS HUGEINT) AS n2,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN is_we = 1 THEN r2 ELSE 0 END)
                  AS HUGEINT) AS r1_2
      FROM ranked)
    SELECT CAST(n1 AS BIGINT) AS n_weekend,
           CAST(n2 AS BIGINT) AS n_weekday,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u2_weekend,
           CAST(tie_t AS BIGINT) AS tie_term,
           CAST(r1_2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
             / (CAST(2 AS DOUBLE)
                * sqrt(CAST(n1 * n2 * ((n + 1) * n * (n - 1) - tie_t)
                            AS DOUBLE)
                       / CAST(12 * n * (n - 1) AS DOUBLE))) AS z_score
    FROM m CROSS JOIN ties
    """,
)
def bi_weekend_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected MANN–WHITNEY U test: weekend daily revenues vs
    weekday daily revenues — the distribution-free two-sample location
    test (no normality assumed, outlier days only move ranks by one)
    that significance-tests the gap bi_revenue_weekday_seasonality
    quantifies. U is computed from the rank-sum identity
    U₁ = R₁ − n₁(n₁+1)/2; the normal approximation's variance carries
    the exact tie correction n₁n₂((n+1)n(n−1) − Σ(t³−t))/(12n(n−1)).

    Exactness: ×2 midranks keep U₂ = 2U₁ an exact integer (the hash
    anchor, with the exact Σ(t³−t) tie term beside it); the z-score is
    one pinned chain — exact-integer numerator, one division, one IEEE
    sqrt, one ×2 — identical on both engines.

    Scale shape (100 TB): day grain after one fact pass; one bounded
    rank window; 1-row readout."""
    daily = _daily_xy(spark, sf_dir).select(
        "y4",
        F.when(F.expr("weekday(day)") >= 5, 1).otherwise(0).alias("is_we"),
    )
    r2 = _midrank2("y4").alias("r2")
    ranked = daily.select("is_we", r2)
    ties = (
        daily.groupBy("y4")
        .agg(F.count(F.lit(1)).cast(_DEC).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0).cast(_DEC),
            )
            .cast(_DEC)
            .alias("tie_t")
        )
    )
    m = ranked.agg(
        F.sum("is_we").cast(_DEC).alias("n1"),
        F.sum(1 - F.col("is_we")).cast(_DEC).alias("n2"),
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(F.when(F.col("is_we") == 1, F.col("r2")).otherwise(0))
        .cast(_DEC)
        .alias("r1_2"),
    )
    u2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    var_num = F.col("n1") * F.col("n2") * (
        (F.col("n") + 1) * F.col("n") * (F.col("n") - 1) - F.col("tie_t")
    )
    var_den = F.lit(12).cast(_DEC) * F.col("n") * (F.col("n") - 1)
    return m.crossJoin(F.broadcast(ties)).select(
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        u2.cast("bigint").alias("u2_weekend"),
        F.col("tie_t").cast("bigint").alias("tie_term"),
        (
            (u2 - F.col("n1") * F.col("n2")).cast("double")
            / (
                F.lit(2.0)
                * F.sqrt(var_num.cast("double") / var_den.cast("double"))
            )
        ).alias("z_score"),
    )


@query(
    "bi_active_customer_churn_jaccard",
    oracle="""
    WITH am AS (
      SELECT DISTINCT
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                  AS BIGINT) AS mnum,
             o_custkey
      FROM orders),
    n AS (SELECT mnum, CAST(count(*) AS BIGINT) AS n_active
          FROM am GROUP BY 1),
    inter AS (
      SELECT a.mnum AS mprev, CAST(count(*) AS BIGINT) AS n_retained
      FROM am a JOIN am b
        ON a.o_custkey = b.o_custkey AND b.mnum = a.mnum + 1
      GROUP BY 1)
    SELECT CAST((np.mnum // 12) * 100 + (np.mnum % 12) + 1
                AS BIGINT) AS ym_prev,
           CAST((nn.mnum // 12) * 100 + (nn.mnum % 12) + 1
                AS BIGINT) AS ym_next,
           np.n_active AS n_prev,
           nn.n_active AS n_next,
           coalesce(i.n_retained, 0) AS n_retained,
           CAST(coalesce(i.n_retained, 0) AS DOUBLE)
             / CAST(np.n_active + nn.n_active - coalesce(i.n_retained, 0)
                    AS DOUBLE) AS jaccard,
           CAST(coalesce(i.n_retained, 0) AS DOUBLE)
             / CAST(np.n_active AS DOUBLE) AS retention
    FROM n np
    JOIN n nn ON nn.mnum = np.mnum + 1
    LEFT JOIN inter i ON i.mprev = np.mnum
    ORDER BY ym_next
    """,
)
def bi_active_customer_churn_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MONTH-OVER-MONTH SET CHURN: the Jaccard similarity (and plain
    retention rate) of consecutive months' active-customer SETS — the
    base-rotation monitor the revenue aggregates can't see (total
    revenue can be flat while half the customer base is new every
    month). The retention-cohort query answers "how long does a
    cohort live"; this answers "how much of THIS month's base is last
    month's" — one row per consecutive month pair.

    Exactness: set sizes and intersections are exact BIGINT counts of
    distinct (month, customer) pairs; Jaccard and retention are one
    double division each (|A∩B| / (|A|+|B|−|A∩B|), |A∩B|/|A|).

    Scale shape (100 TB): the fact collapses to distinct
    (month, custkey) — one shuffle on the composite key with map-side
    combine; the consecutive-month intersection is an equi-join keyed
    on (custkey, month+1), both sides partitioned by custkey; the
    readout is month-count rows. No month is compared to more than
    its immediate successor, so the join fan-out is linear in the
    active-pair count, never quadratic in months."""
    am = active_month_pairs(load_table(spark, sf_dir, "orders"))
    return churn_jaccard_readout(am)


def active_month_pairs(orders: DataFrame) -> DataFrame:
    """DISTINCT (mnum, o_custkey) active pairs — the set relation the
    churn readout consumes; also maintained incrementally by
    streaming/churn.py (set union is idempotent, so the stored
    relation equals this exactly after any drain)."""
    return orders.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("mnum"),
        "o_custkey",
    ).distinct()


def churn_jaccard_readout(am: DataFrame) -> DataFrame:
    """Consecutive-month Jaccard/retention readout over an active-pairs
    relation (shared by the batch query and the streaming monitor's
    read side — one definition, zero drift)."""
    n = am.groupBy("mnum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    a = am.select(F.col("mnum").alias("mprev"), "o_custkey")
    b = am.select((F.col("mnum") - 1).alias("mprev"), "o_custkey")
    inter = (
        a.join(b, ["mprev", "o_custkey"])
        .groupBy("mprev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_retained"))
    )

    def _ym(c):
        return (
            F.floor(c / F.lit(12)).cast("bigint") * 100 + (c % 12) + 1
        ).cast("bigint")

    np_ = n.select(
        F.col("mnum").alias("mprev"), F.col("n_active").alias("n_prev")
    )
    nn = n.select(
        (F.col("mnum") - 1).alias("mprev"),
        F.col("n_active").alias("n_next"),
    )
    ret = F.coalesce(F.col("n_retained"), F.lit(0))
    return (
        np_.join(nn, "mprev")
        .join(inter, "mprev", "left")
        .select(
            _ym(F.col("mprev")).alias("ym_prev"),
            _ym(F.col("mprev") + 1).alias("ym_next"),
            "n_prev",
            "n_next",
            ret.cast("bigint").alias("n_retained"),
            (
                ret.cast("double")
                / (F.col("n_prev") + F.col("n_next") - ret).cast("double")
            ).alias("jaccard"),
            (ret.cast("double") / F.col("n_prev").cast("double")).alias(
                "retention"
            ),
        )
        .orderBy("ym_next")
    )


@query(
    "events_type_weekday_chisq",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS iso_dow,
             CAST(count(*) AS HUGEINT) AS o
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(SUM(o) AS HUGEINT) AS rt
          FROM cells GROUP BY 1),
    c AS (SELECT iso_dow, CAST(SUM(o) AS HUGEINT) AS ct
          FROM cells GROUP BY 1),
    t AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells)
    SELECT cells.event_type, cells.iso_dow,
           CAST(o AS BIGINT) AS n_obs,
           CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
           CAST((o * n - rt * ct) * (o * n - rt * ct) AS DOUBLE)
             / CAST(n * rt * ct AS DOUBLE) AS chi2_cell
    FROM cells JOIN r USING (event_type) JOIN c USING (iso_dow)
    CROSS JOIN t
    ORDER BY event_type, iso_dow
    """,
)
def events_type_weekday_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CELL chi-square contributions of the event_type ×
    ISO-weekday contingency table — the independence diagnostic for
    the event mix: under independence every cell's (O·N − R·C)²/(N·R·C)
    is small; the big cells NAME which type runs hot on which weekday
    (the actionable readout a single summed χ² hides). Per-cell
    emission also keeps every number a pinned chain of exact integers
    — no cross-cell double summation whose order could differ between
    engines.

    Exactness: O, R, C, N are exact counts; the numerator
    (O·N − R·C)² and denominator N·R·C ride DECIMAL(38,0)/HUGEINT
    (O·N ~ 10⁶·10⁶ at sf0.1 already passes int64 at the 100 TB design
    point); expected and chi2_cell are one double division each.

    Scale shape (100 TB): ONE fact pass collapses to the ~35-cell
    contingency table (map-side combined); margins are re-aggregations
    of the tiny cell relation; the readout joins are cell-count-sized
    broadcasts."""
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.expr("weekday(cast(ts as date))") + 1)
            .cast("bigint")
            .alias("iso_dow"),
        )
        .agg(F.count(F.lit(1)).cast(_DEC).alias("o"))
    )
    r = cells.groupBy("event_type").agg(F.sum("o").cast(_DEC).alias("rt"))
    c = cells.groupBy("iso_dow").agg(F.sum("o").cast(_DEC).alias("ct"))
    t = cells.agg(F.sum("o").cast(_DEC).alias("n"))
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct"))
    return (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "iso_dow")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "iso_dow",
            F.col("o").cast("bigint").alias("n_obs"),
            (
                (F.col("rt") * F.col("ct")).cast("double")
                / F.col("n").cast("double")
            ).alias("expected"),
            (
                (num * num).cast("double")
                / (F.col("n") * F.col("rt") * F.col("ct")).cast("double")
            ).alias("chi2_cell"),
        )
        .orderBy("event_type", "iso_dow")
    )


_LEADLAG_LAGS = (0, 1)


@query(
    "events_type_leadlag_concordance",
    oracle="""
    WITH ec AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM ec),
    cal AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM b),
    ty AS (SELECT DISTINCT event_type FROM ec),
    dense AS (
      SELECT ty.event_type, cal.day, coalesce(ec.n, 0) AS n
      FROM ty CROSS JOIN cal
      LEFT JOIN ec ON ec.event_type = ty.event_type AND ec.day = cal.day),
    delta AS (
      SELECT event_type, day,
             CASE WHEN n > pn THEN 1 WHEN n < pn THEN -1 ELSE 0 END AS s
      FROM (SELECT event_type, day, n,
                   lag(n) OVER (PARTITION BY event_type
                                ORDER BY day) AS pn
            FROM dense)
      WHERE pn IS NOT NULL),
    lags AS (SELECT unnest([0, 1]) AS lag),
    joined AS (
      SELECT a.event_type AS type_a, bb.event_type AS type_b, l.lag,
             a.s AS sa, bb.s AS sb
      FROM delta a
      CROSS JOIN lags l
      JOIN delta bb ON bb.day = a.day + l.lag * INTERVAL 1 DAY
                    AND bb.event_type <> a.event_type)
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag,
           CAST(SUM(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_concordant,
           CAST(SUM(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discordant,
           CAST(SUM(CASE WHEN sa * sb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tied,
           CAST(SUM(sa * sb) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS concordance
    FROM joined
    GROUP BY 1, 2, 3
    ORDER BY type_a, type_b, lag
    """,
)
def events_type_leadlag_concordance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEAD-LAG SIGN CONCORDANCE between event-type daily volumes: for
    every ORDERED type pair (a, b) and lag L ∈ {0, 1}, how often does
    a's day-over-day direction agree with b's direction L days LATER —
    the coupling detector behind the burst/anomaly monitors (lag 0
    says the types co-move; an asymmetric lag-1 score says one type's
    moves LEAD the other's, the cheapest causal-direction signal a
    daily grid supports). Sign-based, so one huge day can't dominate
    the score the way a covariance would.

    Exactness: deltas are exact integer count differences over the
    dense calendar (missing days are exact-0); signs are {-1,0,1};
    the per-pair readout is exact concordant/discordant/tie counts
    and concordance = Σ(sa·sb)/count — one double division of exact
    integers. Ordered pairs keep ONE uniform join predicate across
    both lags (lag-0 rows mirror; lag-1 rows genuinely differ by
    direction — the readout of interest).

    Scale shape (100 TB): the fact collapses to (type, day) grain in
    one map-side-combined pass; the calendar gapfill and the lag
    window are type-count × day-count sized; the pair join is an
    equi-join on the shifted day key over day-grain rows — bounded by
    calendar × type-vocabulary at any fact size."""
    ec = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    b = ec.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = b.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    ty = ec.select("event_type").distinct()
    dense = (
        ty.crossJoin(cal)
        .join(ec, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    delta = (
        dense.withColumn("pn", F.lag("n").over(w))
        .filter(F.col("pn").isNotNull())
        .select(
            "event_type",
            "day",
            F.when(F.col("n") > F.col("pn"), 1)
            .when(F.col("n") < F.col("pn"), -1)
            .otherwise(0)
            .alias("s"),
        )
    )
    lags = spark.createDataFrame(
        [(lag,) for lag in _LEADLAG_LAGS], "lag long"
    )
    a = delta.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("da"),
        F.col("s").alias("sa"),
    )
    bb = delta.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("db"),
        F.col("s").alias("sb"),
    )
    joined = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("jday", F.expr("date_add(da, cast(lag as int))"))
        .join(
            bb,
            (F.col("db") == F.col("jday"))
            & (F.col("type_b") != F.col("type_a")),
        )
    )
    return (
        joined.groupBy("type_a", "type_b", "lag")
        .agg(
            F.sum(F.when(F.col("sa") * F.col("sb") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_concordant"),
            F.sum(F.when(F.col("sa") * F.col("sb") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_discordant"),
            F.sum(F.when(F.col("sa") * F.col("sb") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_tied"),
            (
                F.sum(F.col("sa") * F.col("sb")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("concordance"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH mh AS MATERIALIZED ({_minhash_lsh_oracle()}),
    e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM mh
                       UNION ALL SELECT doc_b AS s, doc_a AS d FROM mh),
    deg AS MATERIALIZED (SELECT s, CAST(count(*) AS HUGEINT) AS dg
                         FROM e GROUP BY s),
    de AS (
      SELECT da.dg AS x, db.dg AS y
      FROM e JOIN deg da ON e.s = da.s JOIN deg db ON e.d = db.s),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM de)
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(n * sxy - sx * sy AS BIGINT) AS s_num,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                ELSE NULL END AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEGREE ASSORTATIVITY of the MinHash-verified near-dup graph:
    the Pearson correlation of endpoint degrees over the directed edge
    list — do high-degree documents attach to other hubs (assortative,
    r>0: one mega-family of templates) or to leaves (disassortative,
    r<0: hub-and-spoke boilerplate around distinct cores)? The one
    scalar that tells the dedup operator whether cluster canonicals
    will be dominated by a single template family. Completes the graph
    family (components / coreness / triangles / PageRank) with its
    structural-correlation member.

    Exactness: degrees are exact counts; all five moments ride
    DECIMAL(38,0)/HUGEINT over the symmetric edge list; s_num is the
    exact-integer hash anchor; the coefficient is the pinned
    num/(√d1·√d2) chain, NULL (both engines, explicit CASE) when a
    degree-regular graph makes a variance zero.

    Scale shape (100 TB): consumes the SAME shared_minhash_pairs
    managed persist as the rest of the graph family (banded LSH, never
    all-pairs); degree is one groupBy on the edge list; the moment
    pass is two broadcast joins of the degree relation keyed by node —
    every step partitioned by node id."""
    pairs = shared_minhash_pairs(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast(_DEC).alias("dg"))
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    de = (
        e.join(deg.withColumnRenamed("dg", "x"), "s")
        .join(
            deg.select(F.col("s").alias("d"), F.col("dg").alias("y")), "d"
        )
        .select("x", "y")
    )
    m = de.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(_DEC).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(_DEC).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(_DEC).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.crossJoin(F.broadcast(nn)).select(
        F.expr("n div 2").cast("bigint").alias("n_edges"),
        "n_nodes",
        num.cast("bigint").alias("s_num"),
        F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double")
            / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
        ).alias("assortativity"),
    )


def _benford_values_sql() -> str:
    # explicit DOUBLE cast: DuckDB parses a bare decimal literal in
    # VALUES as DECIMAL, which the gate stringifies differently from
    # the identical double
    rows = ", ".join(
        f"({d}, CAST({_BENFORD[d]!r} AS DOUBLE))" for d in range(1, 10)
    )
    return f"(VALUES {rows}) AS bf(digit, p)"


@query(
    "bi_benford_first_digit",
    oracle=f"""
    WITH y AS (
      SELECT {fixed4_sql('o_totalprice')} AS y4 FROM orders),
    dig AS (
      SELECT CAST(substr(CAST(y4 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM y GROUP BY 1),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM dig)
    SELECT bf.digit,
           coalesce(dig.n_obs, 0) AS n_obs,
           t.n_total,
           CAST(coalesce(dig.n_obs, 0) AS DOUBLE)
             / CAST(t.n_total AS DOUBLE) AS obs_frac,
           bf.p AS benford_frac,
           (CAST(coalesce(dig.n_obs, 0) AS DOUBLE)
              - CAST(t.n_total AS DOUBLE) * bf.p)
           * (CAST(coalesce(dig.n_obs, 0) AS DOUBLE)
              - CAST(t.n_total AS DOUBLE) * bf.p)
           / (CAST(t.n_total AS DOUBLE) * bf.p) AS chi2_cell
    FROM {_benford_values_sql()}
    LEFT JOIN dig ON dig.digit = bf.digit
    CROSS JOIN t
    ORDER BY bf.digit
    """,
)
def bi_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-significant-digit audit of order totals: observed
    first-digit frequencies vs the Benford expectation log10(1+1/d),
    with a per-digit chi-square contribution — the classic synthetic-
    data / fraud screen (organically-grown money amounts lean Benford;
    uniform generators and fabricated books don't), pointed here at
    the generator's own output as a data-quality fingerprint. Per-
    digit emission (9 rows) keeps every number free of cross-cell
    double summation.

    Exactness: the first significant digit is extracted from the exact
    ×10⁴ fixed-point integer (multiplying by 10⁴ never changes
    significant digits of a positive amount, and string-leading-char
    of an exact integer is deterministic on both engines); counts are
    exact; the expectation constants are ONE shared Python float
    literal per digit embedded in both plans (the BM25-constant
    convention); obs_frac and chi2_cell are pinned double chains.
    Digits with zero observations still emit (left join from the
    9-row expectation table) so the output shape is always 9 rows.

    Scale shape (100 TB): one fact pass collapsing to <= 9 groups with
    map-side combine; everything after is 9-row arithmetic."""
    y4 = (F.col("o_totalprice").cast("decimal(18,4)") * 10000).cast(
        "decimal(38,0)"
    )
    # fact at cluster width before the per-row decimal/string digit
    # extraction (r16, guide §2.2/§2.5 — see plans/bi.py q02; counts
    # exact)
    from ..sources.tables import load_fact_wide

    dig = (
        load_fact_wide(spark, sf_dir, "orders", "o_orderkey")
        .select(
            F.substring(y4.cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    t = dig.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    bf = spark.createDataFrame(
        [(d, _BENFORD[d]) for d in range(1, 10)], "digit long, p double"
    )
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0))
    e = F.col("n_total").cast("double") * F.col("p")
    diff = n_obs.cast("double") - e
    return (
        bf.join(dig, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            n_obs.cast("bigint").alias("n_obs"),
            "n_total",
            (n_obs.cast("double") / F.col("n_total").cast("double")).alias(
                "obs_frac"
            ),
            F.col("p").alias("benford_frac"),
            (diff * diff / e).alias("chi2_cell"),
        )
        .orderBy("digit")
    )


@query(
    "bi_weekday_anova",
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
      SELECT cal.day,
             CAST(isodow(cal.day) AS BIGINT) AS iso_dow,
             CAST(coalesce({fixed4_sql('rev')},
                           CAST(0 AS HUGEINT)) AS HUGEINT) AS y
      FROM cal LEFT JOIN daily USING (day)),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS t,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM dense),
    grp AS (
      SELECT iso_dow,
             CAST(count(*) AS HUGEINT) AS ng,
             CAST(SUM(y) AS HUGEINT) AS tg
      FROM dense GROUP BY 1),
    rg AS (
      SELECT iso_dow,
             CAST(tg AS DOUBLE) * CAST(tg AS DOUBLE)
               / CAST(ng AS DOUBLE) AS r,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM grp),
    folded AS (
      SELECT k, r,
             SUM(r) OVER (ORDER BY iso_dow
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS run
      FROM rg),
    a AS (SELECT k, max(run) AS afold FROM folded GROUP BY k)
    SELECT CAST(tot.n AS BIGINT) AS n_days,
           a.k AS n_groups,
           a.afold - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
             / CAST(tot.n AS DOUBLE) AS ss_between_4,
           CAST(tot.syy AS DOUBLE)
             - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
               / CAST(tot.n AS DOUBLE)
             - (a.afold - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
                  / CAST(tot.n AS DOUBLE)) AS ss_within_4,
           ((a.afold - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
               / CAST(tot.n AS DOUBLE))
              / CAST(a.k - 1 AS DOUBLE))
           / ((CAST(tot.syy AS DOUBLE)
                 - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
                   / CAST(tot.n AS DOUBLE)
                 - (a.afold
                    - CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)
                      / CAST(tot.n AS DOUBLE)))
              / CAST(tot.n - a.k AS DOUBLE)) AS f_stat
    FROM tot CROSS JOIN a
    """,
)
def bi_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of the gapfilled daily revenue across ISO
    weekdays: F = (SSB/(k−1)) / (SSW/(N−k)) — the k-group
    generalization of bi_weekend_mannwhitney's 2-group test, and the
    SIGNIFICANCE side of bi_revenue_weekday_seasonality's indices
    (the index says Monday runs 1.2×; the F statistic says whether
    that spread exceeds day-to-day noise). Classic variance
    decomposition: between-group vs within-group sum of squares.

    Exactness: Σy, Σy², per-group sums and counts are exact ×10⁴
    fixed-point integers; each group's T_g²/n_g is ONE double
    division, and the 7-term cross-group sum Σ T_g²/n_g is an ORDERED
    running-sum fold over the weekday-sorted rows (the Neyman
    precedent — never an order-free float SUM); SSB, SSW, and F are
    then a fixed chain of subtractions/divisions of those pinned
    doubles. The ×10⁴ scale cancels in F but NOT in the emitted SS
    columns — they are published in (×10⁴ currency)² units, named
    _4 to say so (the hashable convention; dividing by 10⁸ would add
    a float op for cosmetics).

    Scale shape (100 TB): fact to day grain; one 7-group aggregate,
    one 1-row total, a 7-row ordered fold; readout is 1 row."""
    dense = dense_daily_revenue(spark, sf_dir).select(
        (F.expr("weekday(day)") + 1).cast("bigint").alias("iso_dow"),
        (F.col("v") * 10000).cast(_DEC).alias("y"),
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("y").cast(_DEC).alias("t"),
        F.sum(F.col("y") * F.col("y")).cast(_DEC).alias("syy"),
    )
    grp = dense.groupBy("iso_dow").agg(
        F.count(F.lit(1)).cast(_DEC).alias("ng"),
        F.sum("y").cast(_DEC).alias("tg"),
    )
    w_all = Window.orderBy("iso_dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_run = Window.orderBy("iso_dow").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rg = grp.select(
        "iso_dow",
        (
            F.col("tg").cast("double")
            * F.col("tg").cast("double")
            / F.col("ng").cast("double")
        ).alias("r"),
    ).withColumn("k", F.count(F.lit(1)).over(w_all).cast("bigint"))
    folded = rg.withColumn("run", F.sum("r").over(w_run))
    a = folded.groupBy("k").agg(F.max("run").alias("afold"))
    gm = (
        F.col("t").cast("double")
        * F.col("t").cast("double")
        / F.col("n").cast("double")
    )
    ssb = F.col("afold") - gm
    ssw = F.col("syy").cast("double") - gm - ssb
    return tot.crossJoin(F.broadcast(a)).select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("k").alias("n_groups"),
        ssb.alias("ss_between_4"),
        ssw.alias("ss_within_4"),
        (
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


@query(
    "join_fact_key_skew",
    oracle="""
    WITH kc AS (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM kc),
    top AS (
      SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS r
      FROM kc)
    SELECT top.r AS rank,
           top.k AS join_key,
           top.n AS n_rows_key,
           CAST(top.n AS DOUBLE) / CAST(tot.n_rows AS DOUBLE) AS share,
           CAST(top.n * tot.n_keys AS DOUBLE)
             / CAST(tot.n_rows AS DOUBLE) AS skew_ratio
    FROM top CROSS JOIN tot
    WHERE top.r <= 10
    ORDER BY rank
    """,
)
def join_fact_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT JOIN-KEY SKEW profile of the fact table's l_partkey — the
    shuffle-planning audit behind every salting/AQE-skew-join
    decision: the 10 heaviest keys with their exact row share and
    skew ratio n_key·n_keys/N (how many times the mean key's weight
    this key carries). The CMS heavy-hitter query answers this
    approximately in one pass; THIS is the exact profile a planner
    baselines the sketch against, and the number that says whether
    the skew-join machinery (operators/skew.py) is needed at all.

    Exactness: all counts exact; share and skew_ratio are one double
    division each (the ratio's numerator is the exact integer product
    n·n_keys).

    Scale shape (100 TB): ONE groupBy on the audited join key — the
    exact shuffle whose skew is being measured, with map-side combine
    doing the heavy lifting; the totals are a re-aggregation of the
    key-grain relation; the top-10 is a TakeOrderedAndProject, never a
    full sort."""
    kc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = kc.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    w = Window.orderBy(F.desc("n"), "k")
    top = (
        kc.orderBy(F.desc("n"), "k")
        .limit(10)
        .withColumn("r", F.row_number().over(w))
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("rank"),
            F.col("k").alias("join_key"),
            F.col("n").alias("n_rows_key"),
            (
                F.col("n").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("share"),
            (
                (F.col("n") * F.col("n_keys")).cast("double")
                / F.col("n_rows").cast("double")
            ).alias("skew_ratio"),
        )
        .orderBy("rank")
    )


@query(
    "bi_interpurchase_gap_quartiles",
    oracle="""
    WITH g AS (
      SELECT CAST(o_custkey AS BIGINT) AS cust,
             CAST(date_diff('day',
                            lag(CAST(o_orderdate AS DATE)) OVER (
                              PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey),
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS gap,
             CAST(o_orderkey AS BIGINT) AS ok
      FROM orders),
    gg AS (SELECT cust, gap, ok FROM g WHERE gap IS NOT NULL),
    n AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gg),
    ranked AS (
      SELECT gap, cust, ok,
             row_number() OVER (ORDER BY gap, cust, ok) AS r
      FROM gg),
    qs AS (SELECT unnest([1, 2, 3]) AS k)
    SELECT 'q' || CAST(qs.k AS VARCHAR) AS quartile,
           CAST(greatest(1, (qs.k * (n.m + 1)) // 4) AS BIGINT)
             AS sel_rank,
           CAST(n.m AS BIGINT) AS n_gaps,
           ranked.gap AS gap_days
    FROM qs CROSS JOIN n
    JOIN ranked ON ranked.r = greatest(1, (qs.k * (n.m + 1)) // 4)
    ORDER BY quartile
    """,
)
def bi_interpurchase_gap_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-PURCHASE GAP quartiles: exact Q1/Q2/Q3 of the days
    between a customer's consecutive orders, pooled across ALL
    customers — the replenishment-cycle distribution behind the
    reorder-hazard curve (the hazard gives the shape per relative
    day; these are the absolute cut points a retention campaign is
    timed against). Gaps come from a lag window PARTITIONED BY
    customer (parallel across millions of customers); the pooled
    quartiles are SELECTED elements via the generalized two-phase
    histogram rank — no gap row crosses a global single-partition
    window, while the DuckDB twin runs the straight global row_number
    SQL, so every gate run re-proves the operator on a second
    production shape (integer day keys with heavy ties, vs the
    doc-length and slope keys of its other consumers).

    Exactness: gaps are exact integer day differences under the
    deterministic (o_orderdate, o_orderkey) per-customer order; the
    selection rank max(1, ⌊k(m+1)/4⌋) and the (gap, cust, ok)
    tie-break are total orders on exact integers.

    Scale shape (100 TB): one fact shuffle on o_custkey for the lag
    window (the sessionization class); then three partitioned
    histogram passes over the gap relation and ~m/1024 phase-2
    slices."""
    from ..operators.ranks import selected_ranks

    o = load_table(spark, sf_dir, "orders")
    g = (
        o.select(
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.col("o_orderdate").cast("date").alias("day"),
            F.col("o_orderkey").cast("bigint").alias("ok"),
        )
        .withColumn(
            "gap",
            F.datediff(
                F.col("day"),
                F.lag("day").over(
                    Window.partitionBy("cust").orderBy("day", "ok")
                ),
            ).cast("bigint"),
        )
        .filter(F.col("gap").isNotNull())
        .select("gap", "cust", "ok")
    )
    picked = selected_ranks(
        g,
        F.col("gap"),
        ["cust", "ok"],
        {
            "q1": "greatest(1, (1 * (__tp_m + 1)) div 4)",
            "q2": "greatest(1, (2 * (__tp_m + 1)) div 4)",
            "q3": "greatest(1, (3 * (__tp_m + 1)) div 4)",
        },
    )
    return picked.select(
        F.col("__tp_rank").alias("quartile"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(cast(substring(__tp_rank, 2, 1) as bigint)"
                   " * (__tp_m + 1)) div 4"),
        ).alias("sel_rank"),
        F.col("__tp_m").alias("n_gaps"),
        F.col("gap").alias("gap_days"),
    ).orderBy("quartile")

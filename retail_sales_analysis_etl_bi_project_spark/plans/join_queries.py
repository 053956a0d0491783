"""Driver-checkable queries for the composed join operators
(operators/joins.py): as-of join and grid-bucketed range join, both
with full DuckDB oracles (LATERAL top-1 replay / plain BETWEEN join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import fixed_point_sum, fixed_point_sum_sql
from ..operators.bloom import bloom_prefilter_join, build_bloom
from ..operators.joins import asof_join, interval_overlap_join, range_join_log
from ..sources.tables import load_table
from .registry import query
from .shared_cache import memo_artifact

# value bands over events.value: deliberately NON-uniform so the range
# join is a real interval join, not width_bucket. The top band's bound
# comfortably exceeds any observed value (max ~560 at sf0.1 and grows
# with scale factor) so the bands COVER the domain — a short top band
# would silently drop rows in both engines and the driver compare
# would never notice.
VALUE_BANDS = [
    ("micro", 0.0, 1.0),
    ("small", 1.0, 5.0),
    ("medium", 5.0, 20.0),
    ("large", 20.0, 100.0),
    ("huge", 100.0, 100000.0),
]


@query(
    "join_asof_last_purchase",
    oracle="""
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
    purchases AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
    FROM clicks c LEFT JOIN LATERAL (
      SELECT p.value FROM purchases p
      WHERE p.user_id = c.user_id AND p.ts <= c.ts
      ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
    ) p ON true
    ORDER BY c.event_id
    """,
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: every click event annotated with the
    user's most recent purchase value at or before the click — the
    feature-lookup / backtest primitive. One shuffle on user_id; the
    oracle replays it as a LATERAL top-1 per click."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        value_col="value",
        out_col="last_purchase_value",
        tiebreak="event_id",
    ).orderBy("event_id")


@query(
    "join_range_value_bands",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
      ('micro', 0.0, 1.0), ('small', 1.0, 5.0), ('medium', 5.0, 20.0),
      ('large', 20.0, 100.0), ('huge', 100.0, 100000.0))
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {fixed_point_sum_sql('value')} AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    ORDER BY 1
    """,
)
def join_range_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events bucketed into non-uniform value
    bands via the multi-resolution grid-cell equi-join composition
    (operators/joins.py range_join_log — each band's cells sized to its
    own width decade, so the [100, 100000) band costs ~10 cells, not
    5,000), then aggregated per band. The oracle is the naive BETWEEN
    join — same rows, any plan. value is a full-precision double, so
    the sum goes through fixed_point_sum (floor-to-micros — identical
    IEEE arithmetic in both engines) rather than a double->decimal cast
    whose last-ulp rounding can differ cross-engine."""
    events = load_table(spark, sf_dir, "events")
    bands = events.sparkSession.createDataFrame(
        VALUE_BANDS, "band string, lo double, hi double"
    )
    joined = range_join_log(
        events.select("event_id", "value"), bands, "value", "lo", "hi", base=10.0
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum("value").alias("total_value"),
        )
        .orderBy("band")
    )


@query(
    "join_bloom_prefilter_revenue",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {fixed_point_sum_sql('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    ORDER BY 1
    """,
)
def join_bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-prefiltered shuffle join (operators/bloom.py):
    orders for BUILDING-segment customers, revenue per order priority.

    The fact side is filtered by a 61,440-bit Bloom bitmap fitted on the
    dimension selection's keys BEFORE the sort-merge join's exchange —
    the explicit form of Spark's runtime row-level filtering, for the
    regime where the dim selection outgrows a broadcast but its bitmap
    does not. No false negatives by construction and the exact join
    drops the false positives, so the result is bit-identical to the
    plain join the DuckDB oracle runs."""
    orders = load_table(spark, sf_dir, "orders")
    building = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # fitting the bitmap is a (small) Spark job at plan-build time;
    # memoized per (app, sf_dir, input files) so bench repeats /
    # explain passes fit once — shared_cache.memo_artifact (released by
    # bench hygiene with the rest)
    words = memo_artifact(
        "bloom_building_custkeys",
        spark,
        sf_dir,
        lambda: build_bloom(building, "c_custkey"),
    )
    joined = bloom_prefilter_join(
        orders, building, "o_custkey", "c_custkey", words=words
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_point_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_SESSIONS_SQL = """
    deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM deltas
    ), sessions AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_lo,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1 AS s_hi
      FROM sess GROUP BY user_id, session_id
    ), hourly AS (
      SELECT date_trunc('hour', ts) AS w_start, COUNT(*) AS n_events
      FROM events GROUP BY 1
    ), busy AS (
      SELECT w_start, n_events,
             CAST(epoch(w_start) AS BIGINT) AS w_lo,
             CAST(epoch(w_start) AS BIGINT) + 3600 AS w_hi
      FROM hourly WHERE n_events > (SELECT AVG(n_events) FROM hourly)
    )
"""


@query(
    "join_interval_overlap_busy_windows",
    oracle=f"""
    WITH {_SESSIONS_SQL}
    SELECT b.w_start,
           CAST(b.n_events AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM sessions s JOIN busy b ON s.s_lo < b.w_hi AND b.w_lo < s.s_hi
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def join_interval_overlap_busy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/joins.py
    interval_overlap_join): user sessions overlapped against
    above-average-traffic hours — per busy hour, how many sessions were
    in flight and how many distinct users they cover.

    Both interval sets are DERIVED at fact scale (sessions from the
    30-min-gap sessionizer, busy windows from the hourly load profile
    vs its mean), so neither side is a broadcastable literal dim — the
    grid-cell equi-join is what keeps this off a nested loop. Sessions
    are closed [start, end]; integer-epoch half-open [start, end+1)
    encodes that exactly. The oracle replays the whole pipeline with
    the naive BETWEEN overlap join."""
    from .events_queries import events_sessionization

    sessions = (
        events_sessionization(spark, sf_dir)
        .select(
            "user_id",
            F.unix_timestamp("session_start").alias("s_lo"),
            (F.unix_timestamp("session_end") + 1).alias("s_hi"),
        )
    )
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("w_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    mean = hourly.agg(F.avg("n_events").alias("_mean"))
    busy = (
        hourly.join(F.broadcast(mean))
        .filter(F.col("n_events") > F.col("_mean"))
        .select(
            "w_start",
            "n_events",
            F.unix_timestamp("w_start").alias("w_lo"),
            (F.unix_timestamp("w_start") + 3600).alias("w_hi"),
        )
    )
    overlaps = interval_overlap_join(
        sessions, busy, "s_lo", "s_hi", "w_lo", "w_hi", grid=3600.0
    )
    return (
        overlaps.groupBy("w_start", "n_events")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("w_start")
    )

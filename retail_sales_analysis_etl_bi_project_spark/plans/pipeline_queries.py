"""Round-6 pipeline queries, registered after extension_queries.

Contents — the curation / audit surface a training-data pipeline needs
beyond the round-1-5 families, plus two classic BI analyses the
reference's dashboard genre implies but its four queries stop short of:

- dedup_substring_spans   : per-doc duplicated 8-gram span fraction
                            (ExactSubstr signal, relational form)
- corpus_stratified_sample: deterministic exact-fraction stratified
                            sample preserving the lang x source mix
- embed_label_centroids   : per-label centroid norm / mean norm audit
                            (distributed column-wise vector agg)
- events_retention_cohorts: first-seen cohort x day-offset retention
- bi_rfm_segmentation     : RFM quartile segmentation over orders
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import pack_sequences_sharded, stratified_sample
from ..operators.dedup import duplicated_span_stats
from ..operators.similarity import label_centroid_stats
from ..operators.text import token_count_expr
from ..sources.tables import load_table
from .registry import query
from .text_queries import _SQL_NTOK, _SQL_TOKS
from .dedup_queries import _hex60


# NULL-safe token twin for the span oracle: Spark's concat_ws turns the
# NULL token array of a NULL-text doc into '' (one md5('') span), so the
# oracle must coalesce to an empty list — md5(array_to_string(NULL,' '))
# would be NULL, fail the JOIN, and silently drop the document.
_SQL_TOKS_NULLSAFE = (
    "CASE WHEN text IS NULL OR length(trim(text)) = 0 "
    "THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS_NULLSAFE} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t)-7,1)),
                    i -> md5(coalesce(array_to_string(t[i:i+7], ' '), '')))) AS gh
      FROM toks),
    df AS (SELECT gh, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           ROUND(CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM grams JOIN df USING (gh)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span fraction per document (operators.dedup.
    duplicated_span_stats): the Lee-et-al ExactSubstr signal as a
    relational plan — positional 8-gram md5 hashes, doc-frequency
    groupBy, hash-co-partitioned join back, per-doc rollup. The text
    never shuffles; cost is linear in corpus tokens. Note the DuckDB
    slice t[i:i+7] is INCLUSIVE (8 tokens) = Spark F.slice(toks, i, 8)."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, n=8)


@query(
    "corpus_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                 ORDER BY {_hex60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS n_stratum
      FROM documents)
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn,
           CAST(n_stratum AS BIGINT) AS n_stratum
    FROM ranked WHERE rn <= CAST(ceil(CAST(0.1 AS DOUBLE) * n_stratum) AS BIGINT)
    ORDER BY lang, source, rn
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction (10%) stratified sample preserving the
    lang x source mix (operators.curation.stratified_sample):
    hash60-ranked row_number per stratum against a ceil(frac*n)
    threshold — deterministic in both engines, no RNG streams."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, frac=0.1)


@query(
    "embed_label_centroids",
    oracle="""
    WITH comp AS (
      SELECT label, unnest(generate_series(0, len(embedding)-1)) AS pos,
             unnest(embedding) AS x
      FROM embeddings),
    sums AS (
      SELECT label, pos,
             SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,15))) AS s,
             COUNT(*) AS n
      FROM comp GROUP BY 1,2),
    cent AS (SELECT label, pos, CAST(s AS DOUBLE)/n AS c FROM sums),
    nrm AS (SELECT label, SUM(CAST(c*c AS DECIMAL(27,15))) AS nsq
            FROM cent GROUP BY 1),
    per_row AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                 CAST(embedding AS DOUBLE[])))
                           AS DECIMAL(27,15))) AS DOUBLE) AS sum_norm
      FROM embeddings GROUP BY 1)
    SELECT r.label, r.n_vecs,
           ROUND(sqrt(CAST(n.nsq AS DOUBLE)), 9) AS centroid_norm,
           ROUND(r.sum_norm / r.n_vecs, 9) AS mean_norm
    FROM per_row r JOIN nrm n ON r.label = n.label
    ORDER BY r.label
    """,
)
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid/norm audit (operators.similarity.
    label_centroid_stats): posexplode to fixed-width (label, pos, x)
    rows, decimal-exact partial+final sums, IEEE-only float tail.
    DuckDB zips the two parallel unnests positionally; its 0-based
    generate_series matches Spark posexplode's 0-based pos."""
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_stats(emb)


@query(
    "events_retention_cohorts",
    oracle="""
    WITH ue AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    coh AS (SELECT user_id, MIN(d) AS cohort_date FROM ue GROUP BY 1)
    SELECT cohort_date,
           CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ue JOIN coh USING (user_id)
    GROUP BY 1,2 ORDER BY 1,2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-active date,
    counted per (cohort, day offset). The (user, day) distinct runs
    first so the cohort join and the final count move one fixed-width
    row per active user-day, not per event; the cohort side (one row
    per user) is orders of magnitude below the event stream, so AQE
    broadcasts it. COUNT(*) over the distinct set replaces
    COUNT(DISTINCT user) downstream — cheaper and identical. ts
    instants are the normalized micros from sources.tables (UTC
    session => DuckDB-equal dates)."""
    events = load_table(spark, sf_dir, "events")
    ue = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    coh = ue.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        ue.join(coh, "user_id")
        .groupBy("cohort_date", F.datediff("d", "cohort_date").cast("bigint").alias("day_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_date", "day_offset")
    )


@query(
    "bi_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             max(CAST(o_orderdate AS DATE)) AS last_order,
             count(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
      FROM orders GROUP BY 1),
    scored AS (
      SELECT *,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM cust)
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) AS segment_revenue
    FROM scored GROUP BY 1,2,3 ORDER BY 1,2,3
    """,
)
def bi_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic recency/frequency/
    monetary quartile scoring behind retail dashboard segment tiles
    (the reference's q4 buckets on a static balance; RFM derives the
    buckets from behavior). Monetary sums are decimal-exact; quartiles
    are ntile(4) with an id tie-break so both engines cut identically.

    Scale note: the input to the windows is the CUSTOMER-grain
    aggregate — fact-table-compressed by orders of magnitude — but
    ntile over an unpartitioned window is still a single-task global
    sort. At 100 TB (≈10^8 customers, 3 ints each — low GBs) that task
    is heavy but feasible; beyond it, swap ntile for bucketing against
    broadcast exact-quartile boundaries (two scans, fully parallel) at
    the cost of ntile's equal-count tie-splitting — documented in
    SCALE.md §window discipline."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("monetary"),
    )
    scored = cust.select(
        "*",
        F.ntile(4)
        .over(Window.orderBy(F.desc("last_order"), "o_custkey"))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), "o_custkey"))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,4)"))
            .cast("double")
            .alias("segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_PACK_BUDGET_SHARDED = 512
_PACK_BLOCK = 64


@query(
    "corpus_pack_sharded",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source, CAST({_SQL_NTOK} AS BIGINT) AS n_tokens
      FROM documents WHERE CAST({_SQL_NTOK} AS BIGINT) > 0),
    cum_t AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM kept),
    spans AS (
      SELECT source, doc_id, n_tokens, cum, cum - n_tokens AS strt,
             unnest(generate_series(
               CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET_SHARDED}) AS BIGINT),
               CAST(FLOOR((cum - 1) / {_PACK_BUDGET_SHARDED}) AS BIGINT))) AS seq_id
      FROM cum_t)
    SELECT source, seq_id, doc_id, n_tokens,
           CAST(GREATEST(strt, seq_id * {_PACK_BUDGET_SHARDED})
                - seq_id * {_PACK_BUDGET_SHARDED} AS BIGINT) AS tok_lo,
           CAST(LEAST(cum, (seq_id + 1) * {_PACK_BUDGET_SHARDED})
                - seq_id * {_PACK_BUDGET_SHARDED} AS BIGINT) AS tok_hi
    FROM spans
    ORDER BY source, seq_id, doc_id
    """,
)
def corpus_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase sub-sharded sequence packing (operators.curation.
    pack_sequences_sharded) — the bounded-window-partition 100 TB form
    of pack_sequences. The DuckDB oracle deliberately replays the
    ONE-WINDOW spec: the distributed prefix-sum decomposition must be
    row-identical to the simple form (the winnowing discipline — scale
    plan hash-pinned against the spec plan). block_size=64 forces ~8
    blocks per source at test scale so the offset join genuinely
    exercises multi-block streams."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_expr("text").alias("n_tokens")
    )
    return pack_sequences_sharded(
        docs,
        token_col="n_tokens",
        budget=_PACK_BUDGET_SHARDED,
        shard_col="source",
        id_col="doc_id",
        block_size=_PACK_BLOCK,
    ).orderBy("source", "seq_id", "doc_id")


_FUNNEL_SQL_STAGES = """
    WITH stage1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view,
             MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_date
      FROM events),
    stage2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t_view
                          AND ts <= t_view + INTERVAL 24 HOUR THEN ts END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM stage1),
    stage3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                          AND ts <= t_click + INTERVAL 24 HOUR THEN ts END)
                  OVER (PARTITION BY user_id) AS t_purchase
      FROM stage2),
    per_user AS (
      SELECT user_id, MIN(cohort_date) AS cohort_date, MIN(t_view) AS t_view,
             MIN(t_click) AS t_click, MIN(t_purchase) AS t_purchase
      FROM stage3 GROUP BY user_id)
"""


@query(
    "events_funnel_conversion",
    oracle=f"""
    {_FUNNEL_SQL_STAGES}
    SELECT cohort_date,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
           CAST(COUNT(t_click) AS BIGINT) AS n_clicked,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchased,
           ROUND(CAST(COUNT(t_purchase) AS DOUBLE) / COUNT(*), 6) AS purchase_rate
    FROM per_user GROUP BY 1 ORDER BY 1
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion per first-seen cohort: first view ->
    first click within 24h of it -> first purchase within 24h of that
    click (deadlines make the funnel discriminating — without them a
    month of dense events converts every user). The sibling of
    events_retention_cohorts on the engagement axis; together they are
    the two standard event-analytics dashboards.

    Scale shape: the three stage timestamps are whole-partition window
    MINs over the SAME user_id partitioning — one shuffle, no sort
    (unordered frames), and the chained selects reuse the partitioning.
    The per-user collapse and final cohort rollup are partial-aggregated
    groupBys; nothing driver-side. Deadline comparisons are exact
    timestamp+interval micros in both engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    day = F.expr("INTERVAL 24 HOURS")
    s1 = events.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w).alias("t_view"),
        F.min(F.col("ts").cast("date")).over(w).alias("cohort_date"),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("t_view"))
                & (F.col("ts") <= F.col("t_view") + day),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t_click"))
                & (F.col("ts") <= F.col("t_click") + day),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.min("cohort_date").alias("cohort_date"),
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return (
        per_user.groupBy("cohort_date")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.count("t_view").cast("bigint").alias("n_viewed"),
            F.count("t_click").cast("bigint").alias("n_clicked"),
            F.count("t_purchase").cast("bigint").alias("n_purchased"),
            F.round(
                F.count("t_purchase").cast("double") / F.count(F.lit(1)), 6
            ).alias("purchase_rate"),
        )
        .orderBy("cohort_date")
    )

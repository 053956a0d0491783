"""Round-6 data-lifecycle queries, registered after pipeline_queries.

Contents — the stages of a corpus/warehouse lifecycle the earlier
families stop short of:

- corpus_chunk_documents : overlapping token-window chunking (RAG /
                           pretraining context splitter)
- text_pii_scrub         : email/IPv4/phone detection + redaction audit
- etl_snapshot_cdc_diff  : row-level insert/update/delete derivation
                           between two table snapshots
- embed_quantize_int8    : symmetric int8 embedding quantization with
                           per-label reconstruction-error stats
- layout_zorder_events   : Morton-key file-layout audit (two-dim
                           min/max pruning quality as numbers)
- agg_numeric_histograms : equi-width distribution profiles for the
                           validation report
- text_quality_classifier: model-based quality filter (linear weights
                           artifact + algebraic sigmoid, r6c)
- bi_daily_revenue_gapfill: dense calendar series + trailing moving
                           average over date-grain aggregates (r6c)
- bi_active_customer_churn_jaccard: month-over-month Jaccard of the
                           active-customer set — the batch twin of the
                           streaming/churn.py maintainer, which shares
                           active_month_pairs and churn_jaccard_readout
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import snapshot_diff
from ..operators.curation import chunk_documents
from ..operators.partitioning import zorder_layout_audit
from ..operators.report import numeric_histogram
from ..operators.similarity import quantize_int8_stats
from ..operators.text import (
    PII_EMAIL_REGEX,
    PII_IPV4_REGEX,
    PII_PHONE_REGEX,
    pii_scrub,
)
from ..sources.tables import load_table
from .pipeline_queries import _SQL_TOKS_NULLSAFE
from .registry import query

_CHUNK, _STRIDE = 64, 48


@query(
    "corpus_chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS_NULLSAFE} AS t FROM documents),
    sized AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
              FROM toks WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id, t, n,
             unnest(generate_series(
               0, (greatest(n - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE}
             )) AS chunk_id
      FROM sized)
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {_STRIDE} AS BIGINT) AS tok_lo,
           CAST(least(chunk_id * {_STRIDE} + {_CHUNK}, n) AS BIGINT) AS tok_hi,
           CAST(least(chunk_id * {_STRIDE} + {_CHUNK}, n)
                - chunk_id * {_STRIDE} AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
             t[chunk_id * {_STRIDE} + 1 : least(chunk_id * {_STRIDE} + {_CHUNK}, n)],
             ' ')) AS chunk_hash
    FROM chunks ORDER BY doc_id, chunk_id
    """,
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (operators.curation.chunk_documents):
    64-token windows at stride 48 — every token covered, 16 tokens of
    shared context between neighbors, chunk_hash = md5 of the chunk
    text for downstream chunk-level dedup. Embarrassingly parallel:
    tokens materialize once per doc, chunks explode per row, no
    shuffle. The DuckDB twin's inclusive slice t[lo+1 : hi] equals
    Spark's slice(toks, lo+1, hi-lo)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_size=_CHUNK, stride=_STRIDE
    ).orderBy("doc_id", "chunk_id")


# Deterministic PII enrichment shared by both engines: the synthetic
# corpus has no organic emails/IPs/phones, so every third document gets
# an identically-constructed contact line appended before the scrub —
# the operator is exercised against non-trivial counts while both
# engines see byte-identical input text.
_PII_TAIL_SQL = (
    "concat(coalesce(text, ''), ' contact user', CAST(doc_id AS VARCHAR),"
    " '@mail.example.com from 10.', CAST(doc_id % 200 AS VARCHAR),"
    " '.0.1 call +1415555', lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0'))"
)


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN {_PII_TAIL_SQL} ELSE text END AS txt
      FROM documents),
    staged AS (
      SELECT doc_id, txt,
             regexp_replace(txt, '{PII_EMAIL_REGEX}', '<EMAIL>', 'g') AS t1
      FROM enriched),
    staged2 AS (
      SELECT *, regexp_replace(t1, '{PII_IPV4_REGEX}', '<IP>', 'g') AS t2
      FROM staged),
    scrubbed AS (
      SELECT *, regexp_replace(t2, '{PII_PHONE_REGEX}', '<PHONE>', 'g') AS red
      FROM staged2)
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{PII_EMAIL_REGEX}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t1, '{PII_IPV4_REGEX}')) AS BIGINT)
             AS n_ipv4,
           CAST(len(regexp_extract_all(t2, '{PII_PHONE_REGEX}')) AS BIGINT)
             AS n_phones,
           CAST(length(txt) AS BIGINT) AS n_chars_before,
           CAST(length(red) AS BIGINT) AS n_chars_after,
           md5(red) AS redacted_hash
    FROM scrubbed ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (operators.text.pii_scrub): email -> IPv4 ->
    phone redaction with per-doc counts and a redacted-text md5; each
    count runs on the same intermediate its replacement runs on, so
    counts always equal tags inserted.
    Patterns are the Java-regex/RE2 common subset (ASCII classes,
    bounded repeats, \\b); DuckDB regexp_replace needs the explicit
    'g' flag to match Spark's replace-all semantics. NULL text (no
    enrichment) flows to NULL counts/hash in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tail = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.1 call +1415555"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 4, "0"),
    )
    enriched = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, tail).otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(enriched).orderBy("doc_id")


_CDC_DIGEST_SQL = (
    "md5(concat_ws(chr(31), coalesce(CAST({price} AS VARCHAR), chr(30)),"
    " coalesce(o_orderstatus, chr(30))))"
)


@query(
    "etl_snapshot_cdc_diff",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             o_orderstatus
      FROM orders),
    old_snap AS (
      SELECT o_orderkey, {_CDC_DIGEST_SQL.format(price="price")} AS old_digest
      FROM base WHERE o_orderkey % 97 != 0),
    new_snap AS (
      SELECT o_orderkey,
             {_CDC_DIGEST_SQL.format(
                 price="CASE WHEN o_orderkey % 7 = 0 THEN price + 1 ELSE price END"
             )} AS new_digest
      FROM base WHERE o_orderkey % 89 != 3)
    SELECT o_orderkey,
           CASE WHEN old_digest IS NULL THEN 'insert'
                WHEN new_digest IS NULL THEN 'delete'
                WHEN old_digest != new_digest THEN 'update' END AS change_type,
           old_digest, new_digest
    FROM old_snap FULL OUTER JOIN new_snap USING (o_orderkey)
    WHERE old_digest IS NULL OR new_digest IS NULL OR old_digest != new_digest
    ORDER BY o_orderkey
    """,
)
def etl_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC (operators.cdc.snapshot_diff) over two
    deterministically-derived versions of orders: v_old drops keys
    % 97 == 0, v_new drops % 89 == 3 and bumps price by 1 where
    % 7 == 0 — yielding all three change classes. Prices ride as
    DECIMAL(18,2) so the digest strings are format-identical across
    engines (raw doubles would diverge on CAST-to-string)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderstatus",
    )
    old_snap = base.filter(F.col("o_orderkey") % 97 != 0)
    new_snap = base.filter(F.col("o_orderkey") % 89 != 3).withColumn(
        "price",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("price") + 1).otherwise(
            F.col("price")
        ),
    )
    return snapshot_diff(
        old_snap, new_snap, ["o_orderkey"], ["price", "o_orderstatus"]
    ).orderBy("o_orderkey")


@query(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    scaled AS (
      SELECT label, x,
             list_max(list_transform(x, a -> abs(a))) / 127.0 AS scale
      FROM v),
    errs AS (
      SELECT label, scale, CAST(len(x) AS BIGINT) AS dim,
             CASE WHEN scale > 0
                  THEN list_transform(x, a -> a - floor(a / scale + 0.5) * scale)
                  ELSE x END AS e
      FROM scaled),
    per_vec AS (
      SELECT label, scale, dim,
             list_dot_product(e, e) AS sse,
             list_max(list_transform(e, a -> abs(a))) AS mae
      FROM errs)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(scale AS DECIMAL(27,15))) AS DOUBLE) / count(*),
                 12) AS avg_scale,
           ROUND(CAST(SUM(CAST(sse AS DECIMAL(27,15))) AS DOUBLE) / SUM(dim),
                 12) AS mse,
           ROUND(MAX(mae), 12) AS max_abs_err
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit (operators.similarity.
    quantize_int8_stats): per-vector symmetric scale max|x|/127,
    round-half-up codes, per-label reconstruction MSE / max-abs error.
    Per-vector squared error is dot(err, err) — the sequential fold
    DuckDB's list_dot_product reproduces bit-for-bit; cross-row sums
    ride decimal(27,15)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8_stats(emb)


_Z_BITS, _Z_CELLS = 8, 64
_Z_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@query(
    "layout_zorder_events",
    oracle=f"""
    WITH xy AS (
      SELECT ((user_id % 256) + 256) % 256 AS x,
             ((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 256)
              + 256) % 256 AS y
      FROM events),
    z AS (SELECT x, y, ({_Z_SQL}) // {_Z_CELLS} AS file_id FROM xy)
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS x_lo, CAST(max(x) AS BIGINT) AS x_hi,
           CAST(min(y) AS BIGINT) AS y_lo, CAST(max(y) AS BIGINT) AS y_hi
    FROM z GROUP BY file_id ORDER BY file_id
    """,
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit (operators.partitioning.zorder_key_expr /
    zorder_layout_audit) over events bucketed by (user_id mod 256,
    day-index mod 256): every 64-Z-cell 'file' reports its (x, y)
    bounding box — both spans land near 8x8 (sqrt(64)) instead of one
    dimension spanning 0..255, which is the measured min/max-pruning
    win of Morton layout. Bucketing uses the explicit
    ((v % m) + m) % m non-negative mod so Spark's pmod and DuckDB's
    %-semantics cannot diverge on negative day indexes."""
    events = load_table(spark, sf_dir, "events")
    nonneg = lambda c, m: ((c % m) + m) % m  # noqa: E731
    xy = events.select(
        nonneg(F.col("user_id"), F.lit(256)).alias("x"),
        nonneg(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")),
            F.lit(256),
        ).alias("y"),
    )
    return zorder_layout_audit(xy, "x", "y", bits=_Z_BITS, cells_per_file=_Z_CELLS)


_HIST_SPECS = (
    # (label, table, column, lo, hi, n_buckets)
    ("o_totalprice", "orders", "o_totalprice", 0.0, 500_000.0, 25),
    ("l_quantity", "lineitem", "l_quantity", 0.0, 50.0, 25),
)


def _hist_sql(label: str, table: str, col: str, lo: float, hi: float, nb: int) -> str:
    w = (hi - lo) / nb
    return f"""
    SELECT '{label}' AS col_name, bucket,
           {lo} + bucket * {w} AS bucket_lo,
           {lo} + (bucket + 1) * {w} AS bucket_hi,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(CAST(count(*) AS DOUBLE) / SUM(count(*)) OVER (
             PARTITION BY 1), 9) AS frac
    FROM (
      SELECT least(greatest(CAST(floor((CAST({col} AS DOUBLE) - {lo}) / {w})
                                 AS BIGINT), 0), {nb - 1}) AS bucket
      FROM {table} WHERE {col} IS NOT NULL)
    GROUP BY bucket"""


@query(
    "agg_numeric_histograms",
    oracle=" UNION ALL ".join(
        f"({_hist_sql(*spec)})" for spec in _HIST_SPECS
    )
    + " ORDER BY col_name, bucket",
)
def agg_numeric_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profiles (operators.report.numeric_histogram) for
    the validation report: equi-width histograms of o_totalprice and
    l_quantity with clamped edge buckets (fat edges = stale range
    config = outliers). Each histogram is one partial-aggregated
    groupBy fused into its scan; frac is the empty-frame-window share
    over the n_buckets-row aggregate."""
    parts = []
    for label, table, col, lo, hi, nb in _HIST_SPECS:
        df = load_table(spark, sf_dir, table)
        parts.append(
            numeric_histogram(df, col, lo, hi, nb).select(
                F.lit(label).alias("col_name"), "*"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name", "bucket")


# ------------------------------------------------------------------ r6c
# quality-classifier filter + calendar gap-fill (registered after the
# first lifecycle batch).

from ..operators.text import QUALITY_CLF_WEIGHTS, quality_classifier  # noqa: E402
from ..operators.timeseries import calendar_gapfill  # noqa: E402
from .text_queries import _SQL_NPUNCT, _SQL_NSTOP, _SQL_NTOK  # noqa: E402

_SQL_NDIGIT = "len(regexp_extract_all(text, '[0-9]'))"


def _clf_z_sql() -> str:
    w = QUALITY_CLF_WEIGHTS
    ntok = f"CAST({_SQL_NTOK} AS DOUBLE)"
    nchars = "CAST(length(text) AS DOUBLE)"
    sr = f"CASE WHEN {ntok} > 0 THEN CAST({_SQL_NSTOP} AS DOUBLE) / {ntok} ELSE 0.0 END"
    pr = f"CASE WHEN {nchars} > 0 THEN CAST({_SQL_NPUNCT} AS DOUBLE) / {nchars} ELSE 0.0 END"
    dr = f"CASE WHEN {nchars} > 0 THEN CAST({_SQL_NDIGIT} AS DOUBLE) / {nchars} ELSE 0.0 END"
    mw = f"CASE WHEN {ntok} > 0 THEN {nchars} / {ntok} ELSE 0.0 END"
    # same left-associated order as the Spark expression
    return (
        f"{w['bias']} + {w['stop_ratio']} * ({sr})"
        f" + {w['punct_ratio']} * ({pr})"
        f" + {w['digit_ratio']} * ({dr})"
        f" + {w['wlen_dev']} * abs(({mw}) - 5.0)"
    )


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH z AS (SELECT doc_id, ({_clf_z_sql()}) AS zv FROM documents),
    s AS (SELECT doc_id, (zv / (1.0 + abs(zv)) + 1.0) * 0.5 AS score FROM z)
    SELECT doc_id, ROUND(score, 9) AS quality_score, score >= 0.5 AS kept
    FROM s ORDER BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (operators.text.quality_classifier):
    linear model over stopword/punct/digit ratios and word-length
    deviation, squashed with the ALGEBRAIC sigmoid z/(1+|z|) (exp()'s
    last-ulp varies across libms; divide/abs are IEEE-exact), giving a
    hash-verifiable score and keep decision per document."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier(docs).orderBy("doc_id")


@query(
    "bi_daily_revenue_gapfill",
    oracle="""
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
      SELECT cal.day, coalesce(rev, CAST(0 AS DECIMAL(18,4))) AS v,
             rev IS NULL AS is_gap
      FROM cal LEFT JOIN daily USING (day))
    SELECT day, CAST(v AS DOUBLE) AS revenue, is_gap,
           CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7
    FROM dense
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def bi_daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily-revenue series (operators.timeseries.
    calendar_gapfill): missing calendar days filled with 0 and flagged,
    7-day trailing moving average over the dense series. The fact table
    collapses to date grain FIRST (partial-aggregated), so the explode,
    fill join, and ordered window all run over day-count-sized data."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("revenue"))
    return calendar_gapfill(daily, "day", "revenue", ma_days=7)


# ------------------------------------------------------------------ r6d
# SCD2 point-in-time attribution + declarative expectations suite.

from ..functions.money import revenue_expr  # noqa: E402
from ..operators.dims import scd2_history, scd2_point_in_time_join  # noqa: E402
from ..operators.report import expectations_report  # noqa: E402
from .bi import REVENUE_SQL  # noqa: E402

_SCD2_HIST_SQL = """
    ordered AS (
      SELECT o_custkey, o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             o_orderkey,
             (LAG(1) OVER w IS NULL
              OR o_orderpriority IS DISTINCT FROM LAG(o_orderpriority) OVER w)
               AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey)),
    hist AS (
      SELECT o_custkey, o_orderpriority AS regime_priority, d AS valid_from,
             LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
               AS valid_to
      FROM ordered WHERE chg)
"""


@query(
    "join_scd2_pit_attribution",
    oracle=f"""
    WITH {_SCD2_HIST_SQL},
    facts AS (
      SELECT o.o_custkey, o.o_orderpriority AS order_priority,
             CAST(l.l_shipdate AS DATE) AS ship_d,
             {REVENUE_SQL} AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT order_priority, regime_priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM facts f JOIN hist h ON f.o_custkey = h.o_custkey
      AND f.ship_d >= h.valid_from
      AND (h.valid_to IS NULL OR f.ship_d < h.valid_to)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def join_scd2_pit_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the type-2 history
    (operators.dims.scd2_point_in_time_join): each line item's shipment
    is attributed to the customer's priority REGIME in effect on the
    ship date — off-diagonal cells (order placed under one regime,
    shipped under another) are exactly what PIT semantics exist to get
    right and what an as-of join against raw events would misattribute.
    Equi-join on the key with interval containment as a post-join
    filter; version fanout per key is bounded by regime CHANGES."""
    orders = load_table(spark, sf_dir, "orders")
    # fact at cluster width before the join + decimal revenue + PIT
    # interval fanout (r16, guide §2.2/§2.5 — see plans/bi.py q02):
    # the whole big side ran serially at input-file granularity
    # through both broadcast joins and the containment filter.
    # Aggregates are an exact-decimal sum and a count — partitioning-
    # independent.
    from ..sources.tables import load_fact_wide

    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    o = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    hist = scd2_history(
        o, key="o_custkey", ts="d", attrs=["o_orderpriority"], tiebreak="o_orderkey"
    ).withColumnRenamed("o_orderpriority", "regime_priority")
    facts = lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderpriority"),
        lineitem.l_orderkey == orders.o_orderkey,
    ).select(
        "o_custkey",
        F.col("o_orderpriority").alias("order_priority"),
        F.to_date("l_shipdate").alias("ship_d"),
        revenue_expr().alias("rev"),
    )
    pit = scd2_point_in_time_join(facts, hist, "o_custkey", "ship_d")
    return (
        pit.groupBy("order_priority", "regime_priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("order_priority", "regime_priority")
    )


_EXPECTATION_RULES = [
    {"kind": "not_null", "table": "orders", "column": "o_custkey"},
    {"kind": "not_null", "table": "lineitem", "column": "l_shipdate"},
    {"kind": "unique", "table": "orders", "column": "o_orderkey"},
    {"kind": "range", "table": "lineitem", "column": "l_quantity",
     "lo": 1, "hi": 50},
    {"kind": "range", "table": "orders", "column": "o_totalprice",
     "lo": 0, "hi": 1_000_000},
    {"kind": "ref", "table": "lineitem", "column": "l_orderkey",
     "ref_table": "orders", "ref_column": "o_orderkey"},
]


@query(
    "etl_expectations_report",
    oracle="""
    SELECT * FROM (
      SELECT 'not_null:orders.o_custkey' AS rule,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
      FROM orders
      UNION ALL
      SELECT 'not_null:lineitem.l_shipdate',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'unique:orders.o_orderkey',
             CAST(count(*) AS BIGINT),
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'range:lineitem.l_quantity',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_quantity IS NOT NULL
                            AND (l_quantity < 1 OR l_quantity > 50)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'range:orders.o_totalprice',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 1000000)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'ref:lineitem.l_orderkey->orders.o_orderkey',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_orderkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT)
    ) ORDER BY rule
    """,
)
def etl_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators.report.
    expectations_report): not_null / unique / range / referential rules
    evaluated distributed, one row per rule — the dbt-test genre over
    the reference's audit surface (supersedes the ad-hoc quality audit:
    its null-cell and FK checks are the not_null and ref rules here)."""
    tables = {
        "orders": load_table(spark, sf_dir, "orders"),
        "lineitem": load_table(spark, sf_dir, "lineitem"),
    }
    return expectations_report(tables, _EXPECTATION_RULES)


# ------------------------------------------------------------------ r6e
# dup-graph analytics readout over the shared CC machinery.

from .dedup_queries import _cc_oracle, shared_cluster_assignments  # noqa: E402


@query(
    "dedup_graph_stats",
    oracle=f"""
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_cc_oracle()}) cc
    GROUP BY 1 ORDER BY 1
    """,
)
def dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup graph — the readout a
    dedup run is judged by ('how much corpus mass sits in how-big dup
    clusters', the decision input for representative-keeping vs
    dropping): sizes from the SAME persisted cluster-assignments stage
    as dedup_cluster_components (pairs + CC each computed once per
    session, CC rounds bounded by diameter), then a tiny
    groupBy(size). Hash-verified through the full chain: shingles ->
    MinHash -> bands -> verify -> transitive closure -> histogram."""
    cc = shared_cluster_assignments(spark, sf_dir)
    return (
        cc.groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
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

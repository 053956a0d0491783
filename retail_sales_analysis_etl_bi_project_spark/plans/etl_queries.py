"""Driver-checkable queries for the ETL/dimensional operators
(SURVEY.md §2.1-§2.3, §2.6): each operator from operators/dims.py and
functions/cleaning.py exercised on the driver star schema with a DuckDB
oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import trim_cols
from ..operators.dims import (
    assemble_fact,
    build_dim_date,
    null_audit,
    upsert_new_rows,
    with_surrogate_key,
)
from ..sources.tables import load_table
from .registry import query


@query(
    "etl_dim_date_build",
    oracle="""
    SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
           d AS calendar_date,
           CAST(day(d) AS INTEGER) AS day,
           CAST(month(d) AS INTEGER) AS month,
           CAST(year(d) AS INTEGER) AS year,
           CAST(quarter(d) AS INTEGER) AS quarter,
           CAST(isodow(d) AS INTEGER) AS weekday
    FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
)
def etl_dim_date_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_dim_date (etl/etl.py:109-122): distinct days of o_orderdate
    with YYYYMMDD date_key and ISO weekday (1=Monday — etl.py:118)."""
    orders = load_table(spark, sf_dir, "orders")
    return build_dim_date(orders, "o_orderdate")


@query(
    "etl_surrogate_keys_customer",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key,
           c_custkey, TRIM(c_name) AS c_name, c_mktsegment
    FROM customer
    """,
)
def etl_surrogate_keys_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key assignment replacing Oracle sequences (J7,
    sql/ddl_oracle.sql:18-22): dense 1..N over the natural key; plus the
    P10 trim cleaning rule (etl/etl.py:64-65)."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    customer = trim_cols(customer, "c_name")
    return with_surrogate_key(customer, "c_custkey", "customer_key")


@query(
    "etl_fact_assembly",
    oracle="""
    WITH dc AS (SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_key FROM customer),
         dp AS (SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_partkey) AS part_key FROM part),
         ds AS (SELECT s_suppkey, ROW_NUMBER() OVER (ORDER BY s_suppkey) AS supplier_key FROM supplier)
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_custkey, l.l_partkey, l.l_suppkey,
           CAST(dc.customer_key AS BIGINT) AS customer_key,
           CAST(dp.part_key AS BIGINT) AS part_key,
           CAST(ds.supplier_key AS BIGINT) AS supplier_key,
           CAST(strftime(o.o_orderdate, '%Y%m%d') AS INTEGER) AS date_key,
           CAST(l.l_quantity AS BIGINT) AS quantity,
           CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))
                AS DOUBLE) AS total_amount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN dc ON o.o_custkey = dc.c_custkey
    LEFT JOIN dp ON l.l_partkey = dp.p_partkey
    LEFT JOIN ds ON l.l_suppkey = ds.s_suppkey
    """,
)
def etl_fact_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact assembly (J1, etl/etl.py:266-295): broadcast surrogate-key
    lookups against three dims + derived date_key + exact-decimal
    total_amount; natural keys retained alongside surrogates (SURVEY
    §1.4)."""
    from ..functions.dates import date_key
    from ..functions.money import revenue_expr

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    dim_c = with_surrogate_key(customer.select("c_custkey"), "c_custkey", "customer_key")
    dim_p = with_surrogate_key(part.select("p_partkey"), "p_partkey", "part_key")
    dim_s = with_surrogate_key(supplier.select("s_suppkey"), "s_suppkey", "supplier_key")

    fact = lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    )
    fact = assemble_fact(
        fact.withColumnRenamed("o_custkey", "c_custkey")
        .withColumnRenamed("l_partkey", "p_partkey")
        .withColumnRenamed("l_suppkey", "s_suppkey"),
        [
            (dim_c, "c_custkey", "customer_key"),
            (dim_p, "p_partkey", "part_key"),
            (dim_s, "s_suppkey", "supplier_key"),
        ],
    )
    return fact.select(
        "l_orderkey",
        "l_linenumber",
        F.col("c_custkey").alias("o_custkey"),
        F.col("p_partkey").alias("l_partkey"),
        F.col("s_suppkey").alias("l_suppkey"),
        "customer_key",
        "part_key",
        "supplier_key",
        date_key("o_orderdate").alias("date_key"),
        F.col("l_quantity").cast("bigint").alias("quantity"),
        revenue_expr().cast("double").alias("total_amount"),
    )


@query(
    "etl_upsert_dim_date",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_key
      FROM orders WHERE year(o_orderdate) < 1997
    ), staging AS (
      SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_key
      FROM orders
    )
    SELECT date_key FROM existing
    UNION ALL
    SELECT date_key FROM staging
    WHERE date_key NOT IN (SELECT date_key FROM existing)
    """,
)
def etl_upsert_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent insert-only-new merge (J6, etl/etl.py:179-224): an
    'existing' dim_date covering only years < 1997 is upserted with the
    full staging set; result = existing UNION new-only. Re-running adds
    nothing (idempotence is unit-tested)."""
    orders = load_table(spark, sf_dir, "orders")
    from ..functions.dates import date_key

    all_days = orders.select(date_key("o_orderdate").alias("date_key")).distinct()
    existing = (
        orders.filter(F.year("o_orderdate") < 1997)
        .select(date_key("o_orderdate").alias("date_key"))
        .distinct()
    )
    return upsert_new_rows(existing, all_days, "date_key")


@query(
    "etl_quality_audit",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
        AS bad_partkeys,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
        AS bad_suppkeys,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS bad_orderkeys,
      (SELECT CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        AS c_custkey,
      (SELECT CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        AS c_name,
      (SELECT CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        AS c_nationkey,
      (SELECT CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        AS c_acctbal,
      (SELECT CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        AS c_mktsegment
    """,
)
def etl_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two data-quality gates in one audit row:
    J8 FK-integrity (generate_data.py:299-304) — count fact rows with
    dangling FKs per dim (expect zeros) in ONE lazy plan, ONE scan of
    lineitem (left joins to flagged key relations + conditional sums;
    part/supplier broadcast, orders fact-sized and shuffled) — plus the
    A8 null-cell audit over every customer column
    (generate_data.py:294-296). Two 1-row aggregates crossJoined 1x1."""
    from ..operators.dims import fk_violations

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    fk = fk_violations(
        lineitem,
        [
            (part, "p_partkey", "l_partkey", "bad_partkeys", True),
            (supplier, "s_suppkey", "l_suppkey", "bad_suppkeys", True),
            (orders, "o_orderkey", "l_orderkey", "bad_orderkeys", False),
        ],
    )
    nulls = null_audit(load_table(spark, sf_dir, "customer"))
    return fk.crossJoin(nulls)


@query(
    "etl_silver_filters",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           TRIM(c.c_name) AS c_name, c.c_acctbal,
           l.l_quantity, l.l_extendedprice, l.l_discount
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal >= 0 AND c.c_acctbal <= 9000
      AND l.l_discount < l.l_tax AND l.l_quantity > 0
    """,
)
def etl_silver_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver cleaning predicate suite in one realistic pass
    (round-3 merge of the former etl_clean_filters +
    etl_theta_and_positive_filters slots — same operator evidence, one
    registry slot): P3 range predicate (age-in-[18,100] analog,
    etl/etl.py:67) + P10 trim on customer, P4 column-vs-column theta
    (cost<price, etl/etl.py:74) + P5 positivity (quantity>0,
    etl.py:94) on lineitem, composed through the orders FK chain. The
    customer side broadcasts; both filters reach their scans."""
    from ..functions.cleaning import between_filter

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = trim_cols(
        load_table(spark, sf_dir, "customer").filter(
            between_filter("c_acctbal", 0, 9000)
        ),
        "c_name",
    )
    return (
        lineitem.filter(
            (F.col("l_discount") < F.col("l_tax")) & (F.col("l_quantity") > 0)
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            "c_name",
            "c_acctbal",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    )


@query(
    "etl_scd2_priority_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, CAST(o_orderdate AS DATE) AS d, o_orderkey,
             (LAG(1) OVER w IS NULL
              OR o_orderpriority IS DISTINCT FROM LAG(o_orderpriority) OVER w) AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    )
    SELECT o_custkey, o_orderpriority,
           d AS valid_from,
           LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS valid_to
    FROM ordered WHERE chg
    ORDER BY o_custkey, valid_from
    """,
)
def etl_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD historization (operators/dims.py scd2_history): each
    customer's order-priority regime changes become versioned rows with
    valid_from/valid_to — the type-2 extension of the reference's
    type-1 MERGE. One shuffle on the key; oracle replays LAG/LEAD +
    IS DISTINCT FROM exactly."""
    from ..operators.dims import scd2_history

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    return scd2_history(
        orders, key="o_custkey", ts="d", attrs=["o_orderpriority"], tiebreak="o_orderkey"
    ).select(
        "o_custkey",
        "o_orderpriority",
        "valid_from",
        "valid_to",
    ).orderBy("o_custkey", "valid_from")


@query(
    "etl_csv_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
    FROM orders
    """,
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 driver check — the reference's primary ingestion is CSV with
    string-typed staging then coercion (etl/etl.py:50-58,127-137): write
    orders to a CSV staging dir (dates serialized d-M-yyyy, the
    reference's format — P8), read it back with an explicit all-string
    schema, and coerce types (to_date 'd-M-yyyy' + decimal cast). The
    oracle reads the parquet directly, so the compare proves the CSV
    write+read+coerce cycle is lossless.

    The staging write is a deliberate eager side effect — this query IS
    the sink test; everything downstream of the write stays lazy. Each
    invocation writes its OWN unique staging dir (uuid suffix): a fixed
    shared path would let one session's plan-build overwrite a dir
    another session's lazy read is still consuming (plan builders —
    explain tools, bench warm-ups, concurrent drivers — all invoke this
    function), giving corrupt or empty reads. Staging dirs are
    garbage-collected on the NEXT invocation once older than
    _STAGE_TTL_SEC (a live consumer reads its dir within seconds of
    plan build; a fresh dir is never touched), so repeated runs — the
    bench invokes this 5× — no longer accumulate orphan dirs under
    spark-warehouse. (The o_totalprice decimal(12,2) cast is
    cross-engine-safe because money columns are generated with 2
    decimals — see functions/money.py.)"""
    import os
    import uuid

    from ..sources.csv import write_staging

    _gc_stale_staging_dirs()
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "d-M-yyyy").alias("order_date_raw"),
        # decimal -> text is exact ('123.45'); double -> text would risk
        # shortest-repr vs oracle formatting mismatches
        F.col("o_totalprice").cast("decimal(12,2)").alias("total_price_raw"),
    )
    stage_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..",
        "spark-warehouse",
        f"csv_stage_orders_{os.path.basename(sf_dir.rstrip('/'))}_{uuid.uuid4().hex[:8]}",
    )
    write_staging(staged, stage_dir, fmt="csv")
    back = (
        spark.read.option("header", True)
        .schema("o_orderkey bigint, order_date_raw string, total_price_raw string")
        .csv(stage_dir)
    )
    return back.select(
        "o_orderkey",
        F.to_date("order_date_raw", "d-M-yyyy").alias("order_date"),
        F.col("total_price_raw").cast("decimal(12,2)").cast("double").alias("total_price"),
    )


_STAGE_TTL_SEC = 600  # stale-staging grace period (see etl_csv_roundtrip)
_STAGE_PREFIXES = ("csv_stage_orders_", "json_stage_orders_", "orc_stage_orders_")


def _gc_stale_staging_dirs() -> None:
    """Remove roundtrip staging dirs older than _STAGE_TTL_SEC.
    Age-gated so a CONCURRENT session whose lazy read is still consuming
    its own (recent) staging dir is never broken; errors are swallowed —
    GC must not fail the query it rides on."""
    import os
    import shutil
    import time

    warehouse = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..", "spark-warehouse"
    )
    try:
        entries = os.listdir(warehouse)
    except OSError:
        return
    cutoff = time.time() - _STAGE_TTL_SEC
    for d in entries:
        if not d.startswith(_STAGE_PREFIXES):
            continue
        path = os.path.join(warehouse, d)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


# NOTE: the former etl_theta_and_positive_filters slot was merged into
# etl_silver_filters (round 3) — P4/P5 evidence now lives there.

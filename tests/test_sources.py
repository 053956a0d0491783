"""Loader regression tests — the events.ts dtype matrix.

The driver testdata writes ``events.ts`` as parquet TIMESTAMP(NANOS),
whose scanned dtype depends on the Spark version and on its NTZ
inference conf. These tests are the canary: if a future environment
bump changes the scan shape again, this file fails in seconds instead
of the full correctness suite erroring wholesale (which is exactly what
happened in round 4).
"""

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
    load_table,
    normalize_events_ts,
)

EXPECTED_MIN = datetime.datetime(2024, 1, 1, 0, 9, 58, 778549)
EXPECTED_MAX = datetime.datetime(2024, 1, 30, 23, 26, 16, 220708)


def test_events_loads_as_timestamp_with_known_range(spark, sf_dir):
    """Environment canary: events loads, ts is a (tz) TimestampType, and
    min/max match the values DuckDB reads from the identical file."""
    events = load_table(spark, sf_dir, "events")
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    row = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    assert row["n"] == 1000
    assert row["lo"] == EXPECTED_MIN
    assert row["hi"] == EXPECTED_MAX
    lo, hi = duckdb.sql(
        f"SELECT min(ts), max(ts) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert row["lo"] == lo and row["hi"] == hi


def test_normalize_ntz_arm_anchors_wall_clock_as_utc(spark):
    """Spark 4.x vanilla-session shape: timestamp_ntz wall clock becomes
    the UTC instant — under ANY session timezone. The loader uses pure
    CALENDAR-FIELD arithmetic (epoch-days * 86400e6 + time-of-day
    micros -> timestamp_micros): no timezone enters the computation, so
    a driver session with a non-UTC timezone produces the same instants
    (and therefore the same hashes) as a UTC one — including for wall
    clocks inside a DST gap/overlap, where an offset-cancellation
    scheme (NTZ->TZ cast + from_utc_timestamp) is off by the DST delta.

    collect() renders instants via the OS timezone (UTC in this
    container), so an unchanged naive datetime across session-timezone
    changes proves the instant didn't move."""
    walls = [
        datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
        # wall clocks inside America/New_York's DST gap and overlap —
        # where an offset-cancellation scheme (cast+from_utc_timestamp)
        # shifts by the DST delta; calendar-field arithmetic must not
        datetime.datetime(2025, 3, 9, 2, 30, 0, 1),
        datetime.datetime(2025, 11, 2, 1, 30, 0, 999999),
    ]
    df = spark.createDataFrame(
        [(w,) for w in walls], StructType([StructField("ts", TimestampNTZType())])
    )
    out = normalize_events_ts(df)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    assert [r["ts"] for r in out.collect()] == walls  # session tz is UTC

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert [r["ts"] for r in normalize_events_ts(df).collect()] == walls
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_normalize_timestamp_arm_is_identity(spark, sf_dir):
    """Spark 4.x with inferTimestampNTZ disabled (our sessions): the scan
    already yields TimestampType; normalize must not touch it."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not isinstance(df.schema["ts"].dataType, TimestampType):
        pytest.skip("scan shape is not the TimestampType arm in this env")
    assert normalize_events_ts(df) is df


def test_load_fact_wide_repartitions_narrow_layouts_only(
    spark, sf_dir, tmp_path, monkeypatch
):
    """load_fact_wide must widen a single-file scan to cluster width
    (the row-cost-vs-byte-cost fix) but SKIP the shuffle when the file
    layout already scans at >= half the cluster width or cannot be
    counted (a remote URI) — and the rows must be identical either way
    (r16)."""
    from retail_sales_analysis_etl_bi_project_spark.sources import tables
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_fact_wide,
        load_table,
    )

    n = spark.sparkContext.defaultParallelism
    # driver testdata: one single-row-group file -> widened
    narrow = load_fact_wide(spark, sf_dir, "orders", "o_orderkey")
    assert narrow.rdd.getNumPartitions() == n
    # well-split layout: >= n/2 part files -> scan served as-is
    src = load_table(spark, sf_dir, "orders")
    src.repartition(n).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    wide = load_fact_wide(spark, str(tmp_path), "orders", "o_orderkey")
    # no repartition node: the plan is the bare scan
    assert "repartitionbyexpression" not in (
        wide._jdf.queryExecution().analyzed().toString().lower()
    )
    assert "repartitionbyexpression" in (
        narrow._jdf.queryExecution().analyzed().toString().lower()
    )
    # rows identical across both paths
    a = sorted(r.o_orderkey for r in narrow.select("o_orderkey").collect())
    b = sorted(r.o_orderkey for r in wide.select("o_orderkey").collect())
    assert a == b
    # remote layout: the file count is unknown, so no blind shuffle
    monkeypatch.setattr(
        tables, "load_table", lambda s, _dir, name: load_table(s, sf_dir, name)
    )
    remote = load_fact_wide(spark, "s3a://bucket/sf", "orders", "o_orderkey")
    assert "repartitionbyexpression" not in (
        remote._jdf.queryExecution().analyzed().toString().lower()
    )


def test_path_sig_sees_rewrites_in_partition_subdirs(spark, tmp_path):
    """A part file rewritten in place under a ``key=value`` subdir (the
    month-partitioned gold fact layout) must change the schema memo key,
    or the memo would keep serving the schema of the old file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_sales_analysis_etl_bi_project_spark.sources.tables import _path_sig

    path = tmp_path / "fact_sales"
    spark.range(4).withColumn("month_key", F.col("id") % 2).write.partitionBy(
        "month_key"
    ).parquet(str(path))
    before = _path_sig(str(path))
    part = next((path / "month_key=0").glob("part-*.parquet"))
    pq.write_table(pa.table({"id": [0, 2], "extra": ["a", "b"]}), str(part))
    os.utime(part, ns=(1, 1))  # a distinct mtime even on coarse clocks
    assert _path_sig(str(path)) != before

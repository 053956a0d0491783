"""Parquet star-schema loaders (driver testdata layout, TESTDATA.md).

Replaces the reference's CSV-to-pandas extract step (etl/etl.py:50-58)
with lazy, column-pruned, predicate-pushdown parquet scans. Tables are
the TPC-H-ish mapping of the reference star schema (SURVEY.md §7.0):

    fact_sales     -> lineitem (+ orders for the date/customer axes)
    dim_product    -> part
    dim_customer   -> customer
    dim_store      -> supplier + nation + region
    dim_date       -> derived from o_orderdate (operators.dims.build_dim_date)
    extensions     -> events, documents, embeddings
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one parquet table. Explicit per-table path (no glob)
    so partition discovery cost is zero and pruning is trivial.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS). How Spark
    surfaces that differs by major version, so we normalise it to a
    microsecond ``TimestampType`` by branching on the *actual* scanned
    dtype rather than assuming a conf took effect:

    - Spark 3.x + ``spark.sql.legacy.parquet.nanosAsLong=true``: the
      column arrives as a raw nanos ``LongType`` → truncate to micros
      and re-type (``timestamp_micros``).
    - Spark 4.x (conf removed, silently ignored): the column arrives
      natively as ``TimestampNTZType`` (or ``TimestampType`` when
      ``spark.sql.parquet.inferTimestampNTZ.enabled=false``), already
      truncated to identical microsecond values. NTZ wall-clocks are
      anchored as UTC instants via pure CALENDAR-FIELD arithmetic
      (epoch days * 86400e6 + time-of-day micros -> timestamp_micros):
      no timezone enters the computation at all, so the instant equals
      wall-clock-as-UTC under ANY session timezone INCLUDING wall
      clocks inside a DST gap/overlap of a non-UTC session zone, where
      an offset-cancellation scheme (cast + from_utc_timestamp) is off
      by the DST delta (probe-verified: UTC/NY/Tokyo x {DST-gap,
      DST-overlap, plain} wall clocks).

    All three arms yield the same instants DuckDB produces for the
    same file (verified in tests/test_sources.py)."""
    if name == "events":
        from ..session import ensure_nanos_as_long

        ensure_nanos_as_long(spark)  # no-op on Spark 4.x
        return normalize_events_ts(_scan(spark, f"{sf_dir}/{name}.parquet"))
    return _scan(spark, f"{sf_dir}/{name}.parquet")


# Driver-side schema memo: spark.read.parquet() re-infers the schema
# (footer read + merge) on EVERY call, ~0.1-0.18 s of driver time per
# call (measured, Spark 4.1 local) — and the registered queries
# construct their plans fresh per invocation, so a bench pass pays it
# hundreds of times for ten immutable tables. Passing the
# once-inferred StructType back via .schema() skips inference with a
# byte-identical scan relation (same types, same values — the schema
# IS the inferred one). Keyed by (path, mtime, size) so a rewritten
# staging/test file re-infers; at production scale explicit schemas on
# hot tables are standard practice for exactly this planning cost.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_sig(path: str) -> tuple:
    """Content signature for the memo key. For a plain file:
    (mtime_ns, size). For a DIRECTORY (standard Spark multi-part
    layout): the sorted (relative path, mtime_ns, size) of every entry
    in the whole tree — rewriting a part file in place changes neither
    the directory's mtime nor its size, and in a partitioned layout
    (gold ``fact_sales``' ``month_key=`` dirs) the part files sit one
    level down, so only a recursive walk sees every rewrite."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            full = os.path.join(root, name)
            try:
                est = os.stat(full)
            except OSError:
                continue
            entries.append((os.path.relpath(full, path), est.st_mtime_ns, est.st_size))
    return tuple(sorted(entries))


def _scan(spark: SparkSession, path: str) -> DataFrame:
    try:
        # the key also carries the session confs that steer parquet
        # schema inference, so a later session with different
        # timestamp-inference settings re-infers instead of silently
        # reusing a schema inferred under the first session's settings
        # (r15 ADVICE item 1)
        confs = tuple(
            spark.conf.get(c, None)
            for c in (
                "spark.sql.parquet.inferTimestampNTZ.enabled",
                "spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.caseSensitive",
            )
        )
        key = (path, _path_sig(path), confs)
    except OSError:
        # missing/remote path: let spark.read produce its own error
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def clear_schema_cache() -> None:
    """Test hook: drop every memoized schema (fixtures that rewrite
    parquet in place can force re-inference explicitly)."""
    _SCHEMA_CACHE.clear()


def _leaf_file_count(path: str) -> int | None:
    """Number of parquet data files under ``path`` (1 for a plain
    file) — a cheap lower bound on scan parallelism, or None when the
    layout is unknown: a remote URI (``s3a://``, ``hdfs://``) or a path
    ``os`` cannot list. Single-row-group files (this driver's testdata)
    cannot parallelize past one task per file no matter the split
    confs, so file count is exactly the effective scan width there; for
    multi-row-group production files it UNDERcounts splits, which only
    makes load_fact_wide more conservative (it skips the shuffle
    sooner)."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        path = parsed.path
    elif parsed.scheme:
        return None
    try:
        if os.path.isfile(path):
            return 1
        return max(
            1,
            sum(
                1
                for n in os.listdir(path)
                if n.endswith(".parquet") or n.startswith("part-")
            ),
        )
    except OSError:
        return None


def load_fact_wide(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load_table`` + a cluster-width repartition ONLY when the file
    layout scans narrower than half the cluster (r16, guide §2.2/§2.5).

    Why conditional: row-expensive per-row work (regex, JSON parse,
    exact-decimal arithmetic, join fanout) upstream of the first
    shuffle runs at scan granularity — one task per single-row-group
    file — so a one-file corpus serializes the whole stage regardless
    of core count (measured: the width batch in OPTIMIZATION_r16.md §7
    roughly halves 17 queries at sf0.1). But when the input already
    arrives well split, the same repartition pays a full input shuffle
    for little or no extra width (measured on a 16-file 20x fixture:
    q02 2.8 s -> 3.8 s with the unconditional shuffle). File count is
    read from the loader's own path (no .rdd — that would force
    physical planning, the localCheckpoint cost lesson). A layout it
    cannot count (remote or unlistable) gets the bare scan: a blind
    full shuffle of the fact table is the expensive guess.

    Callers use this ONLY where every downstream aggregate is
    partitioning-independent (exact decimal / BIGINT counts /
    fixed_point_sum / exact percentile) — the safety argument lives at
    each call site."""
    from ..operators.partitioning import to_cluster_width

    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    files = _leaf_file_count(f"{sf_dir}/{name}.parquet")
    if files is None or 2 * files >= n:
        return df
    return to_cluster_width(df, key)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalise ``events.ts`` to a microsecond ``TimestampType`` from
    whichever shape the parquet scan produced (see load_table docstring).
    Branches on the actual dtype so a Spark upgrade that changes scan
    behavior degrades to a visible test failure, not a broken plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        ts_col = F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    elif isinstance(ts_type, TimestampNTZType):
        # instant := wall-clock-as-UTC via calendar fields only — no
        # session-timezone dependence, no DST edge cases (see docstring)
        ts_col = F.expr(
            "timestamp_micros("
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " * 86400000000"
            " + (CAST(hour(ts) AS BIGINT) * 3600"
            "    + CAST(minute(ts) AS BIGINT) * 60"
            "    + CAST(second(ts) AS BIGINT)) * 1000000"
            " + CAST(date_format(ts, 'SSSSSS') AS BIGINT))"
        )
    else:  # already TimestampType — parquet micros read natively
        return df
    return df.withColumn("ts", ts_col)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so spark.sql() queries resolve,
    mirroring how the reference's BI queries ran against named Oracle
    tables (SURVEY.md §3.2)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

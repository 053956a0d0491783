"""Structured Streaming over the events table (north-star extension —
the reference is batch-only, SURVEY.md §2.8).

Each shape is the streaming twin of a batch operator, so correctness is
checkable against the batch form (whose DuckDB oracle the driver
hash-verifies):

- tumbling_hourly_agg     : windowed count/sum with watermark (late data)
- sliding_type_counts     : sliding window counts per event_type
- session_windows         : native session windows (F.session_window),
                            same 30-min gap as the batch sessionizer
- dedup_stream            : dropDuplicatesWithinWatermark ingest guard
- interval_join_streams   : stream-stream interval join (attribution)
- enrich_stream           : stream-static broadcast dim join
- write_stream_parquet    : checkpointed exactly-once file sink
- upsert_stream_to_parquet: foreachBatch CDC upsert (streaming MERGE)

All take any streaming DataFrame with the events schema; tests feed
them from parquet via ``readStream`` (file source) and collect with a
memory sink. In production the source would be Kafka/Kinesis — the
plans below are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.events_queries import SESSION_GAP_SEC
from . import store

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet (tests / local dev).

    ``events.ts`` is parquet TIMESTAMP(NANOS); what a user-supplied
    schema yields differs by Spark major version (same boundary as the
    batch loader, sources/tables.py). We probe the BATCH scan dtype once
    (footer-only, no data read) and pick the matching streaming schema:

    - batch scan says LongType (Spark 3.x + nanosAsLong conf): read
      ``ts bigint`` = raw nanos.
    - batch scan says TimestampNTZType (Spark 4.x default, NTZ
      inference on): read ``ts timestamp_ntz`` — matching the batch
      scan's dtype keeps the streamed wall clocks timezone-independent
      (an LTZ ``ts timestamp`` schema here would shift the instants by
      the session offset under a non-UTC vanilla driver session).
    - batch scan says TimestampType (NTZ inference off): read ``ts
      timestamp`` directly.

    All arms then normalise through the SAME ``normalize_events_ts``
    the batch loader uses (dtype-branching, DST-proof calendar-field
    NTZ anchoring), so stream and batch agree under any session
    timezone."""
    from pyspark.sql.types import LongType, TimestampNTZType

    from ..session import ensure_nanos_as_long
    from ..sources.tables import normalize_events_ts

    ensure_nanos_as_long(spark)  # no-op on Spark 4.x
    batch_ts = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    if isinstance(batch_ts, LongType):
        ts_field = "ts bigint"
    elif isinstance(batch_ts, TimestampNTZType):
        ts_field = "ts timestamp_ntz"
    else:
        ts_field = "ts timestamp"
    raw = (
        spark.readStream.schema(
            f"event_id bigint, {ts_field}, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # file source requires a directory; glob-filter to the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def tumbling_hourly_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of events_hourly_agg: 1-hour tumbling windows with
    a watermark bounding state for late data. Output schema AND sum
    semantics match the batch query (hour, event_type, n_events,
    total_value — fixed-point quantized sum, functions.money), so the
    equivalence test compares values exactly."""
    from ..functions.money import fixed_point_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum("value").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "total_value")
    )


def sliding_type_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event counts per type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Native session windows: same 30-minute inactivity gap as the batch
    sessionizer (plans/events_queries.py). Spark merges session state per
    user across triggers; the watermark closes sessions and bounds state —
    this is the scalable form of sessionization (no unbounded per-user
    history)."""
    gap = f"{SESSION_GAP_SEC} seconds"
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the ingest-time twin of
    operators.dedup.exact_dup_groups: records whose key was already seen
    within the watermark horizon are dropped.
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EXPIRES it once the watermark passes, so state is bounded by the
    key arrival rate x watermark window — an unwatermarked
    dropDuplicates would grow state forever on an infinite stream. This
    is the exactly-once-ish guard every streaming corpus ingest needs
    in front of the batch dedup operators."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def interval_join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    within_sec: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER interval join — the attribution primitive
    (click -> purchase within the window): each click row joins the
    same user's purchases with purchase.ts in [click.ts, click.ts +
    within_sec]. Both sides carry a watermark and the join condition
    includes the event-time range, which is what lets Spark BOUND the
    buffered state: a click older than (watermark + within_sec) can
    never match a future purchase and its state is dropped, so state
    size is ∝ the event rate inside one watermark horizon, not the
    stream's history — the only shape a stream-stream join survives at
    100 TB/day. Equality on ``key`` keeps the join hash-partitioned
    (no broadcast, no cross product); the range predicate is a post-
    filter on the co-partitioned pairs.

    Batch twin: the identical join predicate on the static table
    (tests/test_streaming.py asserts row-for-row equality)."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col(key),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col(key).alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    cond = (
        (c[key] == p["p_user"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {within_sec} SECONDS"))
    )
    return c.join(p, cond, "inner").drop("p_user")


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "c_custkey",
) -> DataFrame:
    """Stream-static join — the ingest-time twin of the batch fact⋈dim
    enrichment (operators/dims.py:assemble_fact): each micro-batch of
    the event stream is hash-joined against a BROADCAST snapshot of the
    dim table. Stream-static joins are stateless (no watermark, no
    per-key state — the static side is re-broadcast per batch if it
    changes), so this scales with the dim's broadcast size exactly like
    the batch path. Left join: events without a dim row keep flowing
    with nulls, matching the batch FK-audit posture (unmatched facts
    are audited, never dropped)."""
    on = events[key] == dim[dim_key]
    return events.join(F.broadcast(dim), on, "left").drop(dim[dim_key])


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """Production file-sink path: append the stream to a parquet
    directory with a CHECKPOINT location. The checkpoint (WAL + source
    offsets + sink commit log) is what makes the pipeline exactly-once
    across restarts: a re-run with the same checkpoint resumes from the
    recorded offsets and commits nothing twice — the test restarts a
    finished query and asserts zero new rows. availableNow drains the
    finite source then stops; a live deployment drops that trigger and
    the same plan runs continuously."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    store.await_or_raise(q, timeout_sec)


def run_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    table_name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming plan to completion against a finite file source
    (availableNow + memory sink); returns the materialized result. Test
    harness — production would use writeStream to a real sink with
    checkpointing. ``output_mode``: 'complete' for aggregations,
    'append' for row-wise plans (dedup)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    store.await_or_raise(q, timeout_sec)
    return spark.table(table_name)


def apply_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    key_cols: tuple[str, ...] = ("user_id",),
    order_col: str = "ts",
) -> None:
    """Merge one micro-batch into the latest-per-key store at
    ``target`` (the foreachBatch body of upsert_stream_to_parquet).
    The merge is idempotent, so it needs no batch guard: a replayed or
    stale batch can never regress a key, and one target may be fed by
    several checkpoint lineages."""
    keys = list(key_cols)

    def latest_per_key(df: DataFrame) -> DataFrame:
        order = [F.col(order_col).desc()] + [
            F.col(c).desc() for c in df.columns if c not in (*keys, order_col)
        ]
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    latest = latest_per_key(batch_df)
    if store.current(target) is not None:
        existing = store.read(batch_df.sparkSession, target)
        merged = latest_per_key(existing.unionByName(latest))
    else:
        merged = latest
    store.commit(merged, target, batch_id)


def upsert_stream_to_parquet(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    key_cols: tuple[str, ...] = ("user_id",),
    order_col: str = "ts",
    timeout_sec: int = 120,
) -> None:
    """foreachBatch streaming UPSERT — the streaming twin of the batch
    MERGE (operators/dims.py upsert_dim / J6) and the shape every
    CDC-to-dimension pipeline runs: each micro-batch keeps its latest
    row per key (greatest ``order_col``; ties broken deterministically
    by a descending sort over the remaining non-key columns, so equal
    timestamps resolve the same way on every replay), then merges into
    the target by replacing matched keys and appending new ones.

    The merge keeps the GREATEST ``order_col`` row per key across the
    union of the existing target and the batch — not a blind replace —
    so a later micro-batch that happens to carry OLDER events for a key
    (out-of-order files, replays) can never regress the dimension: the
    target converges to latest-per-key regardless of batch order, which
    also makes a checkpoint-replayed batch an exact no-op (idempotent
    recovery). Each merge commits a new version of the store
    (streaming/store.py). That full rewrite per batch is the honest
    non-ACID floor; on a table format
    with transactions the SAME foreachBatch body becomes ``MERGE WHEN
    MATCHED [AND newer] UPDATE WHEN NOT MATCHED INSERT`` touching only
    matched files (the Delta arm of upsert_dim shows the exact
    statement).

    State story at 100 TB: foreachBatch holds NO streaming state — the
    dedup-within-batch is a bounded per-batch window, and cross-batch
    reconciliation lives in the target table, so nothing accumulates in
    the streaming engine regardless of stream length."""
    store.drain(
        stream_df,
        lambda df, bid: apply_upsert_batch(df, bid, target, key_cols, order_col),
        checkpoint,
        timeout_sec,
    )

"""Streaming incremental KPI maintenance — the streaming form of
plans/agg_queries.agg_incremental_kpi_merge: a foreachBatch sink that
folds each micro-batch's ALGEBRAIC partials (count + fixed-point
revenue accumulator, functions/money.py) into a stored partials table,
so the KPI is maintained at delta cost instead of recomputed over the
full history every trigger.

Unlike the latest-per-key upsert (streaming/events.py), an additive
merge is NOT naturally idempotent: a crash-replayed micro-batch would
double-count. foreachBatch's contract is at-least-once per batch_id
with batch_ids strictly increasing, so exactly-once is recovered the
standard way: each commit is a new version of the store published by
one atomic pointer that also records the batch_id (streaming/store.py),
and a batch whose id is <= the published id is a no-op. One target is
therefore bound to one checkpoint lineage: a fresh checkpoint restarts
batch ids at 0 and must come with a fresh target.

State story at 100 TB: the streaming engine holds NO state — partials
live in the target table at |year×month| rows, each micro-batch costs
one map-side-combined aggregate of the delta plus a merge over the
(tiny) partials table, and exactness is the fixed_point_partial/final
algebra: the maintained table equals the full recompute bit-for-bit
(pinned in tests/test_streaming_kpi.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import fixed_point_partial
from . import store
from .events import _await_or_raise


def kpi_partials(
    df: DataFrame, ts_col: str = "o_orderdate", amount_col: str = "o_totalprice"
) -> DataFrame:
    """Per-(year, month) mergeable partials: exact count + exact
    fixed-point accumulator (decimal(38,0) — merge headroom far beyond
    the per-batch decimal(28,0))."""
    return df.groupBy(
        F.year(ts_col).alias("year"), F.month(ts_col).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        fixed_point_partial(amount_col).cast("decimal(38,0)").alias("_acc"),
    )


def apply_kpi_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> None:
    """Fold one micro-batch into the partials table. Replay-safe: a
    batch_id at or below the published one is skipped."""
    ptr = store.current(target)
    if ptr is not None and batch_id <= ptr["batch_id"]:
        return  # crash-replayed batch: already folded in
    new = kpi_partials(batch_df, ts_col, amount_col)
    if ptr is not None:
        merged = (
            store.read(batch_df.sparkSession, target)
            .unionByName(new)
            .groupBy("year", "month")
            .agg(
                F.sum("_n").alias("_n"),
                F.sum("_acc").cast("decimal(38,0)").alias("_acc"),
            )
        )
    else:
        merged = new
    store.commit(merged, target, batch_id)


def maintain_kpi_stream(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` (availableNow) folding every micro-batch
    into the partials table at ``target``."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: apply_kpi_batch(df, bid, target, ts_col, amount_col)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_sec)


def read_kpi(spark: SparkSession, target: str) -> DataFrame:
    """Finalize the stored partials: one division per group, exactly as
    fixed_point_final (the partials are already collapsed per key)."""
    return store.read(spark, target).select(
        "year",
        "month",
        F.col("_n").alias("n_orders"),
        (F.col("_acc").cast("double") / F.lit(1e6)).alias("revenue"),
    ).orderBy("year", "month")

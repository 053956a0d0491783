"""Streaming incremental KPI maintenance — the streaming form of
plans/agg_queries.agg_incremental_kpi_merge: a foreachBatch sink that
folds each micro-batch's ALGEBRAIC partials (count + fixed-point
revenue accumulator, functions/money.py) into a stored partials table,
so the KPI is maintained at delta cost instead of recomputed over the
full history every trigger.

The fold runs through streaming/store.py's ``fold``, whose published
batch-id guard makes the additive merge exactly-once under crash
replay (the recipe is in that module's docstring).

State story at 100 TB: the streaming engine holds NO state — partials
live in the target table at |year×month| rows. Each micro-batch costs
ONE aggregate: the batch's per-order rows (count 1, fixed-point units)
and the stored partials are summed together, map-side-combined before
the shuffle, so the batch never pays a separate delta aggregate.
The fold collects the merged partials whole to the driver each batch
and writes them as the store's next version: bounded by
``spark.driver.maxResultSize``, above which the batch fails loudly
before anything is written and replays safely. Exactness is the
fixed_point_units/partial/final algebra: the maintained table equals
the full recompute bit-for-bit (pinned in tests/test_streaming_kpi.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import fixed_point_units
from . import store


def _kpi_rows(df: DataFrame, ts_col: str, amount_col: str) -> DataFrame:
    """Each order as one partial: (year, month, _n=1, _acc=its units)."""
    return df.select(
        F.year(ts_col).alias("year"),
        F.month(ts_col).alias("month"),
        F.lit(1).alias("_n"),
        fixed_point_units(amount_col).alias("_acc"),
    )


def _merge_partials(df: DataFrame) -> DataFrame:
    """Per-(year, month) partials: exact count + exact fixed-point
    accumulator (decimal(38,0) — merge headroom far beyond one value's
    decimal(28,0))."""
    return df.groupBy("year", "month").agg(
        F.sum("_n").alias("_n"),
        F.sum("_acc").cast("decimal(38,0)").alias("_acc"),
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
    store.fold(
        batch_df,
        batch_id,
        target,
        lambda df: _kpi_rows(df, ts_col, amount_col),
        _merge_partials,
    )


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
    store.drain(
        stream_df,
        lambda df, bid: apply_kpi_batch(df, bid, target, ts_col, amount_col),
        checkpoint,
        timeout_sec,
    )


def read_kpi(spark: SparkSession, target: str) -> DataFrame:
    """Finalize the stored partials: one division per group, exactly as
    fixed_point_final (the partials are already collapsed per key)."""
    return store.read(spark, target).select(
        "year",
        "month",
        F.col("_n").alias("n_orders"),
        (F.col("_acc").cast("double") / F.lit(1e6)).alias("revenue"),
    ).orderBy("year", "month")

"""Streaming event-volume monitor — the streaming form of
plans/stat_queries.events_anomaly_daily: a foreachBatch sink maintains
the per-(event_type, day) COUNT table (a purely additive partial, the
simplest algebraic aggregate), and the anomaly readout runs the shared
integer z^2 flag expressions over the maintained store, so the
streaming monitor's flags equal the one-shot batch query bit-for-bit
(pinned in tests/test_streaming_anomaly.py, including a crash-replayed
micro-batch).

The fold runs through streaming/store.py's ``fold``, whose published
batch-id guard makes it exactly-once under crash replay.

State story at 100 TB: the engine holds no state — the store is
|event_type x day| rows (tiny at any scale). Each micro-batch costs ONE
map-side-combined sum over the batch's per-event rows (daily_rows)
together with the stored counts, and the readout's per-type moments
are a groupBy over the day-grain store, never the raw stream. The
fold collects the merged store whole to the driver each batch and
writes it as the next version: bounded by
``spark.driver.maxResultSize``, above which the batch fails loudly
before anything is written and replays safely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.stat_queries import (
    anomaly_flags,
    cusum_flags,
    daily_rows,
    sum_daily_counts,
)
from . import store


def apply_counts_batch(batch_df: DataFrame, batch_id: int, target: str) -> None:
    """Fold one micro-batch's counts into the store. Replay-safe: a
    batch_id at or below the published one is skipped."""
    store.fold(batch_df, batch_id, target, daily_rows, sum_daily_counts)


def maintain_volume_stream(
    stream_df: DataFrame, target: str, checkpoint: str, timeout_sec: int = 120
) -> None:
    """Drain ``stream_df`` (availableNow) folding every micro-batch's
    daily counts into the store at ``target``."""
    store.drain(
        stream_df,
        lambda df, bid: apply_counts_batch(df, bid, target),
        checkpoint,
        timeout_sec,
    )


def anomaly_readout(spark: SparkSession, target: str) -> DataFrame:
    """Flags over the maintained store — the SAME expressions as the
    batch query (plans/stat_queries.anomaly_flags), so streaming-
    maintained flags can never drift from the one-shot form. The
    per-batch rows likewise reuse plans/stat_queries.daily_rows:
    both halves of the streamed==batch guarantee live in ONE place."""
    return anomaly_flags(store.read(spark, target))


def cusum_readout(spark: SparkSession, target: str) -> DataFrame:
    """CUSUM drift statistics over the SAME maintained count store —
    the sequential-test companion to anomaly_readout, again sharing
    the batch query's expressions (plans/stat_queries.cusum_flags), so
    one maintained day-grain table serves both monitors and neither
    can drift from its one-shot form."""
    return cusum_flags(store.read(spark, target))

"""Streaming event-volume monitor — the streaming form of
plans/stat_queries.events_anomaly_daily: a foreachBatch sink maintains
the per-(event_type, day) COUNT table (a purely additive partial, the
simplest algebraic aggregate), and the anomaly readout runs the shared
integer z^2 flag expressions over the maintained store, so the
streaming monitor's flags equal the one-shot batch query bit-for-bit
(pinned in tests/test_streaming_anomaly.py, including a crash-replayed
micro-batch).

Same exactly-once recipe as streaming/kpi.py: foreachBatch is
at-least-once per strictly-increasing batch_id, so every commit is a
new store version published by one atomic pointer that records the
batch_id (streaming/store.py), and a replayed id is a no-op. One target
dir is bound to one checkpoint lineage.

State story at 100 TB: the engine holds no state — the store is
|event_type x day| rows (tiny at any scale), each micro-batch costs a
map-side-combined count of the delta plus a merge over the store, and
the readout's per-type moments are a groupBy over the day-grain store,
never the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.stat_queries import anomaly_flags, cusum_flags, daily_counts
from . import store
from .events import _await_or_raise


def apply_counts_batch(batch_df: DataFrame, batch_id: int, target: str) -> None:
    """Fold one micro-batch's counts into the store. Replay-safe: a
    batch_id at or below the published one is skipped."""
    ptr = store.current(target)
    if ptr is not None and batch_id <= ptr["batch_id"]:
        return  # crash-replayed batch: already folded in
    new = daily_counts(batch_df)
    if ptr is not None:
        merged = (
            store.read(batch_df.sparkSession, target)
            .unionByName(new)
            .groupBy("event_type", "day")
            .agg(F.sum("n_events").alias("n_events"))
        )
    else:
        merged = new
    store.commit(merged, target, batch_id)


def maintain_volume_stream(
    stream_df: DataFrame, target: str, checkpoint: str, timeout_sec: int = 120
) -> None:
    """Drain ``stream_df`` (availableNow) folding every micro-batch's
    daily counts into the store at ``target``."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: apply_counts_batch(df, bid, target)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_sec)


def anomaly_readout(spark: SparkSession, target: str) -> DataFrame:
    """Flags over the maintained store — the SAME expressions as the
    batch query (plans/stat_queries.anomaly_flags), so streaming-
    maintained flags can never drift from the one-shot form. The
    per-batch partials likewise reuse plans/stat_queries.daily_counts:
    both halves of the streamed==batch guarantee live in ONE place."""
    return anomaly_flags(store.read(spark, target))


def cusum_readout(spark: SparkSession, target: str) -> DataFrame:
    """CUSUM drift statistics over the SAME maintained count store —
    the sequential-test companion to anomaly_readout, again sharing
    the batch query's expressions (plans/stat_queries.cusum_flags), so
    one maintained day-grain table serves both monitors and neither
    can drift from its one-shot form."""
    return cusum_flags(store.read(spark, target))

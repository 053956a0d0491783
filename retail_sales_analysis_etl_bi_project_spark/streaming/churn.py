"""Streaming active-customer churn maintenance — the streaming form of
plans/lifecycle_queries.bi_active_customer_churn_jaccard: a foreachBatch
sink that folds each micro-batch's DISTINCT (month, customer) active
pairs into a stored set relation, so the month-over-month churn
readout is maintained at delta cost instead of re-scanning the full
order history every trigger.

This completes the incremental family with its SET-VALUED member:
KPI merge folds additive partials, the dedup/novelty stores fold
append-only keyed relations, and this folds a DISTINCT-set union —
which is naturally IDEMPOTENT (re-unioning a replayed batch cannot
change a set), so exactly-once needs no arithmetic guard; the
published batch_id guard (streaming/store.py) still applies, so a
replay is a cheap no-op rather than a full rewrite, and every additive
store honors one uniform contract.

The readout side calls the SAME churn_jaccard_readout the batch query
uses — one definition of the statistic, so streamed == batch is an
equality of relations, not of reimplementations
(tests/test_streaming_churn.py pins it bit-for-bit).

State story at 100 TB: the streaming engine holds NO state; the store
is |active (month, customer)| rows — bounded by months × customers
regardless of order volume (each batch folds in at most its own
distinct pairs via one unionByName + dropDuplicates, partitioned by
the pair key). The readout is month-grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.lifecycle_queries import active_month_pairs, churn_jaccard_readout
from . import store
from .events import _await_or_raise


def apply_churn_batch(batch_df: DataFrame, batch_id: int, target: str) -> None:
    """Fold one micro-batch's active pairs into the stored set.
    Replay-safe twice over: set union is idempotent AND a batch_id at
    or below the published one is skipped outright."""
    ptr = store.current(target)
    if ptr is not None and batch_id <= ptr["batch_id"]:
        return
    new = active_month_pairs(batch_df)
    if ptr is not None:
        merged = (
            store.read(batch_df.sparkSession, target)
            .unionByName(new)
            .dropDuplicates(["mnum", "o_custkey"])
        )
    else:
        merged = new
    store.commit(merged, target, batch_id)


def maintain_churn_stream(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` (orders schema, availableNow) folding every
    micro-batch's active pairs into the set store at ``target``."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: apply_churn_batch(df, bid, target)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_sec)


def read_churn(spark: SparkSession, target: str) -> DataFrame:
    """Month-over-month Jaccard/retention readout of the maintained
    set — the IDENTICAL readout the batch query applies to its own
    active-pairs relation."""
    return churn_jaccard_readout(store.read(spark, target))

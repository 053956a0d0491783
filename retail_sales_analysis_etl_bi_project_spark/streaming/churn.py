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
change a set). It still folds through streaming/store.py's ``fold``,
so a replay is a cheap no-op rather than a full rewrite.

The readout side calls the SAME churn_jaccard_readout the batch query
uses — one definition of the statistic, so streamed == batch is an
equality of relations, not of reimplementations
(tests/test_streaming_churn.py pins it bit-for-bit).

State story at 100 TB: the streaming engine holds NO state; the store
is |active (month, customer)| rows — bounded by months × customers
regardless of order volume (each batch folds in at most its own
distinct pairs via one unionByName + dropDuplicates, partitioned by
the pair key). The readout is month-grain. The fold collects the
merged set whole to the driver each batch and writes it as the next
version, so the store is bounded by ``spark.driver.maxResultSize``;
above it the batch fails loudly before anything is written and replays
safely. This is the largest fold store: ≤1.2M rows for the paper's 50k
customers × 24 months.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.lifecycle_queries import active_month_pairs, churn_jaccard_readout
from . import store


def _merge_pairs(df: DataFrame) -> DataFrame:
    return df.dropDuplicates(["mnum", "o_custkey"])


def apply_churn_batch(batch_df: DataFrame, batch_id: int, target: str) -> None:
    """Fold one micro-batch's active pairs into the stored set.
    Replay-safe twice over: set union is idempotent AND a batch_id at
    or below the published one is skipped outright."""
    store.fold(batch_df, batch_id, target, active_month_pairs, _merge_pairs)


def maintain_churn_stream(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` (orders schema, availableNow) folding every
    micro-batch's active pairs into the set store at ``target``."""
    store.drain(
        stream_df,
        lambda df, bid: apply_churn_batch(df, bid, target),
        checkpoint,
        timeout_sec,
    )


def read_churn(spark: SparkSession, target: str) -> DataFrame:
    """Month-over-month Jaccard/retention readout of the maintained
    set — the IDENTICAL readout the batch query applies to its own
    active-pairs relation."""
    return churn_jaccard_readout(store.read(spark, target))

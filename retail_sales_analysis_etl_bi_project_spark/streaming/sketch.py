"""Streaming Count-Min sketch maintenance — the streaming form of
plans/eval_queries.text_countmin_heavyhitters: a foreachBatch sink that
folds each document micro-batch's sketch CELLS into a stored cell
table, so corpus-wide heavy-hitter estimates stay queryable at delta
cost while documents stream in.

Why CMS is the right streaming sketch: its cells are ADDITIVE
(operators/text.countmin_cells — cells(a ∪ b) == cellwise-sum), so the
maintained state is a fixed d×w integer grid regardless of stream
length, and the merged sketch is BIT-IDENTICAL to the batch sketch over
the union of all micro-batches (pinned streamed==batch in
tests/test_streaming_sketch.py — no tolerance, the deterministic-hash
property of the batch query carried into streaming).

Exactly-once discipline: identical to streaming/kpi.py — an additive
merge is not idempotent, so every commit is a new store version
published by one atomic pointer that records the batch_id
(streaming/store.py), and a replayed batch id is a no-op. One target
binds to one checkpoint lineage.

State story at 100 TB: the stored table is ≤ CMS_D × CMS_W rows (4096)
FOREVER — the whole point of sketch maintenance; each micro-batch costs
one tokenize + term-grain combine of the DELTA plus a merge over the
4096-row grid. The streaming engine itself holds no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import countmin_cells, countmin_entries, term_counts
from . import store
from .events import _await_or_raise


def apply_sketch_batch(batch_df: DataFrame, batch_id: int, target: str) -> None:
    """Fold one document micro-batch's CMS cells into the stored grid.
    Replay-safe: a batch_id at or below the published one is skipped."""
    ptr = store.current(target)
    if ptr is not None and batch_id <= ptr["batch_id"]:
        return  # crash-replayed batch: already folded in
    new = countmin_cells(term_counts(batch_df))
    if ptr is not None:
        merged = (
            store.read(batch_df.sparkSession, target)
            .unionByName(new)
            .groupBy("r", "c")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
    else:
        merged = new
    store.commit(merged, target, batch_id)


def maintain_sketch_stream(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` (availableNow) folding every micro-batch's
    cells into the sketch at ``target``."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: apply_sketch_batch(df, bid, target)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, timeout_sec)


def read_sketch_cells(spark: SparkSession, target: str) -> DataFrame:
    """The maintained (r, c, n) grid."""
    return store.read(spark, target)


def cms_estimate(spark: SparkSession, target: str, terms: DataFrame) -> DataFrame:
    """Point estimates min_r cell(r, h_r(term)) for a (term) relation
    against the maintained sketch — the standard CMS probe, a
    CMS_D-fanout broadcast-able join against the ≤ 4096-row grid.
    Terms absent from every stream document estimate 0 (their cells
    may not exist in the stored grid — COALESCE keeps the probe
    honest rather than dropping the row). Probes hash the LOWERCASED
    form: the grid is built over lower_terms' lowercased stream, so a
    raw-case probe would hash to foreign cells and silently
    under-estimate — violating the one-sided guarantee (review
    finding, r12f). The caller's original term is preserved in the
    output; case-variants of one canonical term share its estimate."""
    canon = terms.select(
        F.col("term").alias("orig"), F.lower("term").alias("term")
    )
    probes = countmin_entries(
        canon.select("term")
        .distinct()
        .withColumn("tf", F.lit(0).cast("bigint"))
    ).select("term", "r", "c")
    cells = read_sketch_cells(spark, target)
    return (
        probes.join(cells, ["r", "c"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("cms_est"))
        .join(canon, "term")
        .select(F.col("orig").alias("term"), "cms_est")
        .orderBy("term")
    )

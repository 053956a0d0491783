"""Streaming ingest-novelty scoring against a persistent shingle store
— the streaming form of plans/signal_queries.corpus_ngram_novelty,
completing the incremental family (KPI merge, HLL distinct, CMS,
dedup, novelty).

Each micro-batch of documents is scored against every shingle ingested
BEFORE it (the store is never re-shingled) plus the batch's own
earlier docs (within-batch first-occurrence by min doc_id — the batch
query's tie-break), then the batch's NEW shingles are appended to the
store. With batches arriving in doc_id order (ingest order — the
definition the batch query itself uses: "doc_id order = ingest
order"), the union of all per-batch outputs equals the one-shot
corpus_ngram_novelty bit-for-bit, which
tests/test_streaming_novelty.py pins exact. Out-of-order arrival would
need min-rewrite retractions — the documented swap is carrying
(g, min_doc_id) in the store and re-emitting demoted docs, which no
consumer of a novelty signal has needed.

Exactly-once under dirty inputs and crashes, as in dedup.py:
re-delivered doc_ids are dropped by an anti-join against the store's
ids/ relation (within-batch duplicates collapse first), so a document
never re-scores as 0-novel against its own shingles; the store (ids/ +
grams/) and the output commit as append stores (streaming/store.py).

State story at 100 TB: the streaming engine holds NO state. The store
grows with the DISTINCT shingle count (sublinear in tokens on real
corpora); each batch costs one shingle explode plus a gram-keyed
anti-join against the store — the same linear shape as the batch
query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import shingles_from_tokens
from ..operators.text import tokens_expr
from . import store


def apply_novelty_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    out_dir: str,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Score one document micro-batch against the shingle store at
    ``store_dir``, append its rows under ``out_dir`` and its ids and new
    shingles to the store (the foreachBatch body of
    novelty_stream_against_store)."""
    spark = batch_df.sparkSession
    ptr = store.sync_mirror(store_dir, out_dir)
    batch = batch_df.dropDuplicates([id_col])
    old_g = None
    if ptr is not None:
        old_g = store.scan(spark, store_dir, "grams")
        batch = batch.join(
            store.scan(spark, store_dir, "ids").select(F.col("did").alias(id_col)),
            id_col,
            "left_anti",
        )
    if batch.isEmpty():
        return
    version = store.next_version(ptr)
    tall = (
        batch.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks"))
        .select(
            id_col,
            F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("g"),
        )
        .persist()  # three consumers below; batch-sized
    )
    try:
        first = tall.groupBy("g").agg(F.min(id_col).alias("first_doc"))
        store.write_version(
            batch.select(F.col(id_col).alias("did")),
            os.path.join(store_dir, "ids"),
            version,
        )
        new_grams = (
            first.select("g")
            if old_g is None
            else first.select("g").join(old_g, "g", "left_anti")
        )
        store.write_version(new_grams, os.path.join(store_dir, "grams"), version)
        scored = tall.join(first, "g")
        if old_g is not None:
            scored = scored.join(old_g.withColumn("_seen", F.lit(True)), "g", "left")
        else:
            scored = scored.withColumn("_seen", F.lit(None).cast("boolean"))
        novel = F.when(
            (F.col("first_doc") == F.col(id_col)) & F.col("_seen").isNull(), 1
        ).otherwise(0)
        per_doc = (
            scored.groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                F.sum(novel).cast("bigint").alias("n_novel"),
            )
            .select(
                id_col,
                "n_shingles",
                "n_novel",
                (
                    F.col("n_novel").cast("double")
                    / F.col("n_shingles").cast("double")
                ).alias("novelty_frac"),
            )
        )
        store.write_version(per_doc, out_dir, version)
    finally:
        tall.unpersist()
    store.publish_version(store_dir, out_dir, version, batch_id)


def novelty_stream_against_store(
    stream_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_sec: int = 180,
) -> None:
    """Drain ``stream_docs`` (documents schema), scoring each batch's
    per-doc novelty against the shingle store at ``store_dir``
    (ids/ + grams/) and appending (doc_id, n_shingles, n_novel,
    novelty_frac) rows under ``out_dir``."""
    store.drain(
        stream_docs,
        lambda df, bid: apply_novelty_batch(
            df, bid, store_dir, out_dir, n, text_col, id_col
        ),
        checkpoint,
        timeout_sec,
    )


def read_novelty(spark: SparkSession, out_dir: str) -> DataFrame:
    """Accumulated per-doc novelty rows across every committed batch."""
    return store.scan(spark, out_dir)

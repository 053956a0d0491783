"""Streaming corpus dedup against a persistent signature store — the
streaming form of operators/dedup.py incremental dedup, completing the
incremental trio (KPI merge, HLL distinct, dedup).

Each micro-batch of documents is deduped against everything ingested
BEFORE it (new×old via the store's band rows + shingles — the old
corpus is never re-hashed) and against itself (new×new), then its own
relations are appended to the store. Every near-dup pair is emitted
exactly once — when its NEWEST member arrives — so the union of all
per-batch pair outputs equals the one-shot full-corpus dedup
(minhash_dedup_pairs), which tests/test_streaming_dedup.py pins exact.

Exactly-once under dirty inputs and crashes:
- a doc_id re-delivered by the source (duplicate file, upstream
  replay, a fresh checkpoint over the same files) is dropped by an
  anti-join against the store's ingested ids, and within-batch id
  duplicates collapse first, so a document never pairs with its own
  stored copy or re-emits its history;
- the store (bands/ + shingles/) and the pair output commit as append
  stores (streaming/store.py) under the store's next version number.

State story at 100 TB: the streaming engine holds NO state. The store
grows linearly; each batch costs its own signature computation plus a
semi-join-pruned bucket join against the store (untouched buckets die
at the store scan — operators/dedup.py pairs_from_relations).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import pairs_from_relations, signature_store_relations
from . import store


def apply_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    pairs_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> None:
    """Dedup one document micro-batch against the signature store at
    ``store_dir``, append its pairs under ``pairs_dir`` and its
    relations to the store (the foreachBatch body of
    dedup_stream_against_store)."""
    spark = batch_df.sparkSession
    ptr = store.sync_mirror(store_dir, pairs_dir)
    batch = batch_df.dropDuplicates([id_col])
    old_b = old_s = None
    if ptr is not None:
        old_b = store.scan(spark, store_dir, "bands")
        old_s = store.scan(spark, store_dir, "shingles")
        # re-delivered ids are already represented in the store;
        # processing them again would self-pair and re-emit history
        batch = batch.join(
            old_s.select(F.col("did").alias(id_col)), id_col, "left_anti"
        )
    if batch.isEmpty():
        return  # a fully re-delivered batch: nothing to pair or append
    # compute the batch's relations ONCE: write them, then read back for
    # candidate generation (the lazy plans would otherwise re-run the
    # 64-hash pipeline for every downstream action), with the schema
    # each version stores, so the read-back infers nothing
    nb, ns = signature_store_relations(
        batch, num_hashes=num_hashes, bands=bands, n=n,
        text_col=text_col, id_col=id_col,
    )
    version = store.next_version(ptr)
    nb_path = store.write_version(nb, os.path.join(store_dir, "bands"), version)
    ns_path = store.write_version(ns, os.path.join(store_dir, "shingles"), version)
    pairs = pairs_from_relations(
        store.load(spark, [nb_path]),
        store.load(spark, [ns_path]),
        old_b,
        old_s,
        threshold=threshold,
        max_bucket=max_bucket,
        sort=False,  # parquet gives no cross-file order anyway
    )
    store.write_version(pairs, pairs_dir, version)
    store.publish_version(store_dir, pairs_dir, version, batch_id)


def dedup_stream_against_store(
    stream_docs: DataFrame,
    store_dir: str,
    pairs_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    timeout_sec: int = 180,
) -> None:
    """Drain ``stream_docs`` (documents schema), folding each batch into
    the signature store at ``store_dir`` (bands/ + shingles/) and
    appending its near-dup pairs under ``pairs_dir``. ``max_bucket``
    passes through to the candidate stage — the hot-bucket cap is the
    production posture for boilerplate bursts (see _bucket_pairs)."""
    store.drain(
        stream_docs,
        lambda df, bid: apply_dedup_batch(
            df, bid, store_dir, pairs_dir, threshold, num_hashes, bands, n,
            text_col, id_col, max_bucket,
        ),
        checkpoint,
        timeout_sec,
    )


def read_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Accumulated near-dup pairs across every committed batch."""
    return store.scan(spark, pairs_dir)

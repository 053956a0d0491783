"""Streaming dedup against the signature store (streaming/dedup.py):
the union of per-batch pair outputs must equal the one-shot full-corpus
dedup — every pair emitted exactly once, when its newest member
arrives — and a restart with the drained source re-emits nothing."""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.operators.dedup import (
    minhash_dedup_pairs,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming.harness import (
    chunked_file_source,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.dedup import (
    dedup_stream_against_store,
    read_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _doc_chunks(spark, tmp_path, n_files=3):
    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_src")
    chunked_file_source(docs, "doc_id", src, n_files)
    return src, docs


def _drain(spark, schema, src, store, pairs_dir, ckpt):
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    dedup_stream_against_store(stream, store, pairs_dir, ckpt)


def _pairs(spark, pairs_dir):
    return {
        (r.doc_a, r.doc_b, r.jaccard) for r in read_pairs(spark, pairs_dir).collect()
    }


def _new_ids(docs):
    """Copies of every 7th document under ids no lineage has seen."""
    return docs.filter(F.pmod(F.col("doc_id"), 7) == 0).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )


def _parquet_files(rel_dir):
    return glob.glob(os.path.join(rel_dir, "**", "*.parquet"), recursive=True)


def test_accumulated_stream_pairs_equal_full_corpus_dedup(spark, tmp_path):
    src, docs = _doc_chunks(spark, tmp_path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store, pairs_dir, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )
    dedup_stream_against_store(stream, store, pairs_dir, ckpt)

    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_pairs(spark, pairs_dir).collect()
    )
    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_dedup_pairs(docs).collect()
    )
    assert got == want  # exact ==, jaccard values included
    assert got  # non-vacuous: the corpus has near-dups at this sf
    # the store accumulated every batch's relations
    n_batches = len(os.listdir(os.path.join(store, "bands")))
    assert n_batches == 3

    # restart with the drained source + same checkpoint: nothing new
    stream2 = spark.readStream.schema(docs.schema).parquet(src)
    dedup_stream_against_store(stream2, store, pairs_dir, ckpt)
    again = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_pairs(spark, pairs_dir).collect()
    )
    assert again == want


def test_redelivered_docs_do_not_self_pair_or_reemit(spark, tmp_path):
    """A doc_id re-delivered by the source (duplicate file / upstream
    replay — normal input for a dedup system) must neither pair with
    its own stored copy nor re-emit its history: accumulated pairs
    still equal the one-shot dedup over the DISTINCT corpus."""
    docs = load_table(spark, SF_DIR, "documents")
    half = docs.filter(F.pmod(F.col("doc_id"), 2) == 0)
    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop_file(df, name):
        stage = f"{src}/_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.move(f"{stage}/{part}", f"{src}/{name}.parquet")
        shutil.rmtree(stage)

    drop_file(half, "a")
    store, pairs_dir, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )

    def drain():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        dedup_stream_against_store(stream, store, pairs_dir, ckpt)

    drain()
    # re-deliver the SAME docs plus the other half
    drop_file(half, "a_again")
    drop_file(docs.filter(F.pmod(F.col("doc_id"), 2) == 1), "b")
    drain()

    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_pairs(spark, pairs_dir).collect()
    )
    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_dedup_pairs(docs).collect()
    )
    assert got == want
    assert all(a != b for a, b, _ in got)  # no self-pairs


def test_fresh_checkpoint_appends_to_the_store(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0. Its batches must
    append to the store after the first lineage's, not overwrite the
    first lineage's batches that carry the same ids."""
    src, docs = _doc_chunks(spark, tmp_path)
    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")
    _drain(spark, docs.schema, src, store, pairs_dir, str(tmp_path / "ckpt1"))
    first = _pairs(spark, pairs_dir)

    extra = _new_ids(docs)
    src2 = str(tmp_path / "docs_src2")
    chunked_file_source(extra, "doc_id", src2, 1)
    _drain(spark, docs.schema, src2, store, pairs_dir, str(tmp_path / "ckpt2"))

    # every doc id in the store's shingle files, read straight off disk
    stored = {
        i
        for f in _parquet_files(os.path.join(store, "shingles"))
        for i in pq.read_table(f, columns=["did"]).column("did").to_pylist()
    }
    union = docs.unionByName(extra)
    assert stored == {r.doc_id for r in union.select("doc_id").collect()}
    got = _pairs(spark, pairs_dir)
    assert first and first <= got
    want = {
        (r.doc_a, r.doc_b, r.jaccard) for r in minhash_dedup_pairs(union).collect()
    }
    assert got == want


def test_unreadable_store_relation_fails_the_next_batch(spark, tmp_path):
    """A committed store file that is not parquet must fail the next
    batch. Reading it as an empty store would skip the pairing of the
    new documents against every stored one without a trace."""
    src, docs = _doc_chunks(spark, tmp_path)
    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")
    _drain(spark, docs.schema, src, store, pairs_dir, str(tmp_path / "ckpt"))
    for f in glob.glob(os.path.join(store, "bands", "**", ".*.crc"), recursive=True):
        os.remove(f)  # no checksum sidecar: the parquet reader meets the bytes
    files = _parquet_files(os.path.join(store, "bands"))
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")

    src2 = str(tmp_path / "docs_src2")
    chunked_file_source(_new_ids(docs), "doc_id", src2, 1)
    with pytest.raises(StreamingQueryException):
        _drain(spark, docs.schema, src2, store, pairs_dir, str(tmp_path / "ckpt2"))

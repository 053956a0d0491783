"""Streaming novelty against the shingle store (streaming/novelty.py):
with in-id-order batches, the union of per-batch outputs must equal
the one-shot corpus_ngram_novelty bit-for-bit; a restart with the
drained source re-emits nothing; re-delivered docs are dropped."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.plans.signal_queries import (
    corpus_ngram_novelty,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming.harness import (
    range_chunked_file_source,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.novelty import (
    novelty_stream_against_store,
    read_novelty,
)

SF_DIR = "/root/testdata/sf0.001"


def _source(spark, tmp_path, n_files=3):
    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_src")
    range_chunked_file_source(docs, "doc_id", src, n_files)
    return src, docs


def _run(spark, docs, src, tmp_path):
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store, out, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "novelty"),
        str(tmp_path / "ckpt"),
    )
    novelty_stream_against_store(stream, store, out, ckpt)
    return store, out, ckpt


def test_streamed_union_equals_batch_novelty(spark, tmp_path):
    src, docs = _source(spark, tmp_path)
    store, out, _ = _run(spark, docs, src, tmp_path)

    got = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty_frac)
        for r in read_novelty(spark, out).collect()
    )
    want = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty_frac)
        for r in corpus_ngram_novelty(spark, SF_DIR).collect()
    )
    assert got == want  # exact ==, fractions included
    assert got  # non-vacuous
    # some doc is non-novel only because of a PRIOR batch's shingles —
    # i.e. the store actually carried state across batches
    n_batches = len(os.listdir(os.path.join(store, "grams")))
    assert n_batches == 3


def test_restart_with_drained_source_is_noop(spark, tmp_path):
    src, docs = _source(spark, tmp_path)
    store, out, ckpt = _run(spark, docs, src, tmp_path)
    before = sorted(map(tuple, read_novelty(spark, out).collect()))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    novelty_stream_against_store(stream, store, out, ckpt)
    after = sorted(map(tuple, read_novelty(spark, out).collect()))
    assert after == before


def test_redelivered_batch_is_dropped(spark, tmp_path):
    """A second run over a FRESH checkpoint replays every file; the
    store's ingested-ids anti-join must drop all of them (no doc can
    re-score against its own stored shingles)."""
    src, docs = _source(spark, tmp_path)
    store, out, _ = _run(spark, docs, src, tmp_path)
    before = sorted(map(tuple, read_novelty(spark, out).collect()))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    novelty_stream_against_store(
        stream, store, out, str(tmp_path / "ckpt2")
    )
    after = sorted(map(tuple, read_novelty(spark, out).collect()))
    assert after == before


def test_fresh_checkpoint_appends_to_the_store(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0. Its batches must
    append to the store after the first lineage's, not overwrite the
    first lineage's batches that carry the same ids."""
    src, docs = _source(spark, tmp_path)
    store, out, _ = _run(spark, docs, src, tmp_path)
    first = set(map(tuple, read_novelty(spark, out).collect()))

    # copies of every 7th document under ids no lineage has seen
    extra = docs.filter(F.pmod(F.col("doc_id"), 7) == 0).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    src2 = str(tmp_path / "docs_src2")
    range_chunked_file_source(extra, "doc_id", src2, 1)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    novelty_stream_against_store(stream, store, out, str(tmp_path / "ckpt2"))

    # every doc id in the store's id files, read straight off disk
    stored = {
        i
        for f in glob.glob(
            os.path.join(store, "ids", "**", "*.parquet"), recursive=True
        )
        for i in pq.read_table(f, columns=["did"]).column("did").to_pylist()
    }
    want_ids = {r.doc_id for r in docs.unionByName(extra).select("doc_id").collect()}
    assert stored == want_ids
    got = set(map(tuple, read_novelty(spark, out).collect()))
    assert first and first <= got
    # a copy's shingles are all in the store: nothing in it is novel
    copies = [r for r in read_novelty(spark, out).collect() if r.doc_id >= 100_000]
    assert len(copies) == extra.count()
    assert all(r.n_novel == 0 for r in copies)

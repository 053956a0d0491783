"""File-source micro-batch harness: split a DataFrame into N
single-file parquet chunks under a source directory, so a
``readStream.option("maxFilesPerTrigger", 1)`` over the directory
replays the data as N micro-batches. Used by the streaming tests — one
home so a harness fix applies once (this was copy-pasted four times)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunked_file_source(
    df: DataFrame, id_col: str, src: str, n_chunks: int = 3
) -> int:
    """Write ``df`` as ``n_chunks`` single-file parquet chunks under
    ``src`` (chunk i holds rows with ``id_col % n_chunks == i``; empty
    chunks are skipped) and return the total row count.

    Refuses a source directory that already holds ANY visible file: a
    readStream over ``src`` ingests every non-hidden file it finds, so
    stale content of any name — not just ``chunk_*`` — would be
    replayed alongside the new chunks and the returned count would
    disagree with what the stream ingests (review findings, r10 +
    r10-ADVICE: the original guard only matched the ``chunk_`` prefix)."""
    os.makedirs(src, exist_ok=True)
    stale = [f for f in os.listdir(src) if not f.startswith((".", "_"))]
    if stale:
        raise ValueError(
            f"source dir {src} already holds files {sorted(stale)}: "
            "a readStream over it would replay them alongside the new "
            "chunks — pass a fresh directory"
        )
    for i in range(n_chunks):
        stage = f"{src}/_stage_{i}"
        df.filter(F.pmod(F.col(id_col), n_chunks) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        if parts:  # an empty pmod bucket writes no part file
            shutil.move(f"{stage}/{parts[0]}", f"{src}/chunk_{i}.parquet")
        shutil.rmtree(stage)
    return df.count()


def range_chunked_file_source(
    df: DataFrame, id_col: str, src: str, n_chunks: int = 3
) -> int:
    """chunked_file_source variant that chunks by CONTIGUOUS id range
    (chunk i holds ids in [i*width, (i+1)*width)) instead of pmod —
    for streams whose semantics depend on INGEST ORDER (the novelty
    store: a shingle's first occurrence is attributed to the lowest
    doc_id, so batches must arrive in id order for the streamed union
    to equal the batch query). The 1-row max-id collect is test-scope
    driver work, documented as such."""
    os.makedirs(src, exist_ok=True)
    stale = [f for f in os.listdir(src) if not f.startswith((".", "_"))]
    if stale:
        raise ValueError(
            f"source dir {src} already holds files {sorted(stale)}: "
            "pass a fresh directory"
        )
    hi = df.agg(F.max(id_col)).collect()[0][0]
    width = int(hi) // n_chunks + 1
    for i in range(n_chunks):
        stage = f"{src}/_stage_{i}"
        df.filter(
            (F.col(id_col) >= i * width) & (F.col(id_col) < (i + 1) * width)
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        if parts:
            shutil.move(f"{stage}/{parts[0]}", f"{src}/chunk_{i}.parquet")
        shutil.rmtree(stage)
    return df.count()

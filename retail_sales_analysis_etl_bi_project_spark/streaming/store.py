"""Versioned parquet stores with an atomic pointer — the one commit
protocol of the foreachBatch sinks, and the runner that drains a stream
through a sink.

Layout of a store at ``<target>``: the JSON pointer ``_CURRENT``
(``{"version": n, "batch_id": b}``) and immutable parquet version dirs
``[<relation>/]_v<n>/``, each holding its table's Spark schema as
``_schema.json``. A commit writes its version dirs (data, then schema),
then publishes the pointer with a tmp file + ``os.replace`` (atomic on
a POSIX filesystem). A fold's version is one parquet file that the
driver writes from the collected merge with page checksums, which every
store scan verifies; the other versions are Spark parquet writes. A
reader resolves the pointer once and scans only the versions it names,
so it never sees a half-written table; it takes the schema from
``_schema.json``, so building the scan launches no schema-inference
job (a version dir without the file is inferred). A crash before the
publish leaves orphan dirs under the next version number, which the
replayed batch rewrites, so no reaper is needed.
Version numbers are the store's, never the stream's batch ids.

- Snapshot stores (``read``/``commit``/``fold``; streaming/kpi,
  anomaly, churn, sketch and the events upsert): a version is the
  whole table. A publish keeps the new version and the one before it,
  so a reader's version stays on disk until a second commit lands.
  ``fold`` merges a batch in ONE aggregate over the batch's rows
  unioned with the stored table, so a sink whose rows are per-record
  (kpi, anomaly) pays no separate delta aggregate. A fold store is an
  aggregate bounded by its key domain, so ``fold`` collects the merge
  whole to the driver (``toArrow``, the same two jobs a Spark write
  runs) and writes it as one file: no Hadoop output committer, whose
  temporary dirs, ``_SUCCESS`` marker and ``.crc`` files fork a
  ``chmod`` each on a Hadoop build without native IO. A merge above
  ``spark.driver.maxResultSize`` fails the batch before anything is
  written, and the replay is safe. The events upsert grows with event
  volume, so ``commit`` writes it through Spark.
- Append stores (``scan``/``write_version``/``publish_version``;
  streaming/dedup and novelty): a version is one batch's delta under
  each relation dir, and a reader unions versions 0..n. The sink's
  output dir is an append store whose pointer is published right after
  the store's; ``sync_mirror`` repairs one left behind by a crash.

Exactly-once: foreachBatch delivers each batch at least once, with
batch ids strictly increasing within one checkpoint. An additive merge
is not idempotent, so ``fold`` skips a batch whose id is at or below
the published ``batch_id``. That binds a fold target to one checkpoint
lineage: a fresh checkpoint restarts ids at 0 and needs a fresh
target. The append stores instead anti-join away doc ids the store
already holds, which holds across lineages; the upsert merge is
idempotent and needs no guard.

The ``_`` prefix hides version dirs from Spark's file index, so a
reader that bypasses this module fails loudly instead of unioning
versions; it also keeps ``_schema.json`` out of a version's scan.
One writer per target, local filesystem only; a table format such as
Delta Lake provides the same log-and-pointer idea with transactions.
The stream's own checkpoint (offsets, commits) is Spark's, written
through Hadoop's FileSystem API by the manager session.py sets.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

POINTER = "_CURRENT"
SCHEMA = "_schema.json"
FOLD_FILE = "part-0.parquet"  # the one data file of a fold's version


def publish(path: str, doc: dict) -> None:
    """Atomically replace the JSON file at ``path`` with ``doc``."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


def current(target: str) -> dict | None:
    """The published pointer, or None before the first commit."""
    try:
        with open(os.path.join(target, POINTER)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def next_version(ptr: dict | None) -> int:
    """The version number the next commit after ``ptr`` writes."""
    return 0 if ptr is None else ptr["version"] + 1


def _version_dir(target: str, version: int) -> str:
    return os.path.join(target, f"_v{version}")


def write_version(df: DataFrame, target: str, version: int) -> str:
    """Write ``df`` and its schema as version dir ``version`` under
    ``target`` (replacing a crashed write's orphan) and return its path.
    Publishes nothing."""
    path = _version_dir(target, version)
    df.write.mode("overwrite").parquet(path)
    _write_schema(path, df.schema)
    return path


def _write_schema(path: str, schema: StructType) -> None:
    with open(os.path.join(path, SCHEMA), "w") as f:
        f.write(schema.json())


def load(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Scan the version dirs ``paths`` with the schema stored in the
    last one, or by inference (one Spark job) if it has none, verifying
    every page checksum the files carry. Spark makes every file-read
    field nullable, so both give one schema."""
    reader = spark.read.option("parquet.page.verify-checksum.enabled", "true")
    try:
        with open(os.path.join(paths[-1], SCHEMA)) as f:
            schema = StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return reader.parquet(*paths)
    return reader.schema(schema).parquet(*paths)


def read(spark: SparkSession, target: str) -> DataFrame:
    """The committed table: a scan of the version the pointer names."""
    ptr = current(target)
    if ptr is None:
        raise FileNotFoundError(f"no committed version under {target}")
    return load(spark, [_version_dir(target, ptr["version"])])


def _publish_snapshot(target: str, version: int, batch_id: int) -> None:
    """Publish the written ``version`` of a snapshot store, then delete
    every version dir but it and the one before it."""
    publish(os.path.join(target, POINTER), {"version": version, "batch_id": batch_id})
    keep = {f"_v{version}", f"_v{version - 1}"}
    for name in os.listdir(target):
        if name.startswith("_v") and name not in keep:
            shutil.rmtree(os.path.join(target, name), ignore_errors=True)


def commit(df: DataFrame, target: str, batch_id: int) -> None:
    """Write ``df`` as the next version through Spark and publish it."""
    version = next_version(current(target))
    write_version(df, target, version)
    _publish_snapshot(target, version, batch_id)


def fold(
    batch_df: DataFrame,
    batch_id: int,
    target: str,
    rows: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold one micro-batch into the snapshot store at ``target``: commit
    ``merge(rows(batch_df) ∪ read(target))``, or ``merge(rows(batch_df))``
    on the first batch. ``rows`` maps the batch to the store's columns
    and ``merge`` is the one aggregate, so it must accept both its own
    output and ``rows``' (a partial of one record, or a batch-local
    partial). A batch id at or below the published one is already
    folded in and is skipped. The merged table is collected to the
    driver and written as the version's one file (module docstring)."""
    ptr = current(target)
    if ptr is not None and batch_id <= ptr["batch_id"]:
        return  # crash-replayed batch: already folded in
    new = rows(batch_df)
    if ptr is not None:
        new = new.unionByName(read(batch_df.sparkSession, target))
    merged = merge(new)
    table = merged.toArrow()
    version = next_version(ptr)
    path = _version_dir(target, version)
    shutil.rmtree(path, ignore_errors=True)  # a crashed write's orphan
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, FOLD_FILE), write_page_checksum=True)
    _write_schema(path, merged.schema)
    _publish_snapshot(target, version, batch_id)


def scan(spark: SparkSession, target: str, relation: str = "") -> DataFrame:
    """Every published version of an append store's ``relation``."""
    ptr = current(target)
    if ptr is None:
        raise FileNotFoundError(f"no committed version under {target}")
    rel = os.path.join(target, relation)
    return load(spark, [_version_dir(rel, v) for v in range(ptr["version"] + 1)])


def publish_version(target: str, mirror: str, version: int, batch_id: int) -> None:
    """Publish ``version`` of the append store at ``target``, then of its
    output dir ``mirror``: every version dir under both is written."""
    doc = {"version": version, "batch_id": batch_id}
    publish(os.path.join(target, POINTER), doc)
    publish(os.path.join(mirror, POINTER), doc)


def sync_mirror(target: str, mirror: str) -> dict | None:
    """The append store's published pointer, re-published to ``mirror``
    if a crash between the two publishes left the mirror behind."""
    ptr = current(target)
    if ptr is not None and current(mirror) != ptr:
        publish(os.path.join(mirror, POINTER), ptr)
    return ptr


def await_or_raise(q, timeout_sec: int) -> None:
    """``awaitTermination(timeout)`` returns False on timeout WITHOUT
    stopping the query — ignoring that bool leaves a zombie query
    holding partial sink output and checkpoint locks. Stop it and fail
    loudly instead; exactly-once sinks make the retry safe."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} exceeded {timeout_sec}s; "
            "stopped to avoid a leaked query over partial sink output"
        )


def drain(
    stream_df: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_sec: int,
) -> None:
    """Run ``body(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` until the source is drained (availableNow)."""
    q = (
        stream_df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, timeout_sec)

"""Versioned parquet store with an atomic pointer — the one commit
protocol of the foreachBatch sinks (streaming/kpi, anomaly, churn,
sketch and the events upsert).

Layout of a store at ``<target>``:

- ``_v<n>/``: immutable parquet version dirs, one per commit;
- ``_CURRENT``: the JSON pointer ``{"version": n, "batch_id": b}``.

``commit`` writes version ``current + 1``, then publishes the pointer
with a tmp file + ``os.replace`` (atomic on a POSIX filesystem), then
drops every version but the new one and the previous one. A reader
resolves the pointer once and scans that version, so it never sees a
missing or half-written table: the version it resolved stays on disk
until a second commit lands. A crash before the publish leaves only an
orphan dir, which the replayed batch rewrites under the same name, so
no reaper is needed. The pointer's ``batch_id`` is the replay guard of
the additive sinks: a batch at or below it is already folded in.

The ``_`` prefix hides the version dirs from Spark's file index, so a
reader that bypasses ``read`` and scans ``<target>`` fails loudly
instead of silently unioning the retained versions. One writer per
target, local filesystem only. The same log-and-pointer idea, with
transactions, is what a table format such as Delta Lake provides.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

POINTER = "_CURRENT"


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


def _version_dir(target: str, version: int) -> str:
    return os.path.join(target, f"_v{version}")


def read(spark: SparkSession, target: str) -> DataFrame:
    """The committed table: a scan of the version the pointer names."""
    ptr = current(target)
    if ptr is None:
        raise FileNotFoundError(f"no committed version under {target}")
    return spark.read.parquet(_version_dir(target, ptr["version"]))


def commit(df: DataFrame, target: str, batch_id: int) -> None:
    """Write ``df`` as the next version and publish it."""
    ptr = current(target)
    version = 0 if ptr is None else ptr["version"] + 1
    df.write.mode("overwrite").parquet(_version_dir(target, version))
    publish(os.path.join(target, POINTER), {"version": version, "batch_id": batch_id})
    keep = {f"_v{version}", f"_v{version - 1}"}
    for name in os.listdir(target):
        if name.startswith("_v") and name not in keep:
            shutil.rmtree(os.path.join(target, name), ignore_errors=True)

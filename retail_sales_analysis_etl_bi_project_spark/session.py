"""SparkSession factory.

The reference (etl/etl.py:31-45) builds a SQLAlchemy engine to an external
Oracle; our engine's "connection" is a SparkSession. Config choices map
reference semantics onto Spark:

- ANSI mode OFF: pandas ``errors="coerce"`` (etl/etl.py:66,72-73,87-88)
  means invalid casts become NULL, never errors. Non-ANSI Spark casts
  (plus try_* functions) reproduce that exactly.
- AQE ON: runtime coalescing of shuffle partitions, join-strategy
  switching and skew-join handling — required at 100 TB, harmless at
  test scale.
- Broadcast threshold: all reference dims (<=50k rows) are far below
  10 MB, so every dim join becomes a broadcast hash join, which is the
  physical plan the reference hand-rolled with dict lookups
  (etl/etl.py:266-282).
- Generated-code cache of ``CODEGEN_CACHE_ENTRIES`` classes: Spark keeps
  100 compiled whole-stage classes by default, but the 12 dashboard
  queries alone cycle ~190, so at the default every warm dashboard
  round recompiled ~185 of them with Janino (8-26 per query, on the
  collect path). The bound covers the working sets measured on 4
  cores: the dashboard deck (190 classes), one ``run_etl`` pass of
  100k sales rows (124; ~107 recompiled per warm pass at the default),
  a warm ``stream_ingest`` ingest (0 new classes) and one pass over the
  whole registry at sf0.001 (3,096 classes; 5,339 compilations at the
  default). An entry carries ~4.7 KB of bytecode (two generated classes
  of ~2.3 KB mean on the dashboard), so a full cache holds ~19 MB.
  ``tools/sweep_registry.py`` re-measures the registry's figure.
  ``spark.sql.codegen.cache.maxEntries`` is a static conf, read once
  when the JVM first generates code, so only the first session in a
  JVM applies it; a later ``get_spark`` in the same JVM keeps that
  cache.
- Streaming checkpoints through Hadoop's ``FileSystem`` API: every
  offset, commit, file-sink metadata and state-store file goes through
  ``FileSystemBasedCheckpointFileManager`` instead of Spark's default
  ``FileContextBasedCheckpointFileManager``. Without Hadoop's native
  library (the pip-installed Spark ships none),
  ``RawLocalFileSystem`` forks ``chmod``, ``readlink`` and ``stat``
  child processes, and the FileContext manager's create-and-rename
  path (``getFileLinkStatus``, permission calls) forks several per
  write: one checkpoint file took 32-40 ms and 20 PIDs (processes
  plus threads) with it, ~9 ms and 4 PIDs with the FileSystem manager
  (4 cores, Spark 4.1, Hadoop 3.4). A micro-batch writes three such
  files (offset log, commit log, file-source metadata log). Both
  managers write a temp file and rename it; the FileSystem one checks
  that the target is absent first. On a local filesystem ``rename(2)`` is atomic; on HDFS
  ``FileSystem.rename`` refuses to overwrite, so a second writer
  still fails; on S3A a rename is a copy under either manager. Spark
  4.1 moved the class into a ``checkpointing`` package, so the session
  sets the first name in ``CHECKPOINT_FILE_MANAGERS`` that the running
  JVM can load (a name it cannot load fails every stream at
  ``start()``). The conf is a runtime SQL conf, read when a query
  opens its logs, so it is set after ``getOrCreate``.
"""

from __future__ import annotations

import os
from functools import reduce

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Compiled classes kept by Spark's generated-code cache (module docstring).
CODEGEN_CACHE_ENTRIES = 4096
# Spark's FileSystem-based checkpoint manager, newest package first
# (module docstring); the session sets the first one the JVM loads.
CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGERS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.FileSystemBasedCheckpointFileManager",
)


def get_spark(
    app_name: str = "retail-sales-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine, or return the running
    one without re-applying these confs to it (only the checkpoint
    manager is set on every call).

    On a real cluster, ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # ANSI default OFF (pandas errors="coerce" semantics, module
        # docstring above) — but overridable so the local gate can
        # replicate the DRIVER's ANSI-ON session posture, which is how
        # the r12 text_langid_threshold_sweep DIVIDE_BY_ZERO shipped
        # past an ANSI-off-only gate. All engine plans must be
        # ANSI-clean (try_divide / guarded casts), so both postures
        # produce identical results; REPLICA_ANSI proves it per round.
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Python DataSource filter pushdown (sources/pyds.py): a reader
        # that implements pushFilters() ERRORS when this is off (4.1's
        # fail-loud contract), and the conf is read at plan time, so the
        # engine session enables it up front. Ignored by Spark 3.x.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    running = SparkSession._instantiatedSession
    if running is not None and running._sc._jsc is not None:
        # getOrCreate would set the builder's runtime SQL confs on the
        # running session, under every caller that already uses it
        spark = running
    else:
        spark = builder.getOrCreate()
    ensure_nanos_as_long(spark)
    manager = _checkpoint_file_manager(spark)
    if manager is not None and CHECKPOINT_FILE_MANAGER_CONF not in (extra_conf or {}):
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, manager)
    return spark


def _checkpoint_file_manager(spark: SparkSession) -> str | None:
    """The first of ``CHECKPOINT_FILE_MANAGERS`` the session's JVM can
    load, or None (Spark's default manager stays)."""
    for name in CHECKPOINT_FILE_MANAGERS:
        if isinstance(reduce(getattr, name.split("."), spark._jvm), JavaClass):
            return name
    return None


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Spark 3.x-only shim: parquet TIMESTAMP(NANOS) columns (events.ts
    in the driver testdata) can only be read on 3.x via the
    ``nanosAsLong`` legacy conf, which surfaces them as raw nanos longs;
    the loader (sources/tables.py) then truncates to microsecond
    timestamps — the value DuckDB produces for the same file.

    Spark 4.x REMOVED this conf (setting it is a silent no-op) and reads
    TIMESTAMP(NANOS) natively, truncated to identical microsecond
    values, so this helper is skipped there entirely. The loader does
    NOT assume this conf worked: it branches on the scanned dtype.

    This is the ONLY place the conf is mutated, so the policy stays
    greppable in one location."""
    if int(spark.version.split(".")[0]) >= 4:
        return
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")

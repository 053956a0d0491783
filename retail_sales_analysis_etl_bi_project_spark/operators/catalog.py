"""Warehouse catalog management (S6) — the reference's idempotent DDL
executor (etl/etl.py:229-246 splits ddl_oracle.sql on ';' and skips if
dim_customer exists) re-expressed as Spark catalog operations.

Tables are managed Parquet tables in the session catalog; CREATE TABLE
IF NOT EXISTS + tableExists give the same skip-if-present semantics
without string-splitting DDL files.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

# Gold DDL (sql/ddl_oracle.sql:26-85) with Spark types; DECIMAL at the
# DW layer mirrors Oracle NUMBER(p,s). Fact carries both natural and
# surrogate keys (SURVEY.md §1.4).
WAREHOUSE_DDL: dict[str, str] = {
    "dim_customer": """
        customer_key BIGINT, customer_id BIGINT, first_name STRING,
        last_name STRING, gender STRING, age BIGINT, city STRING,
        state STRING, membership_level STRING
    """,
    "dim_product": """
        product_key BIGINT, product_id BIGINT, product_name STRING,
        category STRING, sub_category STRING, brand STRING,
        price DECIMAL(10,2), cost DECIMAL(10,2), color STRING, size STRING
    """,
    "dim_store": """
        store_key BIGINT, store_id BIGINT, store_name STRING, city STRING,
        state STRING, region STRING, store_type STRING
    """,
    "dim_date": """
        date_key INT, calendar_date DATE, day INT, month INT, year INT,
        quarter INT, weekday INT
    """,
    "fact_sales": """
        sales_id BIGINT, customer_id BIGINT, product_id BIGINT,
        store_id BIGINT, customer_key BIGINT, product_key BIGINT,
        store_key BIGINT, date_key INT, quantity BIGINT,
        unit_price DECIMAL(12,2), discount_pct DECIMAL(5,2),
        total_amount DECIMAL(14,2)
    """,
}


def initialise_schema(spark: SparkSession, database: str = "retail_dw") -> bool:
    """Create the star schema if absent (idempotent — reference
    etl/etl.py:229-234 checks has_table('dim_customer') first). Returns
    True when any table was created, False when all already existed.

    Unlike the reference's single-sentinel check, EVERY table runs its
    own CREATE IF NOT EXISTS: a run that died after creating only
    dim_customer must not leave the schema permanently half-built
    behind a sentinel that now reads 'done' (r6 review finding)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    created = False
    for table, cols in WAREHOUSE_DDL.items():
        if spark.catalog.tableExists(f"{database}.{table}"):
            continue
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{table} ({cols}) USING parquet"
        )
        created = True
    return created


def bulk_load(df: DataFrame, table: str, database: str = "retail_dw") -> int:
    """Append a DataFrame into a warehouse table (reference bulk_load,
    etl/etl.py:143-160 — chunked INSERTs become one distributed
    per-partition write; the 5000-row batch knob is obsolete). Returns
    the row count written (reference logged it, etl.py:160)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # Observation rides the write job itself: the lineage executes ONCE
    # and the count is exactly the rows written (a separate df.count()
    # would recompute the full upstream plan and could disagree for
    # non-deterministic sources — r6 review finding).
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).insertInto(f"{database}.{table}")
    return int(obs.get["n"])


def replace_table(df: DataFrame, table: str, database: str = "retail_dw") -> None:
    """if_exists='replace' semantics (reference stg_dim_date load,
    etl/etl.py:197-208)."""
    df.write.mode("overwrite").saveAsTable(f"{database}.{table}")


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 32,
    database: str = "retail_dw",
    sort: bool = True,
) -> None:
    """Persist a table hash-BUCKETED (and per-bucket sorted) on its join
    key, so every later equi-join between tables bucketed on the same
    key with the same bucket count is SHUFFLE-FREE: Spark's scan reports
    the bucket layout as its output partitioning, and SortMergeJoin
    reads bucket b of each side on one task with no Exchange on either
    side.

    This is the scale story for the gold layer's repeated joins: the
    reference re-joins fact⋈dim on every query and leans on Oracle FK
    indexes (/root/reference/sql/ddl_oracle.sql:88-91). At 100 TB a
    fact⋈fact or fact⋈big-dim join shuffles the fact table EVERY query;
    bucketing pays that shuffle once at write time and amortizes it
    across every downstream join and aggregation on the key
    (groupBy(bucket_key) also skips its Exchange).

    Size ``n_buckets`` so one bucket ≈ 128–256 MB at the target scale
    (100 TB fact ⇒ ~500k buckets is wrong — buckets are files per
    writing task; use thousands and pair with month partitioning).
    Both join sides MUST use the same n_buckets, or Spark falls back to
    shuffling the mismatched side."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_key)
    )
    if sort:
        writer = writer.sortBy(bucket_key)
    writer.saveAsTable(f"{database}.{table}")


def jdbc_sink(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 5000,
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """Reference-literal deployment path: push a gold table to an
    EXTERNAL RDBMS over JDBC — the reference's whole sink side is
    SQLAlchemy -> Oracle (etl/etl.py:31-45,143-160, chunksize=5000).
    The engine-native design keeps gold in managed Parquet tables
    (bulk_load/replace_table above: columnar, partition-pruned, no DB
    bottleneck), but a user replacing the reference's literal setup can
    route the same DataFrames here.

    Spark writes JDBC per-partition with ``batchsize``-row batched
    INSERTs — the distributed generalization of the reference's 5k-row
    chunks. ``num_partitions`` caps writer parallelism: an external DB
    has a connection budget, and 1000 executors opening 1000
    connections is a self-inflicted outage; repartition down first
    (coalesce: no shuffle). Driver/dialect jars must be on the Spark
    classpath (none ship in this repo — this container has no external
    DB, so this path is exercised only by its unit test against the
    no-op assertion of plan shape, not a live endpoint).

    Example::

        jdbc_sink(fact, "jdbc:postgresql://dw:5432/retail",
                  "fact_sales", user="etl", password="...",
                  num_partitions=32)
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def _touched_since(path: str, cutoff: float) -> bool:
    """True if anything under ``path`` has an mtime >= cutoff. The
    top-level dir's mtime alone is NOT enough: during a long Spark
    parquet write the task activity happens inside ``_temporary``
    subtrees, so the tmp dir itself can look minutes old while a write
    is very much alive. Walk with early exit — for a genuinely dead
    dir the walk is the price of one directory scan; for a live one it
    exits at the first fresh entry."""
    walk_errors: list[OSError] = []
    try:
        if os.path.getmtime(path) >= cutoff:
            return True
        for root, dirs, files in os.walk(path, onerror=walk_errors.append):
            for name in dirs + files:
                try:
                    if os.path.getmtime(os.path.join(root, name)) >= cutoff:
                        return True
                except OSError:
                    # an entry that vanished mid-walk IS activity (a
                    # writer renaming task files); treat as live
                    return True
    except OSError:
        return True  # unreadable: assume live, never reap blind
    if walk_errors:
        # os.walk swallows unreadable SUBDIRS by default (onerror
        # hook) — fresh activity could hide inside one, so an
        # untraversable tree is never declared dead
        return True
    return False


def reap_stale_tmp_dirs(
    target: str, ttl_sec: int = 600, marker: str = "_tmp_"
) -> None:
    """Remove aged ``<target><marker>*`` siblings (never the committed
    copy); errors never propagate into the batch they ride on. The age
    gate is what makes this safe under CONCURRENT writers: a sibling
    with NO filesystem activity anywhere in its tree for ``ttl_sec``
    (see _touched_since — in-flight Spark writes keep their
    ``_temporary`` subtree hot, so a live write of any duration stays
    fresh) is a crash leftover; anything fresher may be another
    invocation's in-flight copy and deleting it would fail that writer
    mid-swap."""
    parent, base = os.path.dirname(target) or ".", os.path.basename(target)
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    cutoff = time.time() - ttl_sec
    for d in entries:
        if not d.startswith(f"{base}{marker}"):
            continue
        path = os.path.join(parent, d)
        if not _touched_since(path, cutoff):
            shutil.rmtree(path, ignore_errors=True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    streaming/micro-batch ingest needs (each micro-batch commit writes
    >=1 file per partition; a month of 1-minute batches is ~40k tiny
    files whose open/footer costs dominate scans long before data
    volume does). Rewrites the directory to ceil(bytes / target_mb)
    files and swaps it in (write to sibling tmp + two renames — readers
    never observe a half-compacted table).

    Sizing note: the file count comes from the CURRENT on-disk bytes
    (post-encoding), not row counts, so compression ratio changes are
    self-correcting. repartition (round-robin shuffle), not coalesce:
    coalesce(n) would fuse into upstream tasks and produce files sized
    by input-split accident; a compaction's whole point is uniform
    output files. At warehouse scale this runs per PARTITION directory
    (month_key= dirs from save_warehouse) — ENFORCED: a path containing
    subdirectories is refused rather than silently flattened into one
    file that destroys the partition layout (r6 review finding).

    Swap protocol (in place, because other readers open ``path``
    directly, so the streaming stores' versioned layout does not fit;
    FIXED `_prev` name): materialize to a uuid tmp dir, move the
    live dir to `<path>_prev`, move tmp in, remove `_prev`. A crash
    between the two moves leaves the committed data at `_prev`; the
    NEXT invocation restores it before compacting, so no state is ever
    stranded under an unguessable name. The sub-second window where
    `path` itself is absent is inherent to rename-swap on a plain
    filesystem (a table format's manifest commit removes it; readers
    here retry or arrive through the restore path).

    Returns {files_before, files_after, bytes} for the maintenance log.
    """
    import math
    import uuid

    prev = f"{path.rstrip('/')}_prev"
    # crash recovery: a death between the swap moves left the committed
    # table at _prev and nothing at path — restore before compacting
    if not os.path.exists(path) and os.path.exists(prev):
        shutil.move(prev, path)
    # crash recovery, part 2: a death AFTER writing the uuid tmp dir but
    # BEFORE the swap strands `<path>_compact_<hex>` forever (a full
    # copy of the table per crash). Stale tmp siblings are never the
    # committed copy — but a FRESH one may be a concurrent compaction's
    # in-flight write, so the reap is age-gated, not unconditional.
    reap_stale_tmp_dirs(path.rstrip("/"), marker="_compact_")
    entries = os.listdir(path)
    subdirs = [e for e in entries if os.path.isdir(os.path.join(path, e))]
    if subdirs:
        raise ValueError(
            f"compact_parquet: {path} contains partition subdirectories "
            f"({subdirs[:3]}...); run per partition directory so the "
            "layout (and its pruning) survives compaction"
        )
    files = [
        os.path.join(path, f)
        for f in entries
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    if os.path.exists(prev):
        shutil.rmtree(prev)
    shutil.move(path, prev)
    shutil.move(tmp, path)
    shutil.rmtree(prev)
    files_after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    return {
        "files_before": len(files),
        "files_after": files_after,
        "bytes": total_bytes,
    }

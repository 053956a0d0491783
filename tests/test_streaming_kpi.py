"""Streaming incremental KPI maintenance (streaming/kpi.py): the
maintained partials table must equal the batch full recompute
bit-for-bit after draining the stream, survive a restart as a no-op
(also when the checkpoint was begun by another checkpoint manager),
and refuse to double-count a crash-replayed batch id."""

import os
import shutil

from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming import store
from retail_sales_analysis_etl_bi_project_spark.streaming.harness import (
    chunked_file_source,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.kpi import (
    apply_kpi_batch,
    maintain_kpi_stream,
    read_kpi,
)

SF_DIR = "/root/testdata/sf0.001"


def _orders_stream_source(spark, tmp_path, n_files=3):
    """Split sf0.001 orders into n parquet files in a source dir so the
    file stream delivers them as separate micro-batches-worth of data."""
    orders = load_table(spark, SF_DIR, "orders")
    src = str(tmp_path / "orders_src")
    chunked_file_source(orders, "o_orderkey", src, n_files)
    return src, orders


def _expected(orders):
    from retail_sales_analysis_etl_bi_project_spark.functions.money import (
        fixed_point_final,
        fixed_point_partial,
    )

    return sorted(
        map(
            tuple,
            orders.groupBy(
                F.year("o_orderdate").alias("year"),
                F.month("o_orderdate").alias("month"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                fixed_point_partial("o_totalprice").alias("_acc"),
            )
            .groupBy("year", "month")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                fixed_point_final("_acc").alias("revenue"),
            )
            .collect(),
        )
    )


def test_maintained_kpi_equals_full_recompute_and_restart_noop(spark, tmp_path):
    src, orders = _orders_stream_source(spark, tmp_path)
    stream = spark.readStream.schema(orders.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    target, ckpt = str(tmp_path / "kpi"), str(tmp_path / "ckpt")
    maintain_kpi_stream(stream, target, ckpt)

    got = sorted(map(tuple, read_kpi(spark, target).collect()))
    assert got == _expected(orders)  # exact ==: the algebra is bit-exact

    # restart with the drained source + same checkpoint: no new batches,
    # table unchanged
    stream2 = spark.readStream.schema(orders.schema).parquet(src)
    maintain_kpi_stream(stream2, target, ckpt)
    assert sorted(map(tuple, read_kpi(spark, target).collect())) == got


def test_checkpoint_begun_by_spark_default_manager_resumes(spark, tmp_path):
    """Half the source drained with Spark's default FileContext
    checkpoint manager (the layout of checkpoints written before the
    engine set its own), the rest with the engine's FileSystem manager
    on the same checkpoint and target: the table equals the full
    recompute."""
    orders = load_table(spark, SF_DIR, "orders")
    staged, src = str(tmp_path / "staged"), str(tmp_path / "orders_src")
    chunked_file_source(orders, "o_orderkey", staged, 4)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 4
    os.makedirs(src)
    target, ckpt = str(tmp_path / "kpi"), str(tmp_path / "ckpt")

    def drain(names):
        for name in names:
            shutil.move(os.path.join(staged, name), src)
        stream = spark.readStream.schema(orders.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        maintain_kpi_stream(stream, target, ckpt)

    key = "spark.sql.streaming.checkpointFileManagerClass"
    engine = spark.conf.get(key)
    spark.conf.set(key, engine.replace("FileSystemBased", "FileContextBased"))
    try:
        drain(files[:2])
    finally:
        spark.conf.set(key, engine)
    assert store.current(target)["batch_id"] == 1
    drain(files[2:])
    assert store.current(target)["batch_id"] == 3  # resumed, not restarted
    got = sorted(map(tuple, read_kpi(spark, target).collect()))
    assert got == _expected(orders)


def test_replayed_batch_id_is_not_double_counted(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    target = str(tmp_path / "kpi")
    apply_kpi_batch(orders, 0, target)
    once = sorted(map(tuple, read_kpi(spark, target).collect()))
    # crash-replay: same batch id arrives again -> no-op
    apply_kpi_batch(orders, 0, target)
    assert sorted(map(tuple, read_kpi(spark, target).collect())) == once
    # a NEW batch id with new rows does fold in
    apply_kpi_batch(orders, 1, target)
    doubled = {
        (r.year, r.month): r.n_orders
        for r in read_kpi(spark, target).collect()
    }
    base = {(r[0], r[1]): r[2] for r in once}
    assert doubled == {k: 2 * v for k, v in base.items()}


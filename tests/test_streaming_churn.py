"""Streaming active-customer churn maintenance (streaming/churn.py):
the maintained set store's readout must equal the batch
bi_active_customer_churn_jaccard bit-for-bit after draining the
stream, survive a restart as a no-op, and treat a crash-replayed
batch id as a no-op (set union is idempotent anyway — the sidecar
makes the replay cheap, the test proves both layers)."""

from retail_sales_analysis_etl_bi_project_spark.plans.lifecycle_queries import (
    bi_active_customer_churn_jaccard,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming.churn import (
    apply_churn_batch,
    maintain_churn_stream,
    read_churn,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.harness import (
    chunked_file_source,
)

SF_DIR = "/root/testdata/sf0.001"


def test_streamed_churn_equals_batch_and_restart_noop(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    src = str(tmp_path / "orders_src")
    chunked_file_source(orders, "o_orderkey", src, 3)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target, ckpt = str(tmp_path / "churn"), str(tmp_path / "ckpt")
    maintain_churn_stream(stream, target, ckpt)

    got = sorted(map(tuple, read_churn(spark, target).collect()))
    want = sorted(
        map(tuple, bi_active_customer_churn_jaccard(spark, SF_DIR).collect())
    )
    assert got == want and len(got) > 0

    # restart with the drained source + same checkpoint: no-op
    stream2 = spark.readStream.schema(orders.schema).parquet(src)
    maintain_churn_stream(stream2, target, ckpt)
    assert sorted(map(tuple, read_churn(spark, target).collect())) == got


def test_replayed_batch_is_noop_and_set_union_idempotent(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    target = str(tmp_path / "churn")
    apply_churn_batch(orders, 0, target)
    once = sorted(map(tuple, read_churn(spark, target).collect()))
    # sidecar no-op on the same batch id
    apply_churn_batch(orders, 0, target)
    assert sorted(map(tuple, read_churn(spark, target).collect())) == once
    # even a NEW batch id with the SAME rows cannot change a set store
    apply_churn_batch(orders, 1, target)
    assert sorted(map(tuple, read_churn(spark, target).collect())) == once

"""Streaming volume monitor (streaming/anomaly.py): the maintained
count store must yield flags equal to the one-shot batch query
bit-for-bit after draining the stream, a crash-replayed batch id must
not double-count, and a restart must be a no-op."""

from retail_sales_analysis_etl_bi_project_spark.plans.stat_queries import (
    events_anomaly_daily,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming import store
from retail_sales_analysis_etl_bi_project_spark.streaming.harness import (
    chunked_file_source,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.anomaly import (
    anomaly_readout,
    apply_counts_batch,
    maintain_volume_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _events_stream_source(spark, tmp_path, n_files=3):
    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "events_src")
    chunked_file_source(events, "event_id", src, n_files)
    return src, events


def test_streamed_flags_equal_batch_query_and_restart_noop(spark, tmp_path):
    src, events = _events_stream_source(spark, tmp_path)
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    target, ckpt = str(tmp_path / "volume"), str(tmp_path / "ckpt")
    maintain_volume_stream(stream, target, ckpt)

    got = sorted(map(tuple, anomaly_readout(spark, target).collect()))
    want = sorted(map(tuple, events_anomaly_daily(spark, SF_DIR).collect()))
    assert got == want  # exact ==: counts are additive, flags integer

    stream2 = spark.readStream.schema(events.schema).parquet(src)
    maintain_volume_stream(stream2, target, ckpt)
    assert sorted(map(tuple, anomaly_readout(spark, target).collect())) == got


def test_replayed_batch_is_not_double_counted(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    target = str(tmp_path / "volume")
    apply_counts_batch(events, 0, target)
    once = sorted(
        map(tuple, store.read(spark, target).collect())
    )
    apply_counts_batch(events, 0, target)  # crash-replay: no-op
    assert sorted(map(tuple, store.read(spark, target).collect())) == once
    apply_counts_batch(events, 1, target)  # new id folds in
    doubled = {
        (r.event_type, r.day): r.n_events
        for r in store.read(spark, target).collect()
    }
    base = {(r[0], r[1]): r[2] for r in once}
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_streamed_cusum_equals_batch_query(spark, tmp_path):
    from retail_sales_analysis_etl_bi_project_spark.plans.stat_queries import (
        events_cusum_drift,
    )
    from retail_sales_analysis_etl_bi_project_spark.streaming.anomaly import (
        cusum_readout,
    )

    src, events = _events_stream_source(spark, tmp_path)
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    target, ckpt = str(tmp_path / "volume"), str(tmp_path / "ckpt")
    maintain_volume_stream(stream, target, ckpt)
    got = sorted(map(tuple, cusum_readout(spark, target).collect()))
    want = sorted(map(tuple, events_cusum_drift(spark, SF_DIR).collect()))
    assert got == want  # exact ==: counts additive, statistics integer

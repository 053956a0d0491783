"""The versioned-store commit protocol (streaming/store.py) at its commit
boundary, for each of the five foreachBatch sinks: a crash between the
version write and the pointer publish, and a reader running while the
writer commits."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming import store
from retail_sales_analysis_etl_bi_project_spark.streaming.anomaly import (
    anomaly_readout,
    apply_counts_batch,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.churn import (
    apply_churn_batch,
    read_churn,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
    apply_upsert_batch,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.kpi import (
    apply_kpi_batch,
    read_kpi,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.sketch import (
    apply_sketch_batch,
    read_sketch_cells,
)

# sink -> (source table, column the batches are split on, batch body, readout)
SINKS = {
    "kpi": ("orders", "o_orderkey", apply_kpi_batch, read_kpi),
    "anomaly": ("events", "event_id", apply_counts_batch, anomaly_readout),
    "churn": ("orders", "o_orderkey", apply_churn_batch, read_churn),
    "sketch": ("documents", "doc_id", apply_sketch_batch, read_sketch_cells),
    "upsert": ("events", "event_id", apply_upsert_batch, store.read),
}


def _batches(spark, sf_dir, sink, n):
    table, key, _, _ = SINKS[sink]
    df = load_table(spark, sf_dir, table)
    return [df.filter(F.pmod(F.col(key), n) == i) for i in range(n)]


def _rows(df):
    """Collected rows as an order-free, None-safe comparable value."""
    return sorted(repr(tuple(r)) for r in df.collect())


def _state(spark, sink, target):
    return _rows(SINKS[sink][3](spark, target))


@pytest.mark.parametrize("sink", SINKS)
def test_crash_before_publish_keeps_state_and_replay_matches(
    spark, sf_dir, tmp_path, monkeypatch, sink
):
    apply = SINKS[sink][2]
    batches = _batches(spark, sf_dir, sink, 3)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for bid, b in enumerate(batches):
        apply(b, bid, clean)

    apply(batches[0], 0, crashed)
    before = _state(spark, sink, crashed)

    def crash(path, doc):
        raise RuntimeError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(store, "publish", crash)
        with pytest.raises(RuntimeError, match="before publish"):
            apply(batches[1], 1, crashed)
    assert os.path.isdir(os.path.join(crashed, "_v1"))  # version written
    assert store.current(crashed) == {"version": 0, "batch_id": 0}
    assert _state(spark, sink, crashed) == before

    # restart: the stream replays batch 1, rewriting the orphan version
    for bid, b in enumerate(batches[1:], start=1):
        apply(b, bid, crashed)
    want = _state(spark, sink, clean)
    assert _state(spark, sink, crashed) == want
    # a second replay of the last batch must not fold it in twice
    apply(batches[-1], len(batches) - 1, crashed)
    assert _state(spark, sink, crashed) == want
    # only the current version and the one before it stay on disk
    assert len([e for e in os.listdir(crashed) if e.startswith("_v")]) == 2


@pytest.mark.parametrize("sink", SINKS)
def test_reader_during_commit_sees_whole_committed_states(
    spark, sf_dir, tmp_path, sink
):
    apply = SINKS[sink][2]
    batches = _batches(spark, sf_dir, sink, 6)
    target = str(tmp_path / "store")
    apply(batches[0], 0, target)
    committed = [_rows(store.read(spark, target))]
    seen, errors, done = [], [], threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(_rows(store.read(spark, target)))
            except Exception as e:  # any failure is the finding
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for bid, b in enumerate(batches[1:], start=1):
            apply(b, bid, target)
            committed.append(_rows(store.read(spark, target)))
    finally:
        done.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors[0]
    assert len(committed) == 6 and seen
    assert all(s in committed for s in seen)

"""The versioned-store commit protocol (streaming/store.py) at its commit
boundary, for each of the seven foreachBatch sinks: a crash between the
version write and the pointer publish, and a reader running while the
writer commits. The five snapshot sinks share one pair of tests and
the two append sinks (dedup, novelty) a twin pair. Every sink's version
dirs carry the schema their readers scan with, and a fold costs a
fixed number of Spark jobs. A fold's version is one driver-written
file, and a corrupted store file fails every sink's readout."""

import json
import os
import threading
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

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
from retail_sales_analysis_etl_bi_project_spark.streaming.dedup import (
    apply_dedup_batch,
    read_pairs,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
    apply_upsert_batch,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.kpi import (
    apply_kpi_batch,
    read_kpi,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.novelty import (
    apply_novelty_batch,
    read_novelty,
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

# append sink -> (batch body, output readout, one of its store relations)
APPEND_SINKS = {
    "dedup": (apply_dedup_batch, read_pairs, "bands"),
    "novelty": (apply_novelty_batch, read_novelty, "ids"),
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


def _doc_batches(spark, sf_dir, n):
    df = load_table(spark, sf_dir, "documents")
    return [df.filter(F.pmod(F.col("doc_id"), n) == i) for i in range(n)]


def _out(target):
    return target + "_out"


@pytest.mark.parametrize("sink", APPEND_SINKS)
def test_append_crash_before_publish_keeps_state_and_replay_matches(
    spark, sf_dir, tmp_path, monkeypatch, sink
):
    apply, readout, relation = APPEND_SINKS[sink]
    batches = _doc_batches(spark, sf_dir, 3)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for bid, b in enumerate(batches):
        apply(b, bid, clean, _out(clean))
    want = _rows(readout(spark, _out(clean)))

    apply(batches[0], 0, crashed, _out(crashed))
    before = _rows(readout(spark, _out(crashed)))
    publish = store.publish

    def crash_at(n):
        calls = []

        def crashing(path, doc):
            calls.append(path)
            if len(calls) == n:
                raise RuntimeError("killed before publish")
            publish(path, doc)

        return crashing

    # killed before the store's publish: the version dirs are orphans
    with monkeypatch.context() as m:
        m.setattr(store, "publish", crash_at(1))
        with pytest.raises(RuntimeError, match="before publish"):
            apply(batches[1], 1, crashed, _out(crashed))
    assert os.path.isdir(os.path.join(crashed, relation, "_v1"))
    assert os.path.isdir(os.path.join(_out(crashed), "_v1"))
    assert store.current(crashed) == {"version": 0, "batch_id": 0}
    assert _rows(readout(spark, _out(crashed))) == before

    # killed between the store's publish and the output's: the output
    # stays one version behind until the replay re-publishes it
    with monkeypatch.context() as m:
        m.setattr(store, "publish", crash_at(2))
        with pytest.raises(RuntimeError, match="before publish"):
            apply(batches[1], 1, crashed, _out(crashed))
    assert store.current(crashed) == {"version": 1, "batch_id": 1}
    assert store.current(_out(crashed)) == {"version": 0, "batch_id": 0}
    assert _rows(readout(spark, _out(crashed))) == before

    # restart: the stream replays batch 1, then runs batch 2
    for bid, b in enumerate(batches[1:], start=1):
        apply(b, bid, crashed, _out(crashed))
    assert _rows(readout(spark, _out(crashed))) == want
    assert store.current(_out(crashed)) == store.current(crashed)
    # a second replay of the last batch appends nothing
    apply(batches[-1], len(batches) - 1, crashed, _out(crashed))
    assert _rows(readout(spark, _out(crashed))) == want
    assert len(os.listdir(os.path.join(crashed, relation))) == 3


@pytest.mark.parametrize("sink", APPEND_SINKS)
def test_append_reader_during_commit_sees_whole_committed_states(
    spark, sf_dir, tmp_path, sink
):
    apply, readout, relation = APPEND_SINKS[sink]
    batches = _doc_batches(spark, sf_dir, 6)
    target = str(tmp_path / "store")
    out = _out(target)

    def state():
        return (
            _rows(readout(spark, out)),
            _rows(store.scan(spark, target, relation)),
        )

    apply(batches[0], 0, target, out)
    committed = [state()]
    seen, errors, done = [], [], threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(state())
            except Exception as e:  # any failure is the finding
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for bid, b in enumerate(batches[1:], start=1):
            apply(b, bid, target, out)
            committed.append(state())
    finally:
        done.set()
        t.join(timeout=300)
    assert not t.is_alive()
    assert not errors, errors[0]
    assert len(committed) == 6 and seen
    # the output and the store publish one after the other, so each is
    # checked against its own committed states
    outs, rels = ([c[k] for c in committed] for k in (0, 1))
    assert all(o in outs and r in rels for o, r in seen)


def _jobs(spark, action):
    """Spark jobs that ``action()`` launches, counted by a job group."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count test")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sink", ["kpi", "anomaly"])
def test_fold_runs_two_jobs_and_read_runs_none(spark, sf_dir, tmp_path, sink):
    """A fold into an existing store is one aggregate over batch rows ∪
    store (its shuffle map stage, then the final merge + write), and a
    store read builds its scan from the stored schema without a job."""
    apply = SINKS[sink][2]
    first, second = _batches(spark, sf_dir, sink, 2)
    target = str(tmp_path / "store")
    apply(first, 0, target)
    assert _jobs(spark, lambda: apply(second, 1, target)) == 2
    assert _jobs(spark, lambda: store.read(spark, target)) == 0


def test_dedup_batch_reads_its_new_versions_without_inference(
    spark, sf_dir, tmp_path
):
    """A dedup batch scans the bands/ and shingles/ versions it has just
    written with their stored schemas: 15 jobs at 8 shuffle partitions,
    two fewer than when each read-back inferred its schema. The count
    depends on the partition count, which any later ``get_spark`` call
    in the session resets, so the test sets it."""
    first, second = _doc_batches(spark, sf_dir, 2)
    target = str(tmp_path / "store")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        apply_dedup_batch(first, 0, target, _out(target))
        jobs = _jobs(spark, lambda: apply_dedup_batch(second, 1, target, _out(target)))
    finally:
        spark.conf.set(key, prev)
    assert jobs == 15


def _fill(spark, sf_dir, target, sink, ids):
    """Fold the batches ``ids`` of a 2-way split of ``sink``'s source
    into the store at ``target``."""
    if sink in SINKS:
        batches = _batches(spark, sf_dir, sink, 2)
        for bid in ids:
            SINKS[sink][2](batches[bid], bid, target)
    else:
        batches = _doc_batches(spark, sf_dir, 2)
        for bid in ids:
            APPEND_SINKS[sink][0](batches[bid], bid, target, _out(target))


def _stores(target, sink):
    """(scan of the published table, its version dirs) for every store
    the sink keeps: the snapshot store, or each relation of an append
    store and its output dir."""
    if sink in SINKS:
        version = store.current(target)["version"]
        return [(lambda s: store.read(s, target), [f"{target}/_v{version}"])]
    roots = [(target, r) for r in sorted(os.listdir(target)) if r != store.POINTER]
    roots.append((_out(target), ""))
    return [
        (
            lambda s, root=root, rel=rel: store.scan(s, root, rel),
            [
                os.path.join(root, rel, f"_v{v}")
                for v in range(store.current(root)["version"] + 1)
            ],
        )
        for root, rel in roots
    ]


def _sink_state(spark, sink, target):
    if sink in SINKS:
        return _state(spark, sink, target)
    return _rows(APPEND_SINKS[sink][1](spark, _out(target)))


def _schema_files(top):
    return [
        os.path.join(d, store.SCHEMA)
        for d, _, files in os.walk(top)
        if store.SCHEMA in files
    ]


@pytest.mark.parametrize("sink", [*SINKS, *APPEND_SINKS])
def test_version_schema_file_matches_inference_and_is_optional(
    spark, sf_dir, tmp_path, sink
):
    target = str(tmp_path / "store")
    _fill(spark, sf_dir, target, sink, [0, 1])
    for scan, dirs in _stores(target, sink):
        assert all(os.path.isfile(os.path.join(d, store.SCHEMA)) for d in dirs)
        assert scan(spark).schema == spark.read.parquet(*dirs).schema
    want = _sink_state(spark, sink, target)

    # a version dir written before schema files existed is inferred
    files = _schema_files(str(tmp_path))
    assert files
    for f in files:
        os.remove(f)
    assert _sink_state(spark, sink, target) == want
    for scan, dirs in _stores(target, sink):
        assert scan(spark).schema == spark.read.parquet(*dirs).schema


@pytest.mark.parametrize("sink", [*SINKS, *APPEND_SINKS])
def test_crash_replayed_version_rewrites_its_schema_file(
    spark, sf_dir, tmp_path, monkeypatch, sink
):
    target = str(tmp_path / "store")
    _fill(spark, sf_dir, target, sink, [0])

    def crash(path, doc):
        raise RuntimeError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(store, "publish", crash)
        with pytest.raises(RuntimeError, match="before publish"):
            _fill(spark, sf_dir, target, sink, [1])
    orphans = [f for f in _schema_files(str(tmp_path)) if "_v1" in f]
    assert orphans
    bogus = StructType([StructField("bogus", StringType())]).json()
    for f in orphans:
        with open(f, "w") as fh:
            fh.write(bogus)

    _fill(spark, sf_dir, target, sink, [1])  # the restarted stream's replay
    for f in orphans:
        vdir = os.path.dirname(f)
        with open(f) as fh:
            stored = StructType.fromJson(json.load(fh))
        inferred = spark.read.parquet(vdir).schema
        assert spark.read.schema(stored).parquet(vdir).schema == inferred
    for scan, dirs in _stores(target, sink):
        assert scan(spark).schema == spark.read.parquet(*dirs).schema


@pytest.mark.parametrize("sink", ["kpi", "anomaly", "churn", "sketch"])
def test_fold_version_is_one_file_and_its_schema(spark, sf_dir, tmp_path, sink):
    """A fold writes its version from the driver: one parquet file and
    the schema, none of a Hadoop output committer's files."""
    target = str(tmp_path / "store")
    _fill(spark, sf_dir, target, sink, [0, 1])
    versions = sorted(e for e in os.listdir(target) if e.startswith("_v"))
    assert versions == ["_v0", "_v1"]
    for v in versions:
        names = os.listdir(os.path.join(target, v))
        data = [n for n in names if n.endswith(".parquet")]
        assert len(data) == 1 and sorted(names) == sorted([*data, store.SCHEMA]), names


def _flip_page_bytes(path):
    """Flip the last byte of every column chunk of the parquet file at
    ``path`` (inside its last data page, located by the chunk's
    metadata); returns how many chunks were hit."""
    meta = pq.ParquetFile(path).metadata
    ends = []
    for g in range(meta.num_row_groups):
        for c in range(meta.num_columns):
            chunk = meta.row_group(g).column(c)
            start = chunk.data_page_offset
            if chunk.has_dictionary_page and chunk.dictionary_page_offset:
                start = min(start, chunk.dictionary_page_offset)
            ends.append(start + chunk.total_compressed_size)
    with open(path, "r+b") as f:
        for end in ends:
            f.seek(end - 1)
            byte = f.read(1)[0]
            f.seek(end - 1)
            f.write(bytes([byte ^ 0xFF]))
    return len(ends)


@pytest.mark.parametrize("sink", [*SINKS, *APPEND_SINKS])
def test_corrupted_store_file_fails_the_readout(spark, sf_dir, tmp_path, sink):
    """Spark-written files carry ``.crc`` files, a fold's file page
    checksums that every store scan verifies: a flipped byte in a data
    page fails the readout instead of reading wrong values."""
    target = str(tmp_path / "store")
    _fill(spark, sf_dir, target, sink, [0, 1])
    hit = 0
    for _, dirs in _stores(target, sink):
        for d in dirs:
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    hit += _flip_page_bytes(os.path.join(d, name))
    assert hit
    with pytest.raises(Exception, match="(?i)checksum"):
        _sink_state(spark, sink, target)

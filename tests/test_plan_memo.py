"""Plan memo of the registry (plans/registry.py): a registered query's
built plan is kept while the files under ``sf_dir`` and the session's
SQL confs are unchanged.

A hit skips the builder only: its Dataset is optimized, planned and
executed anew, so it launches the same jobs, stages and tasks as a
fresh build. Rewriting, adding or nesting input files, or changing a
SQL conf, makes the next call a miss that sees the new state. A plan
that reads outside ``sf_dir`` (the staging roundtrips) or holds an RDD
is never kept.
"""

import math
import os
import re
import shutil
import sys
import threading
import uuid

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from retail_sales_analysis_etl_bi_project_spark.plans import etl_queries, registry, shared_cache
from retail_sales_analysis_etl_bi_project_spark.sources import tables

Q = "q01_top5_products_by_revenue"  # dashboard query over lineitem and part


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def _counts(name: str) -> tuple[int, int]:
    return shared_cache.counts().get(f"plan:{name}", (0, 0))


def _canonical(cols, rows) -> list[tuple]:
    """Column-name-sorted, row-sorted string cells: the order-insensitive
    form the DuckDB oracles are compared in."""

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return str(v)

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in idx) for r in rows)


def _rows(df) -> list[tuple]:
    return _canonical(df.columns, df.collect())


def _executed(spark, df) -> tuple[int, int, int]:
    """Spark jobs, stages that ran tasks, and tasks that ``df.collect()``
    launched, counted by a job group."""
    sc = spark.sparkContext
    group = f"plan-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan memo test")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    infos = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    ran = [i.numCompletedTasks for i in infos if i is not None and i.numCompletedTasks]
    return len(jobs), len(ran), sum(ran)


def _physical(df) -> str:
    """The initial physical plan, expression and plan ids aside."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan)


def test_hit_skips_the_builder_and_runs_every_job(spark, sf_dir, qs, monkeypatch):
    scans = []
    scan = tables._scan
    monkeypatch.setattr(tables, "_scan", lambda s, p: scans.append(p) or scan(s, p))
    shared_cache.release(f"plan:{Q}")
    hits, misses = _counts(Q)
    first = qs[Q](spark, sf_dir)
    built = len(scans)
    assert built >= 2 and _counts(Q) == (hits, misses + 1)
    second = qs[Q](spark, sf_dir)
    assert len(scans) == built  # the builder did not run
    assert _counts(Q) == (hits + 1, misses + 1)
    # a hit plans like a fresh build and executes every job, stage and task
    assert _physical(qs[Q](spark, sf_dir)) == _physical(qs[Q].__wrapped__(spark, sf_dir))
    assert _executed(spark, second) == _executed(spark, first)
    assert _rows(second) == _rows(first)


def _write(table, path: str, rows: slice) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.slice(rows.start, rows.stop - rows.start), path)


def _flat(root: str, lineitem):
    n = lineitem.num_rows
    _write(lineitem, f"{root}/lineitem.parquet", slice(0, n))
    yield
    # rewritten in place with fewer rows
    _write(lineitem, f"{root}/lineitem.parquet", slice(0, n // 2))


def _directory(root: str, lineitem):
    n = lineitem.num_rows
    _write(lineitem, f"{root}/lineitem.parquet/part-00000.parquet", slice(0, n // 2))
    yield
    # a new part file lands next to the first
    _write(lineitem, f"{root}/lineitem.parquet/part-00001.parquet", slice(n // 2, n))


def _nested(root: str, lineitem):
    n = lineitem.num_rows
    for k, rows in ((1, slice(0, n // 2)), (2, slice(n // 2, n))):
        _write(lineitem, f"{root}/lineitem.parquet/month_key={k}/part-00000.parquet", rows)
    yield
    # one partition's file rewritten in place, one level down
    _write(
        lineitem,
        f"{root}/lineitem.parquet/month_key=2/part-00000.parquet",
        slice(n // 2, n - n // 4),
    )


@pytest.mark.parametrize("layout", [_flat, _directory, _nested], ids=lambda f: f.__name__[1:])
def test_rewritten_inputs_miss(spark, sf_dir, qs, tmp_path, layout):
    root = str(tmp_path / "sf")
    os.makedirs(root)
    shutil.copy(f"{sf_dir}/part.parquet", root)
    steps = layout(root, pq.read_table(f"{sf_dir}/lineitem.parquet"))
    next(steps)
    before = _rows(qs[Q](spark, root))
    qs[Q](spark, root)
    hits, misses = _counts(Q)
    next(steps, None)
    after = _rows(qs[Q](spark, root))
    assert _counts(Q) == (hits, misses + 1)
    assert after == _rows(qs[Q].__wrapped__(spark, root))
    assert after != before


def _toggle(spark, key: str):
    """Flip a boolean SQL conf; returns the undo."""
    conf = spark._jsparkSession.sessionState().conf()
    was_set, old = conf.contains(key), spark.conf.get(key)
    spark.conf.set(key, "false" if old == "true" else "true")

    def undo():
        if was_set:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)

    return undo


@pytest.mark.parametrize("key", ["spark.sql.ansi.enabled", "spark.sql.caseSensitive"])
def test_conf_change_misses(spark, sf_dir, qs, key):
    qs[Q](spark, sf_dir)
    qs[Q](spark, sf_dir)
    hits, misses = _counts(Q)
    undo = _toggle(spark, key)
    try:
        assert _rows(qs[Q](spark, sf_dir)) == _rows(qs[Q].__wrapped__(spark, sf_dir))
        assert _counts(Q) == (hits, misses + 1)
    finally:
        undo()


@pytest.mark.parametrize("name", ["etl_csv_roundtrip", "etl_json_roundtrip", "etl_orc_roundtrip"])
def test_staging_roundtrips_never_hit(spark, sf_dir, qs, name):
    warehouse = os.path.join(os.path.dirname(etl_queries.__file__), "..", "..", "spark-warehouse")
    prefix = f"{name.split('_')[1]}_stage_orders_{os.path.basename(sf_dir)}_"

    def staged() -> set[str]:
        if not os.path.isdir(warehouse):
            return set()
        return {d for d in os.listdir(warehouse) if d.startswith(prefix)}

    before = staged()
    hits, misses = _counts(name)
    qs[name](spark, sf_dir)
    qs[name](spark, sf_dir)
    assert len(staged() - before) == 2  # each call wrote its own staging dir
    assert _counts(name) == (hits, misses + 2)


def test_concurrent_hits_match_the_oracle(spark, sf_dir, qs):
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(registry.ORACLES[Q])
    want = _canonical([d[0] for d in res.description], res.fetchall())
    con.close()
    qs[Q](spark, sf_dir)
    hits, _ = _counts(Q)
    results, errors = [], []

    def client():
        try:
            for _ in range(20):
                results.append(_rows(qs[Q](spark, sf_dir)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(results) == 40 and all(r == want for r in results)
    assert _counts(Q)[0] - hits == 40


def test_counts_lose_no_update(spark, tmp_path):
    """Hits counted from more threads than cores, switching often, sum
    exactly."""
    family = f"test-counts-{uuid.uuid4().hex}"
    shared_cache.memo_artifact(family, spark, str(tmp_path), lambda: 1)

    def client():
        for _ in range(2000):
            shared_cache.memo_artifact(family, spark, str(tmp_path), lambda: 1)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        shared_cache.release(family)
    assert not any(t.is_alive() for t in threads)
    assert shared_cache.counts()[family] == (16000, 1)


def test_release_drops_plan_entries(spark, sf_dir, qs):
    qs[Q](spark, sf_dir)
    assert f"plan:{Q}" in shared_cache._SLOTS
    shared_cache.release()
    assert f"plan:{Q}" not in shared_cache._SLOTS
    hits, misses = _counts(Q)
    qs[Q](spark, sf_dir)
    assert _counts(Q) == (hits, misses + 1)


def test_only_plans_over_sf_dir_files_are_kept(spark, sf_dir, tmp_path):
    """The keep rule reads the analyzed plan's leaves, subqueries
    included: files under sf_dir and literal rows pass; a file elsewhere
    (also inside a scalar subquery) or an RDD does not."""
    import pandas as pd

    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", elsewhere)
    inside = spark.read.parquet(f"{sf_dir}/nation.parquet")
    outside = spark.read.parquet(f"{elsewhere}/region.parquet")
    subquery = spark.sql(
        f"SELECT * FROM parquet.`{sf_dir}/nation.parquet` WHERE n_regionkey < "
        f"(SELECT max(r_regionkey) FROM parquet.`{elsewhere}/region.parquet`)"
    )
    assert registry._reads_only_under(inside.crossJoin(spark.range(3)), sf_dir)
    assert registry._reads_only_under(spark.createDataFrame(pd.DataFrame({"x": [1]})), sf_dir)
    assert not registry._reads_only_under(outside, sf_dir)
    assert not registry._reads_only_under(subquery, sf_dir)
    assert not registry._reads_only_under(spark.createDataFrame([(1,)], "x int"), sf_dir)
    assert not registry._reads_only_under(inside.localCheckpoint(eager=False), sf_dir)
    # a sibling whose name extends the directory's name is not under it
    assert not registry._reads_only_under(outside, str(elsewhere)[:-1])


def test_plan_over_a_persist_misses_once_the_persist_is_gone(spark, sf_dir, qs):
    """A plan built over a managed persist is kept with it; releasing
    the persist makes the next call a miss whose build persists again,
    so it plans over the cached relation as a fresh build does."""
    name = "pipeline_term_stats_shared"  # reads the term_tf persist
    shared_cache.release()
    qs[name](spark, sf_dir)
    hits, misses = _counts(name)
    qs[name](spark, sf_dir)
    assert _counts(name) == (hits + 1, misses)
    shared_cache.release("term_tf")
    df = qs[name](spark, sf_dir)
    assert _counts(name) == (hits + 1, misses + 1)
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    shared_cache.release()


@pytest.mark.parametrize(
    "name",
    [
        "text_tfidf_topterms",  # builds over the term_tf persist
        "text_bpe_encode_counts",  # encodes with the fitted bpe_merges
    ],
)
def test_a_persist_over_rewritten_inputs_is_rebuilt(spark, sf_dir, qs, tmp_path, name):
    """Managed persists and fitted artifacts are keyed by the files
    under ``sf_dir`` too, so the build that follows an in-place rewrite
    builds over the new files instead of reusing what was built over
    the old ones."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "sf")
    _write(docs, f"{root}/documents.parquet", slice(0, docs.num_rows))
    shared_cache.release()
    before = _rows(qs[name](spark, root))
    # rewritten in place with its second half of rows
    _write(docs, f"{root}/documents.parquet", slice(docs.num_rows // 2, docs.num_rows))
    after = _rows(qs[name](spark, root))
    shared_cache.release()
    assert after == _rows(qs[name].__wrapped__(spark, root))
    assert after != before
    shared_cache.release()


def test_a_codebook_over_rewritten_inputs_is_refit(spark, sf_dir, tmp_path):
    """The IVF codebook is a fitted artifact like any other: an in-place
    rewrite of the embeddings refits it, a repeat call is a hit, and
    ``release()`` drops it. The refinement-0 codebook is built from the
    leading vectors, so the rewrite keeps the second half."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import ivf_assignments
    from retail_sales_analysis_etl_bi_project_spark.plans.similarity_queries import (
        _corpus_codebook,
    )

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    root = str(tmp_path / "sf")
    _write(emb, f"{root}/embeddings.parquet", slice(0, emb.num_rows))
    shared_cache.release()
    before = _corpus_codebook(spark, root)
    _write(emb, f"{root}/embeddings.parquet", slice(emb.num_rows // 2, emb.num_rows))
    after = _corpus_codebook(spark, root)
    fresh = ivf_assignments(tables.load_table(spark, root, "embeddings"), 16)[1]
    assert after == fresh and fresh != before
    hits, misses = shared_cache.counts()["codebook_i0"]
    assert _corpus_codebook(spark, root) is after
    assert shared_cache.counts()["codebook_i0"] == (hits + 1, misses)
    shared_cache.release()
    assert "codebook_i0" not in shared_cache._SLOTS

"""Structured Streaming tests: each streaming plan runs to completion on
the finite events file source and must agree with its batch twin (which
is oracle-checked against DuckDB by the driver)."""

import pytest
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.plans.events_queries import (
    events_hourly_agg,
    events_sessionization,
)
from retail_sales_analysis_etl_bi_project_spark.streaming import store
from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    session_windows,
    sliding_type_counts,
    tumbling_hourly_agg,
)


def test_streaming_hourly_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_to_memory(
        spark, tumbling_hourly_agg(stream), "t_hourly"
    )
    batch = events_hourly_agg(spark, sf_dir)
    g = {(r.hour, r.event_type): (r.n_events, r.total_value) for r in got.collect()}
    b = {(r.hour, r.event_type): (r.n_events, r.total_value) for r in batch.collect()}
    assert g == b


def test_streaming_sliding_counts(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_to_memory(spark, sliding_type_counts(stream), "t_sliding").collect()
    assert got, "sliding windows empty"
    # every tumbling hour count must appear as sum across its 2 slides
    overlap = [r for r in got if (r.window_end - r.window_start).seconds == 3600]
    assert overlap


def test_streaming_session_windows_match_batch_sessions(spark, sf_dir):
    """Native session_window sessions = batch lag/cumsum sessions: same
    gap, same per-user session count and boundaries."""
    stream = read_events_stream(spark, sf_dir)
    got = run_to_memory(spark, session_windows(stream), "t_sessions")
    batch = events_sessionization(spark, sf_dir)
    g = {
        (r.user_id, r.session_start, r.n_events) for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start, r.n_events) for r in batch.collect()
    }
    assert g == b


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """Doubling the stream (union with itself) then dedup_stream must
    restore the original distinct count — duplicate keys arriving
    within the watermark are dropped, with bounded per-key state."""
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import dedup_stream

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    got = run_to_memory(
        spark, dedup_stream(doubled), "t_dedup", output_mode="append"
    )
    assert got.count() == load_table(spark, sf_dir, "events").count()


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static broadcast join per micro-batch == the same batch
    join: every event keeps flowing (left join), matched ones carry the
    dim attribute."""
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        enrich_stream,
    )

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    got = run_to_memory(
        spark,
        enrich_stream(read_events_stream(spark, sf_dir), dim),
        "t_enrich",
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    batch = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey, "left"
    ).drop(dim.c_custkey)
    g = sorted((r.event_id, r.c_mktsegment) for r in got.collect())
    b = sorted((r.event_id, r.c_mktsegment) for r in batch.collect())
    assert g == b
    assert any(seg is not None for _, seg in g), "no event matched a dim row"


def test_stream_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed parquet sink: drains the finite source once, and a
    RESTART with the same checkpoint commits zero new rows (offsets +
    sink commit log make the pipeline exactly-once across restarts)."""
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        write_stream_parquet,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_stream_parquet(read_events_stream(spark, sf_dir), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == load_table(spark, sf_dir, "events").count()
    # restart: same source, same checkpoint -> no double-commit
    write_stream_parquet(read_events_stream(spark, sf_dir), out, ckpt)
    assert spark.read.parquet(out).count() == n1


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (click->purchase attribution within
    1h, watermarks both sides) == the identical batch join, row for
    row. availableNow drains the file source, so no row is lost to the
    watermark (all data arrives before the final trigger's barrier)."""
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        interval_join_streams,
    )

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    got = run_to_memory(
        spark,
        interval_join_streams(*sides(read_events_stream(spark, sf_dir))),
        "t_ssjoin",
        output_mode="append",
    )
    clicks, purchases = sides(load_table(spark, sf_dir, "events"))
    # same builder on static frames: withWatermark is a no-op in batch,
    # so this IS the batch twin of the exact same join predicate
    batch = interval_join_streams(clicks, purchases)
    g = sorted((r.click_id, r.purchase_id) for r in got.collect())
    b = sorted((r.click_id, r.purchase_id) for r in batch.collect())
    assert g == b
    assert g, "no click->purchase pair within 1h: fixture too sparse"


def test_await_or_raise_stops_zombie_query_on_timeout(spark):
    """A query that outlives its timeout must be STOPPED and surfaced as
    an error — awaitTermination's False return was previously ignored,
    leaking a live query over partial sink output (r3 ADVICE)."""
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        _await_or_raise,
    )

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("memory")
        .queryName("t_rate_zombie")
        .outputMode("append")
        .start()
    )
    with pytest.raises(TimeoutError):
        _await_or_raise(q, 1)
    assert not q.isActive


def test_foreachbatch_upsert_matches_batch_last_per_key(spark, sf_dir, tmp_path):
    """Streaming CDC upsert (foreachBatch) drained over the finite
    events source must leave the target with exactly the batch
    latest-row-per-user; a restart with the same checkpoint re-commits
    nothing (idempotent merge)."""
    from pyspark.sql import Window as W

    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        upsert_stream_to_parquet,
    )

    target, ckpt = str(tmp_path / "profiles"), str(tmp_path / "ckpt")
    upsert_stream_to_parquet(
        read_events_stream(spark, sf_dir), target, ckpt, key_cols=("user_id",)
    )
    got = store.read(spark, target)

    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").desc()] + [
        F.col(c).desc() for c in ev.columns if c not in ("user_id", "ts")
    ]
    w = W.partitionBy("user_id").orderBy(*order)
    want = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b
    assert got.count() == ev.select("user_id").distinct().count()

    # restart: drained source + same checkpoint -> target unchanged
    upsert_stream_to_parquet(
        read_events_stream(spark, sf_dir), target, ckpt, key_cols=("user_id",)
    )
    assert sorted(map(tuple, store.read(spark, target).collect())) == b


def test_foreachbatch_upsert_stale_batch_does_not_regress(spark, tmp_path):
    """A later batch carrying OLDER events for a key must not regress
    the target (greatest-order merge, not blind replace), even when the
    batches reach one target through separate checkpoint lineages."""
    import datetime
    import shutil

    from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
        upsert_stream_to_parquet,
    )

    def mk_events(path, rows):
        # single FILE named events.parquet (like the driver testdata) —
        # the stream's pathGlobFilter matches file names, and a
        # directory full of part-files would match nothing
        stage = path / "_stage"
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.move(str(part), str(path / "events.parquet"))
        shutil.rmtree(str(stage))

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    old = datetime.datetime(2024, 1, 1, 6, 0, 0)
    newer_dir, older_dir = tmp_path / "newer", tmp_path / "older"
    newer_dir.mkdir(); older_dir.mkdir()
    mk_events(newer_dir, [(1, t, 1, "click", 5.0, "{}")])
    mk_events(older_dir, [(2, old, 1, "click", 1.0, "{}"),      # stale for user 1
                          (3, old, 2, "view", 2.0, "{}")])      # new user 2

    target = str(tmp_path / "profiles")
    upsert_stream_to_parquet(
        read_events_stream(spark, str(newer_dir)), target,
        str(tmp_path / "ck1"), key_cols=("user_id",),
    )
    upsert_stream_to_parquet(
        read_events_stream(spark, str(older_dir)), target,
        str(tmp_path / "ck2"), key_cols=("user_id",),
    )
    rows = {r.user_id: r for r in store.read(spark, target).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].ts == t and rows[1].value == 5.0  # stale batch did NOT regress
    assert rows[2].ts == old

"""Stateful-streaming tests: cumulative per-user state across
micro-batches, exactly-once threshold flagging — run against BOTH API
arms (transformWithStateInPandas on Spark 4.x, applyInPandasWithState
everywhere) so the streaming≡batch equivalence pins the semantics of
each, not just whichever 'auto' picks."""

import pytest
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming.events import (
    read_events_stream,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.store import await_or_raise
from retail_sales_analysis_etl_bi_project_spark.streaming.stateful import (
    tws_runtime_available,
    user_profile_stream,
)


def test_transform_with_state_plan_constructs(spark, sf_dir):
    """The transformWithState arm must BUILD on Spark 4.x regardless of
    whether this runtime can execute it (the container lacks protobuf,
    which the TWS state-server protocol needs at execution time): the
    processor class, output schema wiring, and RocksDB provider conf
    are all exercised at plan-construction time."""
    if not hasattr(spark.range(1).groupBy("id"), "transformWithStateInPandas"):
        pytest.skip("transformWithState API needs Spark 4.x")
    stream = read_events_stream(spark, sf_dir)
    out = user_profile_stream(stream, threshold=500.0, api="transformWithState")
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_events", "total_value", "max_value", "crossed_threshold",
    ]
    assert out.isStreaming
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


@pytest.mark.parametrize("api", ["applyInPandasWithState", "transformWithState"])
def test_stateful_user_profile_matches_batch(spark, sf_dir, tmp_path, api):
    if api == "transformWithState" and not tws_runtime_available(
        spark.range(1).groupBy("id")
    ):
        pytest.skip(
            "transformWithState cannot execute here: needs Spark 4.x API "
            "plus the protobuf package for its state-server protocol "
            "(not in this container; environmental gate, like the JDBC "
            "live-database arm)"
        )
    stream = read_events_stream(spark, sf_dir)
    out = user_profile_stream(stream, threshold=500.0, api=api)
    table = f"t_profiles_{api.lower()}"
    q = (
        out.writeStream.format("memory")
        .queryName(table)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)
    got = spark.table(table).toPandas()
    # last emission per user carries the final cumulative state
    final = got.groupby("user_id").last()

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    for r in batch:
        f = final.loc[r.user_id]
        assert int(f["n_events"]) == r.n_events
        assert abs(float(f["total_value"]) - r.total_value) < 1e-6
        assert abs(float(f["max_value"]) - r.max_value) < 1e-9

    # exactly-once flag: across all emissions, each user crosses <= once
    crossings = got[got["crossed_threshold"]].groupby("user_id").size()
    assert (crossings <= 1).all()
    # and users whose final total clears the threshold did cross
    should = {r.user_id for r in batch if r.total_value >= 500.0}
    assert should == set(crossings.index)

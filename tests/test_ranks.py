"""Two-phase distributed order statistics (operators/ranks.py, r13
VERDICT items 1+5): the histogram rank selection must pick the EXACT
row a single-partition row_number window would — on engineered corpora
with ties, degenerate (all-equal) key ranges, and bucket-boundary
values."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.operators.ranks import (
    grouped_selected_lower_median,
    selected_lower_median,
)


def _window_median(df, key, tiebreaks, group_cols=None):
    """The exact single-partition reference pick."""
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(key, *tiebreaks)
        n = df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
        return (
            df.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(n), list(group_cols))
            .filter(F.col("__r") == F.expr("(__n + 1) div 2"))
            .drop("__r", "__n")
        )
    w = Window.orderBy(key, *tiebreaks)
    n = df.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    return (
        df.withColumn("__r", F.row_number().over(w))
        .crossJoin(F.broadcast(n))
        .filter(F.col("__r") == F.expr("(__n + 1) div 2"))
        .drop("__r", "__n")
    )


def _mixed_df(spark):
    # deterministic pseudo-random values with heavy ties: v cycles a
    # small set so equal keys straddle whatever bucket math produces,
    # and the id tiebreak decides — exactly the adversarial case
    rows = [(i, float((i * 37) % 11) / 3.0) for i in range(1, 501)]
    return spark.createDataFrame(rows, "id long, v double")


def test_global_matches_window_with_ties(spark):
    df = _mixed_df(spark)
    got = selected_lower_median(df, F.col("v"), ["id"]).collect()
    want = _window_median(df, F.col("v"), ["id"]).collect()
    assert len(got) == 1 and len(want) == 1
    assert (got[0].id, got[0].v) == (want[0].id, want[0].v)
    assert got[0]["__tp_m"] == 500


def test_global_all_equal_keys_degenerate_range(spark):
    # hi == lo: every row lands in bucket 0; the tiebreak alone orders
    df = spark.createDataFrame(
        [(i, 7.5) for i in range(1, 10)], "id long, v double"
    )
    got = selected_lower_median(df, F.col("v"), ["id"]).collect()[0]
    assert (got.id, got.v) == (5, 7.5)  # rank (9+1) div 2 = 5


def test_global_single_row(spark):
    df = spark.createDataFrame([(1, 3.0)], "id long, v double")
    got = selected_lower_median(df, F.col("v"), ["id"]).collect()[0]
    assert (got.id, got.v, got["__tp_m"]) == (1, 3.0, 1)


def test_global_few_buckets_forces_residual_ranks(spark):
    # n_buckets=2 pushes many rows into each bucket so the residual
    # rank inside the located bucket is exercised, not just bucket 0
    df = _mixed_df(spark)
    got = selected_lower_median(df, F.col("v"), ["id"], n_buckets=2).collect()
    want = _window_median(df, F.col("v"), ["id"]).collect()
    assert (got[0].id, got[0].v) == (want[0].id, want[0].v)


def test_global_signed_log_bucket_key_same_pick(spark):
    # heavy-tailed key: a few huge outliers stretch the uniform range;
    # bucketing on signed_log must still select the identical row
    from retail_sales_analysis_etl_bi_project_spark.operators.ranks import (
        signed_log,
    )

    rows = [(i, float((-1) ** i * (i % 23))) for i in range(1, 401)]
    rows += [(401, 1.0e12), (402, -9.0e11), (403, 7.0e13)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = selected_lower_median(
        df, F.col("v"), ["id"], bucket_key=signed_log(F.col("v"))
    ).collect()
    want = _window_median(df, F.col("v"), ["id"]).collect()
    assert (got[0].id, got[0].v) == (want[0].id, want[0].v)


def test_grouped_matches_window_per_group(spark):
    rows = [
        (g, i, float(((i * 13 + ord(g) * 7) % 17)) - 8.0)
        for g in ("a", "b", "c")
        for i in range(1, 101 + 30 * (g == "b"))
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    got = {
        r.grp: (r.id, r.v, r["__tp_n"])
        for r in grouped_selected_lower_median(
            df, ["grp"], F.col("v"), ["id"]
        ).collect()
    }
    want = {
        r.grp: (r.id, r.v)
        for r in _window_median(
            df, F.col("v"), ["id"], group_cols=["grp"]
        ).collect()
    }
    assert set(got) == {"a", "b", "c"}
    for g in want:
        assert got[g][:2] == want[g]
    assert got["a"][2] == 100 and got["b"][2] == 130


def test_grouped_single_member_groups(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("b", 2, -1.0)], "grp string, id long, v double"
    )
    got = {
        r.grp: (r.id, r.v)
        for r in grouped_selected_lower_median(
            df, ["grp"], F.col("v"), ["id"]
        ).collect()
    }
    assert got == {"a": (1, 5.0), "b": (2, -1.0)}

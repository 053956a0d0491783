"""Tolerance checks for the sketch-based scale-path aggregates: the
driver can only rows-check them (sketches aren't SQL-oracle-able), so
accuracy vs the exact twins is asserted here."""

from pyspark.sql import functions as F

import retail_sales_analysis_etl_bi_project_spark.plans.agg_queries  # noqa: F401 (registers)
from retail_sales_analysis_etl_bi_project_spark.plans.registry import QUERIES
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    exact = {
        r.o_orderpriority: r
        for r in QUERIES["agg_order_value_percentiles"](spark, sf_dir).collect()
    }
    approx = {
        r.o_orderpriority: r
        for r in QUERIES["agg_sketch_profile"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for prio, e in exact.items():
        a = approx[prio]
        assert a.n_orders == e.n_orders  # count is exact either way
        for col in ("p50", "p90", "p99"):
            rel = abs(getattr(a, col) - getattr(e, col)) / max(getattr(e, col), 1.0)
            # approx_percentile returns a real element of the multiset
            # (no interpolation), so at small N the dominant error is the
            # gap between adjacent values, not sketch error — 5% bounds
            # that; at scale the gap (and the bound) tightens.
            assert rel < 0.05, f"{prio}.{col}: rel err {rel}"


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    approx = {
        r.o_orderpriority: r.approx_customers
        for r in QUERIES["agg_sketch_profile"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for prio, n in exact.items():
        rel = abs(approx[prio] - n) / max(n, 1)
        assert rel < 0.05, f"{prio}: rel err {rel} (approx {approx[prio]} vs {n})"


def test_approx_top_k_agrees_with_exact_heavy_hitters(spark, sf_dir):
    """Spark 4's approx_top_k sketch vs the exact text_top_tokens query:
    on test-scale data the sketch is exact for the head of the
    distribution (its internal map is far larger than the vocabulary),
    so the top-10 items AND counts must match the exact groupBy — the
    documented 100 TB form when the token vocabulary outgrows a
    groupBy's shuffle (sketches merge map-side, fixed size)."""
    from retail_sales_analysis_etl_bi_project_spark.operators.text import tokens_expr
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tall = docs.select(F.explode(tokens_expr("text")).alias("tok")).select(
        F.lower("tok").alias("token")
    )
    sketch = tall.selectExpr("approx_top_k(token, 10, 10000) AS top").collect()[0][
        "top"
    ]
    exact = (
        tall.groupBy("token")
        .count()
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(10)
        .collect()
    )
    got = {(r["item"], r["count"]) for r in sketch}
    want = {(r["token"], r["count"]) for r in exact}
    assert got == want


def test_hll_incremental_merge_is_exactly_one_pass(spark, sf_dir):
    """union(sketch(history), sketch(delta)) must estimate EXACTLY what
    sketch(all) estimates — per-register max commutes — and land within
    HLL tolerance of the exact distinct count."""
    from retail_sales_analysis_etl_bi_project_spark.plans.agg_queries import (
        agg_incremental_distinct_hll,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table

    merged = {
        (r.year, r.month): r.n_customers_approx
        for r in agg_incremental_distinct_hll(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    one_pass = {
        (r.year, r.month): r.est
        for r in orders.groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("_sk"))
        .select("year", "month", F.hll_sketch_estimate("_sk").alias("est"))
        .collect()
    }
    # the mid-month split means (2001, 1) receives sketches from BOTH
    # branches — guard that the merge is actually exercised, not a
    # disjoint union of groups (a month-boundary split would make the
    # equality below vacuous). Assert BOTH branches really contribute
    # Jan-2001 rows, not merely that the group exists.
    split_lit = F.lit("2001-01-15").cast("timestamp")
    jan = orders.filter(
        (F.year("o_orderdate") == 2001) & (F.month("o_orderdate") == 1)
    )
    assert jan.filter(F.col("o_orderdate") < split_lit).count() > 0
    assert jan.filter(F.col("o_orderdate") >= split_lit).count() > 0
    assert (2001, 1) in merged
    assert merged == one_pass  # exact ==: register-max merge algebra

    # replay idempotence: unioning the DELTA's sketches in a second
    # time must change nothing (per-register max is idempotent) — the
    # property that makes sketch partials safe under at-least-once
    # delivery, unlike additive counters
    split = F.lit("2001-01-15").cast("timestamp")
    delta_sk = (
        orders.filter(F.col("o_orderdate") >= split)
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("_sk"))
    )
    all_sk = orders.groupBy(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
    ).agg(F.hll_sketch_agg("o_custkey").alias("_sk"))
    replayed = {
        (r.year, r.month): r.est
        for r in all_sk.unionByName(delta_sk)
        .groupBy("year", "month")
        .agg(F.hll_union_agg("_sk").alias("_sk"))
        .select("year", "month", F.hll_sketch_estimate("_sk").alias("est"))
        .collect()
    }
    assert replayed == one_pass

    exact = {
        (r.year, r.month): r.n
        for r in orders.groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert merged.keys() == exact.keys()
    for k, est in merged.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_banded_compare_detects_out_of_band_values():
    """Deliberate-failure self-check for the gate's tolerance-banded
    sketch verification (r11 VERDICT item 5): the band checker passes
    in-band values, flags an out-of-band value, flags a key mismatch,
    and the two sketch queries actually carry registered bands."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from compare_oracle import banded_compare

    from retail_sales_analysis_etl_bi_project_spark.plans.registry import (
        BANDED_ORACLES,
        ORACLES,
    )

    assert set(BANDED_ORACLES) == {
        "agg_sketch_profile",
        "agg_incremental_distinct_hll",
    }
    assert not set(BANDED_ORACLES) & set(ORACLES)

    cols = ["k", "v"]
    bands = {"v": ("rel", 0.05)}
    # in-band: 104 vs exact 100 at ±5%
    assert banded_compare("x", cols, [("a", 104.0)], cols, [("a", 100.0)], bands) is None
    # out-of-band: 106 vs 100
    err = banded_compare("x", cols, [("a", 106.0)], cols, [("a", 100.0)], bands)
    assert err and "outside" in err
    # key mismatch is exact, never banded
    err = banded_compare("x", cols, [("b", 100.0)], cols, [("a", 100.0)], bands)
    assert err and "key" in err
    # null agreement passes; null disagreement fails
    assert banded_compare("x", cols, [("a", None)], cols, [("a", None)], bands) is None
    assert banded_compare("x", cols, [("a", None)], cols, [("a", 1.0)], bands)

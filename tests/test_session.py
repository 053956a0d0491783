"""Session-level guards: settings whose effect only shows across queries.

The generated-code cache (``session.CODEGEN_CACHE_ENTRIES``) must hold
the dashboard's working set, so a warm dashboard pass serves every
whole-stage class from the cache instead of recompiling it with Janino.
Spark's default of 100 entries is smaller than the twelve queries'
~190 classes, so at the default a second pass recompiles most of them.
"""

import __spark_entry__ as entrymod

# The dashboard deck: the reference's insight queries and KPIs served
# from the star schema.
DASHBOARD = (
    "q01_top5_products_by_revenue",
    "q02_monthly_revenue_trend",
    "q03_revenue_by_supplier_nation",
    "q04_custbal_segment_revenue",
    "k_core_kpis",
    "k4_category_revenue_share",
    "tpch_q1_pricing_summary",
    "agg_rollup_year_month",
    "bi_revenue_cube_status_year",
    "bi_pareto_brand_products",
    "window_top3_parts_per_brand",
    "bi_daily_revenue_gapfill",
)


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample per
    compiled class)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, qs, sf_dir) -> dict[str, int]:
    """Run the deck once: per query, the classes it compiled."""
    out = {}
    for name in DASHBOARD:
        before = _compilations(spark)
        qs[name](spark, sf_dir).collect()
        out[name] = _compilations(spark) - before
    return out


def test_warm_dashboard_pass_compiles_nothing(spark, sf_dir):
    qs = entrymod.queries()
    _pass(spark, qs, sf_dir)
    recompiled = {q: n for q, n in _pass(spark, qs, sf_dir).items() if n}
    assert not recompiled, f"warm pass recompiled classes: {recompiled}"

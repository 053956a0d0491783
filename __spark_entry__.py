"""Driver contract (PySpark target).

``entry(spark)`` runs the flagship query (reference docx:q1 — top-5
products by revenue) at sf0.001. ``queries()``/``oracle_sql()`` serve
the whole registry in registration order: every implemented operator
from SURVEY.md §2 and its DuckDB oracle twin (tools/compare_oracle.py
hash-compares every one).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    # Importing the plan modules populates the registry, in this order;
    # a broken import fails here instead of shrinking the registry.
    from retail_sales_analysis_etl_bi_project_spark.plans import registry
    import retail_sales_analysis_etl_bi_project_spark.plans.bi  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.dedup_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.similarity_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.join_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.text_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.etl_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.sql_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.extra_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.agg_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.misc_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.corpus_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.json_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.window_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.events_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.extension_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.pipeline_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.lifecycle_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.analysis_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.stat_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.index_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.basket_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.signal_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.eval_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.trend_queries  # noqa: F401
    import retail_sales_analysis_etl_bi_project_spark.plans.linalg_queries  # noqa: F401

    return registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    reg = _registry()
    return reg.QUERIES["q01_top5_products_by_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(_registry().QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins, in registration order; keys missing here get the
    weaker rows-only check."""
    return dict(_registry().ORACLES)

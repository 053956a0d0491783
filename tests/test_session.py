"""Session-level guards: settings whose effect only shows across queries.

The generated-code cache (``session.CODEGEN_CACHE_ENTRIES``) must hold
the dashboard's working set, so a warm dashboard pass serves every
whole-stage class from the cache instead of recompiling it with Janino.
Spark's default of 100 entries is smaller than the twelve queries'
~190 classes, so at the default a second pass recompiles most of them.

Streaming checkpoints go through Hadoop's FileSystem API
(``session.CHECKPOINT_FILE_MANAGERS``): the manager Spark builds for a
checkpoint dir must be the FileSystem-based one, not its default
FileContext one, which forks shell commands on every write.
"""

from functools import reduce

import __spark_entry__ as entrymod
from py4j.java_gateway import JavaClass

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


# where Spark keeps its checkpoint managers: 4.1 moved them into
# ``checkpointing``
STREAMING_PACKAGES = (
    "org.apache.spark.sql.execution.streaming.checkpointing",
    "org.apache.spark.sql.execution.streaming",
)


def _jvm_class(spark, name):
    """The JVM class ``name``, or None if the running JVM cannot load it."""
    found = reduce(getattr, name.split("."), spark._jvm)
    return found if isinstance(found, JavaClass) else None


def test_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    classes = [_jvm_class(spark, f"{p}.CheckpointFileManager") for p in STREAMING_PACKAGES]
    factory = next(c for c in classes if c is not None)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = factory.create(spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf)
    name = manager.getClass().getName()
    assert name.endswith(".FileSystemBasedCheckpointFileManager"), name
    # the configured name is the one the JVM loaded
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == name

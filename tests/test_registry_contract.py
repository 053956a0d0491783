"""Driver-contract consistency: queries() and oracle_sql() serve the
registry as registered, every query has a DuckDB twin except the two
documented sketch queries, and every output column stays inside the
leaf types the hash compare is proven safe on. Every registered query
is also named in COVERAGE.md's mapping tables, so an entry that serves
no operator, workload or extension family has no row to point at."""

import os
import re

from retail_sales_analysis_etl_bi_project_spark.plans import registry

import __spark_entry__ as entrymod


def test_queries_serve_registry_in_registration_order():
    qs = entrymod.queries()
    assert list(qs) == list(registry.QUERIES)
    assert list(entrymod.oracle_sql()) == list(registry.ORACLES)


def test_every_query_maps_to_a_coverage_row():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    with open(path, encoding="utf-8") as f:
        text = f.read()
    # the mapping tables: §2.1 through the north-star extensions, above
    # the per-round history sections
    start = text.index("## §2.1")
    end = text.index("\n### ", text.index("## North-star extensions"))
    named = set(re.findall(r"`(\w+)`", text[start:end]))
    unmapped = [q for q in entrymod.queries() if q not in named]
    assert not unmapped, unmapped


def test_oracle_discipline():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # every query has a DuckDB twin except the documented sketch-family
    # exceptions (DataSketches has no DuckDB twin; both are
    # tolerance/merge-pinned in tests/test_agg_approx.py)
    no_oracle = sorted(set(qs) - set(oracles))
    assert no_oracle == [
        "agg_incremental_distinct_hll",
        "agg_sketch_profile",
    ], no_oracle

    # key alignment: no oracle for a non-existent query
    assert not set(oracles) - set(qs)


# Leaf types the driver's Spark/DuckDB hash compare is known-safe on:
# the full green registry uses exactly these (r9 sweep). DECIMAL is
# deliberately absent — the only two hash-red driver rows in r8/r9
# were the registry's only decimal-output queries (the driver's hash
# normalization renders Decimal cells differently between its Arrow
# and duckdb fetch paths). Wide-decimal arithmetic is fine INTERNALLY;
# final projections must cast to one of these.
_SAFE_LEAF_TYPES = {
    "bigint",
    "boolean",
    "date",
    "double",
    "float",
    "int",
    "string",
    "timestamp",
}


def _leaf_types(dt, out):
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        for f in dt.fields:
            _leaf_types(f.dataType, out)
    elif isinstance(dt, T.ArrayType):
        _leaf_types(dt.elementType, out)
    elif isinstance(dt, T.MapType):
        _leaf_types(dt.keyType, out)
        _leaf_types(dt.valueType, out)
    else:
        out.add(dt.simpleString())


def test_no_decimal_or_exotic_output_columns(spark, sf_dir):
    """Every registered query's OUTPUT schema stays inside the leaf
    types the driver compare has proven safe on, recursing through
    array/map/struct containers down to leaves. Only the schema is
    inspected, but BUILDING some queries runs real work (the CC/graph
    family's eager pointer-jumping rounds, fitted Bloom/codebook
    collects, managed persists) — so this sweeps a sizable part of the
    pipeline at sf0.001 and releases the shared caches afterwards so
    later tests start clean (review finding, r10b)."""
    from retail_sales_analysis_etl_bi_project_spark.plans import shared_cache

    bad = {}
    try:
        for name, fn in entrymod.queries().items():
            leaves = set()
            _leaf_types(fn(spark, sf_dir).schema, leaves)
            offending = leaves - _SAFE_LEAF_TYPES
            if offending:
                bad[name] = sorted(offending)
    finally:
        shared_cache.release()
    assert not bad, f"unsafe output leaf types: {bad}"


def test_decimal_output_actually_fails_the_contract(spark, sf_dir):
    """Self-check: a deliberately decimal-projecting frame trips the
    same leaf-type walk the contract uses."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(1).cast("decimal(38,0)").alias("x"))
    leaves = set()
    _leaf_types(df.schema, leaves)
    assert leaves - _SAFE_LEAF_TYPES == {"decimal(38,0)"}

"""Query registry: the driver contract (__spark_entry__.py) serves these
dicts as registered, in registration order. Each registered query is a
(spark, sf_dir) -> DataFrame builder; most also carry a DuckDB oracle
SQL string that must produce identical column names, types, and values
(the driver hash-compares).

Queries whose semantics aren't SQL-expressible (LSH bucketing, minhash
band joins, streaming state) register with oracle=None and get the
driver's weaker rows-only check.

A registered plan is a function of the files under ``sf_dir`` and of
the session's SQL confs, so ``QUERIES`` serves each builder through a
plan memo (``shared_cache.memo_plan``, one family per query). Its key
is (applicationId, sf_dir, ``sources.tables._path_sig(sf_dir)``, the
session's SQL confs as one string). The signature lists the relative
path, mtime and size of every entry under ``sf_dir``, so rewriting,
adding or removing a file there makes the next call build afresh. A
plan is kept only when every leaf of its analyzed plan, subqueries
included, is a file scan under ``sf_dir`` or literal rows
(``_DATA_FREE_LEAVES``). A plan that reads elsewhere (a roundtrip's
staging dir) or holds an RDD (a localCheckpoint, ``createDataFrame``
over a list) is rebuilt on every call, as is every call over an
``sf_dir`` that ``os`` cannot list. A plan built over a managed
persist is kept with it, and misses once that persist is evicted or
released. A hit skips only the builder: the returned Dataset is
optimized, physically planned and executed anew, with the same jobs,
stages and tasks as a fresh build. The decorated function itself stays
unmemoized for direct callers.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import _path_sig
from . import shared_cache

Builder = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Builder] = {}
ORACLES: dict[str, str] = {}

# Tolerance-banded oracles for the sketch family (r11 VERDICT item 5):
# DuckDB computes the EXACT statistic (exact percentiles / exact
# distinct counts) with the same grouping keys and column names, and
# the gate checks each approximate Spark value lands within the
# sketch's documented error band instead of hash-matching. Shape:
# name -> (exact_sql, {banded_col: ("rel", bound)}); columns NOT
# listed in the band map (keys, exact counts) must match exactly.
# These names stay OUT of ORACLES — the driver's hash compare would
# red-flag approximate values — so the driver still records rows-only
# while the local gate (tools/compare_oracle.py) applies the stronger
# rows+schema+bounds check.
BANDED_ORACLES: dict[str, tuple[str, dict[str, tuple[str, float]]]] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder, with an
    optional DuckDB oracle SQL twin."""

    def wrap(fn: Builder) -> Builder:
        QUERIES[name] = _memoized(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


# Leaves of an analyzed plan that read no data source: literal rows, a
# generated range, a reference to a CTE defined elsewhere in the plan.
_DATA_FREE_LEAVES = frozenset({"LocalRelation", "Range", "OneRowRelation", "CTERelationRef"})


def _memoized(name: str, fn: Builder) -> Builder:
    """``fn`` served through the plan memo (module docstring)."""
    family = f"plan:{name}"

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            sig = _path_sig(sf_dir)
        except OSError:  # a remote or unlistable sf_dir: no key
            return fn(spark, sf_dir)
        confs = spark._jsparkSession.sessionState().conf().getAllConfs().toString()
        key = (spark.sparkContext.applicationId, sf_dir, sig, confs)
        return shared_cache.memo_plan(
            family, key, lambda: fn(spark, sf_dir), lambda df: _reads_only_under(df, sf_dir)
        )

    return run


def _reads_only_under(df: DataFrame, sf_dir: str) -> bool:
    """Whether every leaf of ``df``'s analyzed plan, subqueries
    included, is a file scan whose root paths lie under ``sf_dir`` or
    one of ``_DATA_FREE_LEAVES``."""
    root = os.path.join(os.path.abspath(sf_dir), "")
    plan = df._jdf.queryExecution().analyzed()
    subqueries = plan.subqueriesAll()
    for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.nodeName()
            if kind in _DATA_FREE_LEAVES:
                continue
            if kind != "LogicalRelation":
                return False
            try:  # a file-based relation has a file index
                paths = leaf.relation().location().rootPaths().mkString("\n")
            except Py4JError:
                return False
            for path in paths.split("\n"):
                url = urlparse(path)
                if url.scheme not in ("", "file"):
                    return False
                if not os.path.abspath(url.path).startswith(root):
                    return False
    return True


def banded_oracle(
    name: str, sql: str, bands: dict[str, tuple[str, float]]
) -> None:
    """Attach a tolerance-banded exact oracle to an already-registered
    sketch query (must NOT also have a hash oracle)."""
    if name in ORACLES:
        raise ValueError(f"{name} already has a hash oracle")
    BANDED_ORACLES[name] = (sql, bands)

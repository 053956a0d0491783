"""Query registry: the driver contract (__spark_entry__.py) serves these
dicts as registered, in registration order. Each registered query is a
(spark, sf_dir) -> DataFrame builder; most also carry a DuckDB oracle
SQL string that must produce identical column names, types, and values
(the driver hash-compares).

Queries whose semantics aren't SQL-expressible (LSH bucketing, minhash
band joins, streaming state) register with oracle=None and get the
driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

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
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def banded_oracle(
    name: str, sql: str, bands: dict[str, tuple[str, float]]
) -> None:
    """Attach a tolerance-banded exact oracle to an already-registered
    sketch query (must NOT also have a hash oracle)."""
    if name in ORACLES:
        raise ValueError(f"{name} already has a hash oracle")
    BANDED_ORACLES[name] = (sql, bands)

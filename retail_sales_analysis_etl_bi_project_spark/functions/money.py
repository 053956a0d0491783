"""Exact money arithmetic.

The reference stores money as Oracle NUMBER(p,2) (sql/ddl_oracle.sql:46-47,
82-84) — exact decimal. Spark doubles are NOT a faithful replacement for
aggregation: a distributed sum of doubles is order-dependent, so results
would vary run-to-run and differ from any single-threaded oracle. We
therefore cast money columns to DecimalType before aggregating (exact,
associative, deterministic at any parallelism) and cast the final result
back to double for a compact output schema.

At 100 TB this costs one extra CPU op per row in exchange for
deterministic, reproducible aggregates — the right trade for a BI engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 12 digits / 2 decimal places covers the reference's NUMBER(12,2)
# unit_price (sql/ddl_oracle.sql:82) and TPC-H extendedprice (<= ~5e5,
# 2dp). Kept narrow so decimal-widening in products/sums stays well under
# the 38-digit cap in BOTH Spark and the DuckDB oracle.
MONEY = "decimal(12,2)"


def dec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def revenue_expr(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Discounted revenue, the reference's ``unit_price = price*(1-disc)``
    business rule (scripts/generate_data.py:249-250) on TPC-H columns.
    Computed in decimal so aggregation is exact."""
    return dec(price) * (F.lit(1).cast(MONEY) - dec(discount))


def sum_money(col: Column, alias: str) -> Column:
    """Exact decimal SUM, exposed as double. Equivalent DuckDB oracle:
    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)."""
    return F.sum(col).cast("double").alias(alias)


# ---------------------------------------------------- full-precision doubles
#
# The decimal casts above are cross-engine-safe because money columns are
# GENERATED with 2 decimal digits: rounding a double that is within 1e-13
# of an exact 2dp value at scale 2 has ~0.005 of margin, so Spark
# (shortest-repr BigDecimal) and DuckDB (double multiply) can never
# disagree. A FULL-PRECISION double (events.value) is different: casting
# it to DECIMAL(18,6) performs a genuine rounding at the 6th decimal,
# where a last-ulp representation difference between the engines' cast
# paths can flip the result. For those columns, sums go through
# fixed_point_sum: round(x * 10^scale) is one IEEE multiply plus a
# round-half-away-from-zero — Spark's round() (BigDecimal HALF_UP on the
# shortest repr) and DuckDB's round() (half away from zero) agree on
# EVERY double, positive or negative — and the resulting integers
# aggregate exactly in decimal. (round, not floor: for k-decimal
# generated data the scaled product lands within ~1e-8 of an integer,
# and floor would truncate the ones sitting just below it, turning a
# 33.01 into 33.009999.)

def fixed_point_units(col: Column | str, scale: int = 6) -> Column:
    """One value's exact scaled units, round(x * 10^scale) as
    decimal(28,0): the per-row term that fixed_point_sum and
    fixed_point_partial sum. A store that folds raw rows and stored
    partials in one aggregate (streaming/kpi.py) sums these directly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(float(10**scale))).cast("decimal(28,0)")


def fixed_point_sum(col: Column | str, scale: int = 6) -> Column:
    """Deterministic cross-engine SUM of a double column: quantize to
    ``scale`` decimal digits in double arithmetic (round of x * 10^scale
    — identical in both engines for every double, see module comment),
    sum the integer parts exactly, divide once at the end. SQL twin:
    fixed_point_sum_sql.

    Safe domain — two distinct bounds, and the BINDING one is per-value:

    - per-VALUE: quantization is exact only while |x| * 10^scale fits an
      integer-exact double, i.e. |x| <= 2^53 / 10^scale (~9.0e9 at the
      default scale 6). Beyond that, round(x * 10^scale) silently loses
      ulps and both engines deterministically agree on a slightly WRONG
      quantization. events.value is O(1e3), five orders inside the bound.
    - per-SUM: the decimal(28,0) accumulator overflows only past 1e28
      scaled units (~1e22 raw at scale 6) — at 100 TB (~1e11 rows of
      O(1e3) values = ~1e20 scaled units) still 8 orders of headroom,
      so the accumulator is never the binding constraint; the per-value
      2^53 bound is."""
    return F.sum(fixed_point_units(col, scale)).cast("double") / F.lit(
        float(10**scale)
    )


def fixed_point_sum_sql(col: str, scale: int = 6) -> str:
    """DuckDB twin of fixed_point_sum — same round/sum/divide sequence
    (and the same 2^53/10^scale per-value safe domain)."""
    factor = f"{10**scale}.0"
    return (
        f"CAST(SUM(CAST(ROUND(({col}) * {factor}) AS DECIMAL(28,0))) AS DOUBLE)"
        f" / {factor}"
    )


def fixed_point_partial(col: Column | str, scale: int = 6) -> Column:
    """Mergeable partial for fixed_point_sum: the exact decimal(28,0)
    accumulator of scaled units, NOT yet divided. Integer addition is
    associative, so partials summed with fixed_point_final over ANY
    regrouping (per-partition, per-day, incremental-merge) equal the
    one-pass fixed_point_sum bit-for-bit — the algebraic-aggregate
    contract that makes incremental materialized-view maintenance
    exact (see plans/agg_queries.py agg_incremental_kpi_merge)."""
    return F.sum(fixed_point_units(col, scale))


def fixed_point_final(acc: Column | str, scale: int = 6) -> Column:
    """Merge + finalize fixed_point_partial accumulators: sum the exact
    integers, divide once at the end (same sequence as fixed_point_sum)."""
    c = F.col(acc) if isinstance(acc, str) else acc
    factor = float(10**scale)
    return F.sum(c).cast("double") / F.lit(factor)


def fixed4_expr(col: Column | str) -> Column:
    """Money → exact ×10⁴ fixed-point BIGINT (the trend/Gini statistics
    quantization, hoisted here so the convention has ONE Spark home
    next to its DuckDB twin fixed4_sql — review finding, r12g). The
    decimal(18,4) cast is exact for any 2-decimal money column; the
    ×10⁴ then lands on an integer."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(18,4)") * 10000).cast("bigint")


def fixed4_sql(col: str) -> str:
    """DuckDB twin of fixed4_expr (HUGEINT so downstream products never
    overflow int64)."""
    return f"CAST({col} * 10000 AS HUGEINT)"

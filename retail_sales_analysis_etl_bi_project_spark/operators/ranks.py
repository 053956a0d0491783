"""Two-phase distributed order statistics (r13 VERDICT items 1+5).

The registry's SELECTED-median discipline (REQUIREMENTS.md: a median
is the element at rank (n+1) div 2 under a deterministic total order,
never an interpolation) was implemented with `row_number()` windows —
a global `Window.orderBy(...)` for the Theil–Sen pairwise-slope
median, `Window.partitionBy(group).orderBy(...)` for the per-group
median/MAD family. Correct, but the rank sorts EVERY row through one
partition (globally, or one partition per group), which stops scaling
once a single (group's) input outgrows one executor.

This module is the documented swap (SCALE.md §r13): the classic
two-phase histogram rank selection —

  phase 1: bucket each row by a monotone range quantization of the
           ordering key; aggregate a per-bucket COUNT histogram
           (tiny: <= n_buckets rows (per group), map-side combined);
           a prefix sum over the histogram locates the ONE bucket
           holding the target rank and the residual rank inside it;
  phase 2: rank ONLY the rows of that bucket (a ~n/n_buckets slice)
           with the original deterministic total order and pick the
           residual rank.

The selected row is IDENTICAL to the single-partition window's pick —
bucketing is a monotone function of the ordering key's leading column,
so bucket boundaries respect the total order and the residual rank
inside the median bucket is exactly the global rank minus the count
of the buckets before it. Equal keys always share a bucket (same
input -> same quantization), so ties are still resolved by the
explicit tie-break columns, never by partitioning accidents.
Exactness therefore does not move: `tests/test_ranks.py` and a
property test in `tests/test_properties.py` pin
two-phase == single-window on engineered corpora, including
all-equal-key and boundary-straddling inputs.

No registered query calls this module since the Theil–Sen and
per-group MAD / embedding-norm median queries were removed with the
other rotation-window statistics; it stays as a tested operator for
the next order statistic whose input outgrows one partition.

Cost shape at 100 TB: three passes over the (cheap-to-recompute or
managed-persisted) input relation — a bounds/count aggregate, the
histogram aggregate, and the filtered phase-2 rank — all partitioned;
the only ordered windows left are over <= n_buckets histogram rows
(per group) and over the single selected bucket's slice. That trades
the O(n log n) single-partition sort for O(n) partitioned scans plus
an O(n / n_buckets) slice sort: the shape that survives a 100x
scale-up.

Reference scope: the reference has no order statistics at all
(/root/reference/etl/etl.py:220-306 stops at groupBy sums); this is
engine extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_KEY = "__tp_key"
_BKEY = "__tp_bkey"
_BUCKET = "__tp_bucket"
_LOCAL = "__tp_local_r"
_INTERNAL = (_KEY, _BKEY, _BUCKET, _LOCAL)


def signed_log(col: Column) -> Column:
    """sign(x)·ln(1+|x|) — a strictly monotone, finite-for-finite-x
    compression of a heavy-tailed double key. Uniform RANGE buckets
    over a ratio-shaped key (e.g. Theil–Sen's dy/dx, whose dx=1
    outliers stretch the range ~500× past the central mass) put ~80%
    of rows in one bucket, degenerating phase 2 back to a near-global
    sort; bucketing on the signed log spreads the same data to <1% per
    bucket (measured at sf0.1: top bucket 23.9k of 2.89M vs 2.35M
    uniform). Used ONLY as the `bucket_key` — ordering, ranking, and
    the emitted values stay on the raw key, so the transform cannot
    affect WHICH row is selected, only how evenly the histogram
    splits."""
    return F.signum(col) * F.log1p(F.abs(col))


def _bucket_expr(lo: Column, hi: Column, n_buckets: int) -> Column:
    """Monotone quantization of ``_BKEY`` into [0, n_buckets): uniform
    range buckets over [lo, hi], degenerate ranges collapse to bucket
    0. Monotone in the bucket key by construction (floor of an affine
    map with non-negative slope), so bucket order == key order; equal
    keys always map to the same bucket. Precondition: key is a
    non-NaN, finite double (every consumer derives it from exact
    integers)."""
    span = hi - lo
    raw = F.floor(
        (F.col(_BKEY) - lo) / span * F.lit(float(n_buckets))
    ).cast("int")
    clamped = F.least(
        F.lit(n_buckets - 1), F.greatest(F.lit(0), raw)
    )
    return F.when(span <= F.lit(0.0), F.lit(0)).otherwise(clamped)


def selected_ranks(
    df: DataFrame,
    key: Column,
    tiebreaks: Sequence[str],
    rank_exprs: dict[str, str],
    n_buckets: int = 1024,
    bucket_key: Column | None = None,
) -> DataFrame:
    """GLOBAL order-statistic selection by two-phase histogram rank:
    for each (label, sql_expr_of_m) in ``rank_exprs`` — e.g.
    ``{"q2": "(__tp_m + 1) div 2"}`` — return the row of ``df`` at
    that rank under the total order (key ASC, *tiebreaks ASC), with a
    ``__tp_rank`` column holding the label and ``__tp_m`` the total
    row count. The histogram is built ONCE and each target rank
    resolves to its own (bucket, residual) — k order statistics cost
    one extra phase-2 slice each, not k re-sorts.

    Each selection is equivalent to
    ``row_number().over(Window.orderBy(key, *tiebreaks)) == target``
    but no data row crosses a global single-partition window — see
    module docstring.

    ``bucket_key``: optional STRICTLY MONOTONE function of ``key``
    (e.g. ``signed_log(key)``) used only for histogram bucketing, for
    keys whose raw range is outlier-stretched; selection semantics are
    unchanged (monotone => bucket order respects key order and equal
    keys share a bucket).

    Phase 2 orders by the RAW key (plus tiebreaks); only the bucket
    map goes through a double cast. The cast is monotone
    NON-decreasing, so buckets remain contiguous raw-order ranges and
    the residual rank stays exact even for integer keys past 2⁵³,
    where the double collapses neighbors the raw order distinguishes
    (review finding, r14).
    """
    keyed = df.withColumn(_KEY, key).withColumn(
        _BKEY,
        (key if bucket_key is None else bucket_key).cast("double"),
    )
    bounds = keyed.agg(
        F.min(_BKEY).alias("__lo"),
        F.max(_BKEY).alias("__hi"),
        F.count(F.lit(1)).cast("bigint").alias("__tp_m"),
    )
    withb = keyed.join(F.broadcast(bounds)).withColumn(
        _BUCKET,
        _bucket_expr(F.col("__lo"), F.col("__hi"), n_buckets),
    )
    hist = withb.groupBy(_BUCKET).agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    # prefix sum over <= n_buckets histogram rows: the ONLY global
    # ordered window left, bounded by the bucket count, not the data
    w_cum = Window.orderBy(_BUCKET).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.withColumn(
        "__before", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0))
    ).join(F.broadcast(bounds))
    located = None
    for label, expr in rank_exprs.items():
        loc = (
            cum.withColumn("__target", F.expr(expr))
            .filter(
                (F.col("__before") < F.col("__target"))
                & (F.col("__target") <= F.col("__before") + F.col("__cnt"))
            )
            .select(
                _BUCKET,
                (F.col("__target") - F.col("__before")).alias(_LOCAL),
                "__tp_m",
                F.lit(label).alias("__tp_rank"),
            )
        )
        located = loc if located is None else located.unionByName(loc)
    # phase 2: deterministic rank over the selected buckets' slices
    # only (partitioned by target label so two ranks landing in one
    # bucket cannot interfere)
    w_slice = Window.partitionBy("__tp_rank").orderBy(_KEY, *tiebreaks)
    picked = (
        withb.drop("__tp_m")
        .join(F.broadcast(located), _BUCKET)
        .withColumn("__r", F.row_number().over(w_slice))
        .filter(F.col("__r") == F.col(_LOCAL))
    )
    drop = [*_INTERNAL, "__lo", "__hi", "__r"]
    return picked.drop(*drop)


def selected_lower_median(
    df: DataFrame,
    key: Column,
    tiebreaks: Sequence[str],
    n_buckets: int = 1024,
    bucket_key: Column | None = None,
) -> DataFrame:
    """GLOBAL lower median by two-phase histogram rank: the single row
    of ``df`` at rank (m+1) div 2 under (key ASC, *tiebreaks ASC),
    plus ``__tp_m``. A one-rank wrapper over ``selected_ranks``."""
    return selected_ranks(
        df,
        key,
        tiebreaks,
        {"median": "(__tp_m + 1) div 2"},
        n_buckets=n_buckets,
        bucket_key=bucket_key,
    ).drop("__tp_rank")


def grouped_selected_lower_median(
    df: DataFrame,
    group_cols: Sequence[str],
    key: Column,
    tiebreaks: Sequence[str],
    n_buckets: int = 256,
    bucket_key: Column | None = None,
) -> DataFrame:
    """PER-GROUP lower median by two-phase histogram rank: one row per
    group — the row at within-group rank (n_g+1) div 2 under
    (key ASC, *tiebreaks ASC) — with a ``__tp_n`` BIGINT column
    holding the group's row count. The scale rung for a per-group
    row_number median window: every pass below is partitioned BY THE
    GROUP KEY and, within phase 2, further by bucket, so no single
    group's full input is ever sorted through one partition — only its
    selected ~n_g/n_buckets bucket slice is.
    """
    groups = list(group_cols)
    # raw key for phase-2 ordering, double cast only for the bucket map
    # (the global variant's >2^53 exactness argument)
    keyed = df.withColumn(_KEY, key).withColumn(
        _BKEY,
        (key if bucket_key is None else bucket_key).cast("double"),
    )
    bounds = keyed.groupBy(*groups).agg(
        F.min(_BKEY).alias("__lo"),
        F.max(_BKEY).alias("__hi"),
        F.count(F.lit(1)).cast("bigint").alias("__tp_n"),
    )
    withb = keyed.join(F.broadcast(bounds), groups).withColumn(
        _BUCKET,
        _bucket_expr(F.col("__lo"), F.col("__hi"), n_buckets),
    )
    hist = withb.groupBy(*groups, _BUCKET).agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    w_cum = (
        Window.partitionBy(*groups)
        .orderBy(_BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = (
        hist.withColumn(
            "__before", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0))
        )
        .join(F.broadcast(bounds.select(*groups, "__tp_n")), groups)
        .withColumn("__target", F.expr("(__tp_n + 1) div 2"))
        .filter(
            (F.col("__before") < F.col("__target"))
            & (F.col("__target") <= F.col("__before") + F.col("__cnt"))
        )
        .select(
            *groups,
            F.col(_BUCKET),
            (F.col("__target") - F.col("__before")).alias(_LOCAL),
            "__tp_n",
        )
    )
    w_slice = Window.partitionBy(*groups).orderBy(_KEY, *tiebreaks)
    picked = (
        withb.drop("__tp_n")
        .join(F.broadcast(located), [*groups, _BUCKET])
        .withColumn("__r", F.row_number().over(w_slice))
        .filter(F.col("__r") == F.col(_LOCAL))
    )
    drop = [*_INTERNAL, "__lo", "__hi", "__r"]
    return picked.drop(*drop)

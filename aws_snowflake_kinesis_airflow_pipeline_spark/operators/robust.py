"""Robust per-group anomaly statistics: median / MAD / outlier counts.

Data-quality monitoring over a fact column — the robust (breakdown-point
0.5) alternative to mean±kσ, which a single corrupt batch can drag
arbitrarily far. ``|x - median| > z * MAD`` is the classic robust outlier
rule; pipelines run it per group (event type, source, day) to flag feeds
whose value distribution shifted.

Shape: exact MAD is inherently two dependent aggregation passes (the
median must exist before deviations from it can be ranked) plus one
counting pass — three scans of the fact, each a single-exchange grouped
aggregate, with the tiny per-group stats tables broadcast back between
passes. The production path at corpus scale is ``approx_percentile``
(Greenwald-Khanna digest: mergeable, memory-bounded by its accuracy
regardless of group cardinality); exact
``F.percentile`` keeps unbounded per-group merge state and is reserved
for oracle pairing and fixture-scale tests. The registered driver query
carries both: the exact branch hash-checked against DuckDB
QUANTILE_CONT, and an approx branch checked as an error band (the
``b8_stats_pack`` sketch pattern).

Cross-engine determinism of the outlier COUNT: a strict ``>`` on computed
doubles can flip on engine ulp differences when a point lands exactly on
the threshold — a value-grid hazard. The registered query counts on a
continuous value column, where such a tie is measure-zero; the reference
form's ``eps`` shows the guard for grid-valued columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_ACCURACY = 10_000


def grouped_mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    z: float = 3.0,
    eps: float = 0.0,
    approx: bool = False,
    accuracy: int = _ACCURACY,
) -> DataFrame:
    """Per-group (median, mad, n_outliers) where an outlier is
    ``|x - median| > z * mad + eps``. NULL values are ignored (neither
    ranked nor counted). median/mad are rounded to 4 dp in the output;
    the outlier rule uses full precision plus ``eps``.

    ``approx=True`` is the at-scale form: GK-digest percentiles whose
    state is O(accuracy * log(n)) per group instead of O(distinct
    values) — the rank error is <= n/accuracy, exact whenever the group
    is smaller than ``accuracy``.
    """
    v = F.col(value_col)
    if approx:
        def _median(c):
            return F.approx_percentile(c, F.lit(0.5), F.lit(accuracy))
    else:
        def _median(c):
            return F.percentile(c, F.lit(0.5))

    med = df.groupBy(*group_cols).agg(_median(v).alias("_med"))
    mad = (
        df.join(F.broadcast(med), group_cols)
        .groupBy(*group_cols)
        .agg(_median(F.abs(v - F.col("_med"))).alias("_mad"))
    )
    return _finish_mad(df, group_cols, v, med, mad, z, eps)


def _finish_mad(df, group_cols, v, med, mad, z, eps):
    stats = med.join(mad, group_cols)
    counted = (
        df.join(F.broadcast(stats), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(
                F.when(
                    F.abs(v - F.col("_med")) > z * F.col("_mad") + eps, 1
                )
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return stats.join(counted, group_cols).select(
        *group_cols,
        F.round("_med", 4).alias("median"),
        F.round("_mad", 4).alias("mad"),
        "n_outliers",
    )


def grouped_mad_outliers_paired(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Exact AND approx MAD outlier stats (outlier: more than 3 MADs from
    the median) in the SAME three aggregation
    passes (plus the group size, folded into the counting pass):
    ``(group_cols, median, mad, n_outliers, median_approx, mad_approx,
    n_outliers_approx, n_values)``.

    Running :func:`grouped_mad_outliers` twice costs six grouped scans of
    the fact; pairing the percentile expressions inside one aggregate per
    pass halves that — the shape for any caller that wants the exact
    answer checked against the memory-bounded plan (the s1 driver query's
    error-band branch). The approx side's GK digest runs at accuracy
    ``_ACCURACY``.
    """
    v = F.col(value_col)
    med = df.groupBy(*group_cols).agg(
        F.percentile(v, F.lit(0.5)).alias("_med"),
        F.approx_percentile(v, F.lit(0.5), F.lit(_ACCURACY)).alias("_med_a"),
    )
    mad = (
        df.join(F.broadcast(med), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad"),
            F.approx_percentile(
                F.abs(v - F.col("_med_a")), F.lit(0.5), F.lit(_ACCURACY)
            ).alias("_mad_a"),
        )
    )
    stats = med.join(mad, group_cols)
    counted = (
        df.join(F.broadcast(stats), group_cols)
        .groupBy(*group_cols)
        .agg(
            F.count(
                F.when(F.abs(v - F.col("_med")) > 3.0 * F.col("_mad"), 1)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(
                F.when(F.abs(v - F.col("_med_a")) > 3.0 * F.col("_mad_a"), 1)
            )
            .cast("long")
            .alias("n_outliers_approx"),
            F.count(v).cast("long").alias("n_values"),
        )
    )
    return stats.join(counted, group_cols).select(
        *group_cols,
        F.round("_med", 4).alias("median"),
        F.round("_mad", 4).alias("mad"),
        "n_outliers",
        F.round("_med_a", 4).alias("median_approx"),
        F.round("_mad_a", 4).alias("mad_approx"),
        "n_outliers_approx",
        "n_values",
    )

"""Window-function operators (reference R16-R20; SURVEY.md §2B E15-E17).

Reference parity: R16 is the two unbounded partition-AVG windows at
different grains in one SELECT (``pasta2_analytics/src/main.py:41-42``),
deduplicated by GROUP-BY-all-columns (R19, ``:45-47``).

Physical shape: each distinct (partitionBy, orderBy) spec costs one
hash exchange + sort. Windows sharing a spec are computed in one pass.
At 100 TB: order specs so adjacent windows share partitioning (Spark
reuses the exchange), and never use a global (empty-partition) window —
it funnels all rows to one task.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def window_avg_multi_grain(
    df: DataFrame,
    value_col: str,
    grains: Mapping[str, Sequence[str | Column]],
) -> DataFrame:
    """Reference R16 generalized: one AVG-over-partition per grain, all in
    a single select. ``grains`` maps output alias → partition columns.

    The reference computes per-day and per-hour passenger averages this
    way (``pasta2_analytics/src/main.py:41-42``).
    """
    out = df
    for alias, part_cols in grains.items():
        out = out.withColumn(alias, F.avg(value_col).over(Window.partitionBy(*part_cols)))
    return out


def rank_in_groups(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    method: str = "row_number",
    alias: str = "rn",
) -> DataFrame:
    """Ranking windows (E15): row_number / rank / dense_rank / ntile(n)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fns = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}
    return df.withColumn(alias, fns[method]().over(w))


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    n: int = 1,
    rn_alias: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-N rows per group via row_number + filter.

    At scale this is the standard two-phase pattern: the sort happens
    per-partition after one hash exchange; no global sort.
    """
    ranked = rank_in_groups(df, partition_by, order_by, "row_number", rn_alias)
    out = ranked.filter(F.col(rn_alias) <= n)
    return out if keep_rank else out.drop(rn_alias)


def lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    col: str,
    offset: int = 1,
    lag_alias: str | None = None,
    lead_alias: str | None = None,
) -> DataFrame:
    """Analytic lag/lead (E16)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df
    if lag_alias:
        out = out.withColumn(lag_alias, F.lag(col, offset).over(w))
    if lead_alias:
        out = out.withColumn(lead_alias, F.lead(col, offset).over(w))
    return out


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    agg: Column,
    alias: str,
    rows_preceding: int | None = None,
) -> DataFrame:
    """Frame-spec windows (E17): running total (unbounded preceding → current)
    or moving aggregate over the last ``rows_preceding`` rows."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    start = Window.unboundedPreceding if rows_preceding is None else -rows_preceding
    w = w.rowsBetween(start, Window.currentRow)
    return df.withColumn(alias, agg.over(w))


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto frontier), maximizing both dimensions: the
    points no other point beats on x AND y — price/performance
    frontiers, quality-vs-cost corpus triage. Returns one row per
    frontier point, columns (x, y).

    The naive formulation is a quadratic NOT-EXISTS self-join. This is
    the sort-based linear one: collapse to the best y per distinct x
    (a hash aggregate — also settles within-x dominance), then one
    window ordered by x DESC keeps a row iff its y exceeds the running
    max of every strictly-greater x (ROWS … 1 PRECEDING, so ties in x
    are impossible by construction). Dominance (x'>x, y'≥y) is strict
    in x and weak in y, which is exactly "y > max over x'>x".

    100 TB: the aggregate bounds the window input to |distinct x| rows
    — fine for discrete/quantized x. For continuous x, quantize first
    or run per-partition local skylines and re-run on the union (the
    skyline of skylines is the skyline); the window stage itself is a
    single tiny-input task either way.
    """
    best = df.groupBy(F.col(x_col).alias("x")).agg(F.max(y_col).alias("y"))
    w = (
        Window.orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        best.withColumn("_ymax_right", F.max("y").over(w))
        .filter(F.col("_ymax_right").isNull() | (F.col("y") > F.col("_ymax_right")))
        .drop("_ymax_right")
    )

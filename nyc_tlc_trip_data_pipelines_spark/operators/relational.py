"""Row filters, projections and derived columns.

Reference parity: the ingest filter pair (lower bound
``pasta1_etl/src/main.py:180-182``, strict upper bound ``:184-186``)
composes into a half-open time interval; projection-by-drop is
``main.py:218-223``; derived partition columns ``main.py:227-228``.

All of these stay in whole-stage codegen and push to the parquet scan —
the declarative forms below are what lets Catalyst do that (filters with
literal bounds become ``PushedFilters``, select-lists prune ``ReadSchema``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Arbitrary predicate filter (reference R5/R6 generalized; E1)."""
    return df.filter(predicate)


def filter_time_range(
    df: DataFrame,
    ts_col: str,
    lower: datetime | str | None = None,
    upper: datetime | str | None = None,
) -> DataFrame:
    """Half-open time interval ``[lower, upper)``.

    Reference semantics: pickup >= month_start - tolerance AND
    pickup < next_month_start (``pasta1_etl/src/main.py:180-186``).
    Literal bounds → both predicates push down to the parquet scan and
    prune row groups via min/max stats; at 100 TB this is the difference
    between scanning one month and scanning the lake.
    """
    out = df
    if lower is not None:
        out = out.filter(F.col(ts_col) >= F.lit(lower))
    if upper is not None:
        out = out.filter(F.col(ts_col) < F.lit(upper))
    return out


def project(df: DataFrame, columns: Sequence[Column | str]) -> DataFrame:
    """Projection, incl. expression columns (E2). Column pruning reaches
    the scan automatically (``ReadSchema`` shrinks to what's selected)."""
    return df.select(*columns)


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Projection by exclusion (reference R9, ``main.py:218-223``)."""
    return df.drop(*columns)


def derive_year_month(df: DataFrame, ts_col: str, year_col: str = "pickup_year", month_col: str = "pickup_month") -> DataFrame:
    """Reference R10: partition-key derivation (``main.py:227-228``)."""
    return df.withColumns({year_col: F.year(ts_col), month_col: F.month(ts_col)})


def cast_to_schema(df: DataFrame, column_types: Mapping[str, str]) -> DataFrame:
    """Schema-on-write coercion (reference R4, ``main.py:170-172``).

    Non-ANSI cast semantics (bad values → NULL) are guaranteed by the
    session factory pinning ``spark.sql.ansi.enabled=false``. One select
    with casts, not N chained withColumn, so the plan is a single Project.
    Columns absent from ``column_types`` pass through unchanged.
    """
    cols = [
        F.col(c).cast(column_types[c]).alias(c) if c in column_types else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)

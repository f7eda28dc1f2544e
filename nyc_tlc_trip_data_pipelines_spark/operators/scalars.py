"""Scalar function surface (reference R17/R24; SURVEY.md §2B E21-E25).

Reference parity: datetime extraction YEAR/MONTH/DAY/HOUR
(``pasta2_analytics/src/main.py:39-42``, ``pasta1_etl/src/main.py:227-228``)
and the driver-side date helpers (``pasta1_etl/src/utils.py:87-116``) —
re-expressed as Spark column expressions so they run JVM-side inside
whole-stage codegen instead of on the driver.

All helpers return ``Column``; they compose inside select/filter and stay
in codegen — never a Python UDF on these paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- datetime (R17, R24, E22) -------------------------------------------


def year(c: str | Column) -> Column:
    return F.year(c)


def month(c: str | Column) -> Column:
    return F.month(c)


def day(c: str | Column) -> Column:
    return F.dayofmonth(c)


def hour(c: str | Column) -> Column:
    return F.hour(c)


def first_day_of_next_month(ts: str | Column) -> Column:
    """Month rollover incl. Dec→Jan (reference
    ``pasta1_etl/src/utils.py:87-100``) pushed into Spark:
    ``add_months(date_trunc('MM', ts), 1)``."""
    return F.add_months(F.date_trunc("MM", ts), 1).cast("timestamp")


def ts_minus_hours(ts: str | Column, hours: int) -> Column:
    """Timestamp − N hours (reference tolerance arithmetic,
    ``pasta1_etl/src/utils.py:103-116``) as a codegen expression."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c - F.expr(f"INTERVAL {int(hours)} HOURS")


def date_truncate(ts: str | Column, unit: str) -> Column:
    """date_trunc to year/month/week/day/hour/minute (E22)."""
    return F.date_trunc(unit, ts)


# --- strings (E21) --------------------------------------------------------


def regexp_extract(c: str | Column, pattern: str, group: int = 1) -> Column:
    return F.regexp_extract(c, pattern, group)


# --- arrays / json (E24, E25) ---------------------------------------------


def array_dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two float arrays via higher-order functions —
    JVM-side, no UDF: ``aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)``."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def array_norm(a: str | Column) -> Column:
    """L2 norm of a float array, JVM-side."""
    ac = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ac, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    return array_dot(a, b) / (array_norm(a) * array_norm(b))


def json_get(c: str | Column, path: str) -> Column:
    """Extract a scalar from a JSON string column (E25):
    ``get_json_object(c, '$.path')``."""
    return F.get_json_object(F.col(c) if isinstance(c, str) else c, f"$.{path}")

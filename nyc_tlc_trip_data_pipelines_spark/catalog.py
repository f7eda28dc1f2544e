"""Table catalog over the driver-provided parquet test tables.

The reference discovers sources by listing an S3 bucket
(``pasta1_etl/src/utils.py:16-66``); here the analog is a directory of
parquet tables. ``load_table`` is a plain parquet scan — columnar,
vectorized, filter/projection pushdown all come free from Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.session import configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects (PARQUET_TYPE_ILLEGAL). With
# ``spark.sql.legacy.parquet.nanosAsLong=true`` they arrive as long
# nanoseconds; the catalog converts them back to timestamps (µs
# truncation — matches DuckDB's µs TIMESTAMP, SURVEY.md §7.3 tz note).
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _memo(spark: SparkSession) -> dict:
    """The catalog memo of one session, held on the session object: it
    lives as long as the session and is never seen by another one
    (DataFrame handles and temp views are per session).

    Keys ``(abs sf_dir, table)`` hold analyzed DataFrame handles:
    ``spark.read.parquet`` launches a footer schema-inference job on
    every call (~0.1-0.16 s of job latency at local[32]), so a workload
    invoking N queries would pay N footer jobs per table. The fixture
    tables are immutable for the life of a run, and a handle is an
    immutable logical plan that re-executes the scan from the parquet
    bytes on every action: no result or data is cached (the file
    listing is snapshotted per handle, as in any long-lived catalog
    handle). Key ``"views"`` holds the sf_dir the session's temp views
    point at."""
    return spark.__dict__.setdefault("_catalog_memo", {})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one driver table (reference R3)."""
    configure_session(spark)
    memo = _memo(spark)
    key = (os.path.abspath(sf_dir), name)
    if key in memo:
        return memo[key]
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # integer division keeps full precision (float64 can't hold
            # int64 nanos); truncation-to-µs truncation matches the
            # oracle engine
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    # Parquet timestamps written tz-naive (isAdjustedToUTC=false, e.g.
    # pandas/arrow µs) surface as TIMESTAMP_NTZ under Spark 4's default
    # inferTimestampNTZ, which forbids CAST-to-BIGINT and diverges from
    # the tz-naive DuckDB oracle's TIMESTAMP arithmetic. With session tz
    # pinned UTC (``configure_session``) the NTZ→LTZ cast is instant-
    # preserving, so normalize every NTZ column at the load boundary and
    # keep the whole engine on a single timestamp type.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    memo[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for the SQL surface.
    Re-registering the directory the views already point at is a no-op;
    another directory re-points them."""
    memo = _memo(spark)
    cur = os.path.abspath(sf_dir)
    if memo.get("views") == cur:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    memo["views"] = cur

"""Catalog type-normalization invariants.

The driver regenerated the test tables between rounds with tz-naive µs
parquet timestamps (isAdjustedToUTC=false); under Spark 4's default
``spark.sql.parquet.inferTimestampNTZ.enabled=true`` those load as
TIMESTAMP_NTZ, which (a) forbids ``CAST(ts AS BIGINT)`` — the round-3
``q_sessionize`` / ``q_window_time_range`` driver crashes — and
(b) diverges from the tz-naive DuckDB oracle's TIMESTAMP arithmetic.
``catalog.load_table`` must therefore never surface a TIMESTAMP_NTZ (or
raw nanos bigint) column, whatever physical parquet type the driver
wrote this round.
"""

import glob
import os

from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.catalog import TABLES, load_table


def test_load_table_never_returns_ntz(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not ntz, f"{name}: NTZ columns leaked through the catalog: {ntz}"


def test_events_ts_is_castable_to_epoch(spark, sf_dir):
    # The exact shape that crashed at the driver in round 3.
    ev = load_table(spark, sf_dir, "events")
    row = ev.select(F.col("ts").cast("long").alias("epoch")).agg(
        F.min("epoch").alias("lo"), F.max("epoch").alias("hi")
    ).collect()[0]
    assert row.lo is not None and row.hi >= row.lo


def test_events_ts_matches_duckdb_naive_wallclock(spark, sf_dir):
    # Instant parity with the oracle engine: DuckDB reads the same file
    # tz-naive; with session tz UTC the NTZ→LTZ normalization must keep
    # the wall-clock digits identical.
    import duckdb

    path = os.path.join(sf_dir, "events.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    d_lo, d_hi = duckdb.sql(
        f"SELECT CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR) FROM read_parquet({files!r})"
    ).fetchone()
    ev = load_table(spark, sf_dir, "events")
    s = ev.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("lo"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("hi"),
    ).collect()[0]
    assert s.lo == d_lo[:19] and s.hi == d_hi[:19]


def test_catalog_memo_is_per_session(spark, sf_dir):
    """Two sessions of one SparkContext: ``load_table`` on a new session
    returns a handle bound to that session and prepares that session's
    confs, and ``register_views`` there creates its own views although
    the other session already registered the same directory."""
    from nyc_tlc_trip_data_pipelines_spark.catalog import register_views

    register_views(spark, sf_dir)
    other = spark.newSession()
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true"
    assert not other.catalog.tableExists("region")

    df = load_table(other, sf_dir, "events")
    assert df.sparkSession is other
    assert load_table(other, sf_dir, "events") is df
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert other.conf.get("spark.sql.ansi.enabled") == "false"
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
    for aqe in ("enabled", "coalescePartitions.enabled", "skewJoin.enabled"):
        assert other.conf.get(f"spark.sql.adaptive.{aqe}") == "true"
    assert dict(df.dtypes)["ts"] == "timestamp"

    register_views(other, sf_dir)
    n = other.sql("SELECT COUNT(*) AS n FROM region").collect()[0].n
    assert n == spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0].n > 0

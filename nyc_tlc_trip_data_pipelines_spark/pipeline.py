"""Medallion pipeline orchestration (reference stages 3.1/3.2).

Re-implements the reference's bronze→gold flow Spark-first:

- ``ingest_bronze``: per-source-file cast + half-open time filter +
  append (``pasta1_etl/src/main.py:149-199``), with per-file error
  isolation (R23, ``main.py:155,197-199``) and a run manifest (R22,
  ``main.py:253-267``).
- ``build_gold``: column drop + derived partition columns + partitioned
  append (``main.py:215-239``).
- ``analytics_q1`` / ``analytics_q2``: the two reference SQL queries
  (``pasta2_analytics/src/main.py:18-25,33-50``).

Scale deltas vs the reference (deliberate):
- The reference triggers 4 extra full scans via logging ``count()``
  calls (BASELINE.md "known inefficiencies"); here the appended row
  count rides on the write via an observation (no extra job).
- The reference appends file by file. Here every file is planned on the
  driver with its own month bounds (so rows are attributed as before)
  and all files are appended in ONE job: one pushed-down scan per file,
  run in parallel by Spark, published by Spark's output committer.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.io import (
    append_table,
    discover_files,
    prune_files_by_month,
    read_parquet,
    write_csv,
    write_partitioned,
    write_run_manifest,
)
from nyc_tlc_trip_data_pipelines_spark.operators.relational import (
    derive_year_month,
    drop_columns,
    filter_time_range,
)
from nyc_tlc_trip_data_pipelines_spark.schema import (
    YELLOW_TRIP_BRONZE,
    YELLOW_TRIP_GOLD,
    TableSchema,
)

_MONTH_RE = re.compile(r"(\d{4})-(\d{2})")


@dataclass
class RunResult:
    processed: list[str] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    rows_appended: int = 0
    manifest_path: str | None = None


def month_bounds(year: int, month: int, tolerance_hours: int = 1) -> tuple[str, str]:
    """Half-open ingest interval [month_start − tolerance, next_month_start)
    (reference ``pasta1_etl/src/utils.py:87-116``, incl. Dec→Jan rollover)."""
    from datetime import datetime, timedelta

    start = datetime(year, month, 1) - timedelta(hours=tolerance_hours)
    nxt = datetime(year + 1, 1, 1) if month == 12 else datetime(year, month + 1, 1)
    return start.strftime("%Y-%m-%d %H:%M:%S"), nxt.strftime("%Y-%m-%d %H:%M:%S")


def ingest_bronze(
    spark: SparkSession,
    source_dir: str,
    bronze_path: str,
    schema: TableSchema = YELLOW_TRIP_BRONZE,
    ts_col: str = "tpep_pickup_datetime",
    start_month: str | None = None,
    end_month: str | None = None,
    tolerance_hours: int = 1,
    manifest_dir: str | None = None,
) -> RunResult:
    """Stage 1 (``create_bronze_layer``): discover monthly files, prune by
    filename month range, then per file: cast to declared schema, filter
    temporal outliers to the file's month window, append to bronze.

    Each file's frame is planned on the driver; a file whose plan fails
    (no ``YYYY-MM`` in its name, an unreadable footer, a schema that
    cannot be cast) goes to ``failed``. The planned frames are appended
    in ONE job, and Spark's output committer publishes nothing if that
    job fails. Only then, on a run-time failure such as corrupt data
    pages behind a valid footer, are the planned frames appended one job
    each, so the bad file fails alone. ``processed``/``failed`` keep
    discovery order; ``rows_appended`` is the row count observed on the
    successful writes.
    """
    files = prune_files_by_month(discover_files(source_dir), start_month, end_month)

    def _plan(path: str) -> DataFrame:
        m = _MONTH_RE.search(os.path.basename(path))
        if not m:
            raise ValueError(f"no YYYY-MM in filename: {path}")
        lo, hi = month_bounds(int(m.group(1)), int(m.group(2)), tolerance_hours)
        return filter_time_range(schema.apply_cast(read_parquet(spark, path)), ts_col, lo, hi)

    def _append(frames: list[DataFrame]) -> int:
        obs = Observation()
        append_table(
            reduce(DataFrame.unionByName, frames).observe(obs, F.count(F.lit(1)).alias("rows")),
            bronze_path,
        )
        return obs.get["rows"]

    planned: dict[str, DataFrame] = {}
    for path in files:
        try:
            planned[path] = _plan(path)
        except Exception:  # per-file isolation: one bad file never kills the run
            pass
    done, rows = list(planned), 0
    if planned:
        try:
            rows = _append(list(planned.values()))
        except Exception:  # run-time failure: append file by file to isolate it
            done = []
            for path, df in planned.items():
                try:
                    rows += _append([df])
                    done.append(path)
                except Exception:
                    pass
    ok = set(done)
    result = RunResult(processed=done, failed=[p for p in files if p not in ok], rows_appended=rows)
    if manifest_dir:
        result.manifest_path = write_run_manifest(manifest_dir, result.processed, result.failed)
    return result


def build_gold(
    spark: SparkSession,
    bronze_path: str,
    gold_path: str,
    gold_schema: TableSchema = YELLOW_TRIP_GOLD,
    bronze_schema: TableSchema = YELLOW_TRIP_BRONZE,
    ts_col: str = "tpep_pickup_datetime",
) -> None:
    """Stage 2 (``create_gold_layer``): project bronze down to the gold
    column set, derive partition keys, partitioned append."""
    bronze = read_parquet(spark, bronze_path)
    derived = set(gold_schema.partitioning)
    keep = [c for c in gold_schema.columns if c not in derived]
    to_drop = [c for c in bronze_schema.columns if c not in keep]
    gold = drop_columns(bronze, to_drop)
    gold = derive_year_month(gold, ts_col, *gold_schema.partitioning)
    write_partitioned(gold, gold_path, list(gold_schema.partitioning))


def analytics_q1(spark: SparkSession, gold_path: str, out_path: str | None = None) -> DataFrame:
    """Reference Q1 (``pasta2_analytics/src/main.py:18-26``): monthly AVG
    total amount, ordered, optionally written as headered CSV."""
    gold = read_parquet(spark, gold_path)
    out = (
        gold.groupBy("pickup_year", "pickup_month")
        .agg(F.avg("Total_amount").alias("avg_total_amount"))
        .orderBy("pickup_year", "pickup_month")
    )
    if out_path:
        write_csv(out, out_path)
    return out


def analytics_q2(spark: SparkSession, gold_path: str, out_path: str | None = None) -> DataFrame:
    """Reference Q2 (``pasta2_analytics/src/main.py:33-51``): per-day and
    per-hour window AVG of passenger count, deduped by GROUP-BY-all,
    4-column ORDER BY. Kept literally window-then-group (SURVEY.md §7.3)."""
    read_parquet(spark, gold_path).createOrReplaceTempView("yellow_tripdata_gold")
    out = spark.sql(
        """
        WITH yellow_tripdata_window AS (
            SELECT
                pickup_year,
                pickup_month,
                DAY(tpep_pickup_datetime) AS pickup_day,
                HOUR(tpep_pickup_datetime) AS pickup_hour,
                AVG(Passenger_count) OVER (PARTITION BY pickup_year, pickup_month, DAY(tpep_pickup_datetime)) AS avg_passenger_count_day,
                AVG(Passenger_count) OVER (PARTITION BY pickup_year, pickup_month, DAY(tpep_pickup_datetime), HOUR(tpep_pickup_datetime)) AS avg_passenger_count_hour
            FROM yellow_tripdata_gold
        )
        SELECT pickup_year, pickup_month, pickup_day, pickup_hour,
               avg_passenger_count_day, avg_passenger_count_hour
        FROM yellow_tripdata_window
        GROUP BY pickup_year, pickup_month, pickup_day, pickup_hour,
                 avg_passenger_count_day, avg_passenger_count_hour
        ORDER BY pickup_year, pickup_month, pickup_day, pickup_hour
        """
    )
    if out_path:
        write_csv(out, out_path)
    return out

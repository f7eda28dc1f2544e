"""Structured Streaming operators (SURVEY.md §2B E31-E35).

The reference is batch-only; streams are the north-star extension. All
operators follow the standard Structured Streaming shapes: readStream →
transform → writeStream, watermarks for state cleanup, windowed and
session aggregations, stateful dedup.

Correctness strategy (SURVEY.md §5.2 item 5): batch-stream equivalence —
each streaming transform has the same semantics when applied to a static
DataFrame of the full input, so tests replay the ``events`` table as a
file stream and compare against the batch result.

100 TB notes: watermarks bound state size (without one, windowed state
grows forever); ``availableNow`` triggers give batch-like backfill with
streaming semantics; state-store ops (dedup, session windows) shuffle by
key — same skew rules as batch groupBy.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-based replay source: each micro-batch picks up new files.
    Used by tests to replay the events table as a stream."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def with_watermark(df: DataFrame, ts_col: str, delay: str = "1 hour") -> DataFrame:
    """E34: late-data bound. Rows later than max(event time) − delay are
    dropped from stateful ops; state older than the watermark is evicted."""
    return df.withWatermark(ts_col, delay)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window_size: str = "1 hour",
    keys: tuple[str, ...] = (),
    value_col: str = "value",
    avg_decimals: int = 6,
    value_agg: str = "avg",
) -> DataFrame:
    """E31: non-overlapping event-time windows.

    ``value_agg="sum"`` emits a rounded SUM instead of AVG: averages of
    finite-decimal data routinely land exactly on round-half boundaries
    (sum/n), where micro-batch accumulation order can flip the rounded
    digit vs a single-pass batch oracle. Sums of ≤6-decimal values have
    no such boundary at 6dp, so the streamed result is bit-stable
    against the batch twin — stream contract queries use "sum"."""
    val = (
        F.round(F.sum(value_col), avg_decimals).alias("sum_value")
        if value_agg == "sum"
        else F.round(F.avg(value_col), avg_decimals).alias("avg_value")
    )
    return (
        df.groupBy(F.window(ts_col, window_size), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), val)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value" if value_agg == "sum" else "avg_value",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window_size: str = "1 hour",
    slide: str = "15 minutes",
    keys: tuple[str, ...] = (),
    value_col: str = "value",
    avg_decimals: int = 6,
    value_agg: str = "avg",
) -> DataFrame:
    """E32: overlapping windows — each row lands in size/slide windows.
    See :func:`tumbling_window_agg` for ``value_agg``/``avg_decimals``."""
    val = (
        F.round(F.sum(value_col), avg_decimals).alias("sum_value")
        if value_agg == "sum"
        else F.round(F.avg(value_col), avg_decimals).alias("avg_value")
    )
    return (
        df.groupBy(F.window(ts_col, window_size, slide), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), val)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value" if value_agg == "sum" else "avg_value",
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    keys: tuple[str, ...] = ("user_id",),
    value_col: str = "value",
) -> DataFrame:
    """E33: data-driven windows that close after ``gap`` of inactivity
    per key. State-store backed in streaming mode."""
    return (
        df.groupBy(F.session_window(ts_col, gap), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(df: DataFrame, keys: list[str], ts_col: str | None = None, delay: str = "1 hour") -> DataFrame:
    """E35: stateful streaming dedup. With a watermark column the state
    is bounded (``dropDuplicatesWithinWatermark``); without, state grows
    with distinct keys (batch semantics = plain dropDuplicates)."""
    if df.isStreaming and ts_col is not None:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stateful_running_totals(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """E35 (full form): custom stateful operator via
    ``applyInPandasWithState`` — per-key running (count, sum) carried in
    a GroupState across micro-batches, one update row emitted per key
    per batch it appears in.

    Batch equivalence: the per-key LAST update equals the batch
    ``groupBy(key).agg(count, sum)`` (asserted in tests). State is one
    (long, double) pair per key — bounded by key cardinality; pair with
    a timeout in production for unbounded key spaces.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "sum_value": [round(s, 6)]})

    if df.isStreaming:
        return df.groupBy(key_col).applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    # batch twin: same output contract, computed with a plain aggregate
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum(value_col), 6).alias("sum_value")
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """E35d: stream-STREAM inner interval join — right events matched to
    left events of the same key within ``(left_ts, left_ts + max_delay]``.

    Both sides carry watermarks (required: the interval bound plus the
    watermark tells Spark when buffered state can be dropped — without
    it, join state grows forever). For an INNER join, matches are
    emitted as soon as both rows are seen, so draining all input with
    availableNow yields exactly the batch join — the oracle contract.

    100 TB note: state is bounded by key-cardinality × (watermark +
    interval) window of rows per side; co-partitioning on the key is
    automatic (both sides shuffle to the same hash partitioning).
    """
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = (
        (lw[left_key] == rw[right_key])
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, on=cond, how="inner")


def foreach_batch_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
) -> "StreamingQuery":  # noqa: F821
    """Production-shaped sink: ``foreachBatch`` appends each micro-batch
    to a parquet table (the hook where real deployments do merges,
    multi-sink fan-out, or idempotent upserts keyed on batch_id).
    Runs with availableNow and returns the started query."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_changelog_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
) -> "StreamingQuery":  # noqa: F821
    """CDC-over-stream sink, merge-on-read (round-5): each micro-batch of
    I/U/D changelog ops lands as its OWN committed version of a
    versioned-append table (``io.append_versioned`` keyed on the batch
    id), and the current table state is computed at read time by
    :func:`cdc_read_state` — changelog compaction over the accumulated
    log. This is the Hudi merge-on-read / Delta CDF consumer shape:

    - **writes are cheap and idempotent**: an append per micro-batch, no
      read-modify-write; a batch re-delivered after a crash between the
      sink write and the checkpoint commit is deduped by job_id
      (``cdc-b{batch_id}``) — the exactly-once gap foreachBatch leaves
      open ("at-least-once per batch id") is closed by the versioned
      sink's cross-manifest retry dedup.
    - **order-independent**: compaction keys on the changelog sequence
      column, not arrival order, so micro-batch boundaries and file
      ordering don't affect the final state (availableNow drain ==
      batch ``cdc_apply`` over the full log — the oracle contract).
    - **time travel for free**: every micro-batch is a version;
      ``read_version(path, n)`` reconstructs the log as of batch n.

    100 TB note: periodic compaction (``cdc_apply`` materialized back
    via ``append_versioned`` + older-version vacuum) bounds the
    read-side log length; the write path never blocks on it.
    """
    from nyc_tlc_trip_data_pipelines_spark.io import append_versioned

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_versioned(batch_df, path, f"cdc-b{batch_id}")

    return (
        stream_df.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_read_state(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    seq_col: str,
    version: int | None = None,
) -> DataFrame:
    """Read-side of :func:`cdc_changelog_sink`: current (or AS-OF) table
    state = changelog compaction over the accumulated versioned log —
    one window pass per read (``operators.sorts.cdc_apply``), shuffled
    by key like any batch CDC apply."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_version
    from nyc_tlc_trip_data_pipelines_spark.operators.sorts import cdc_apply

    return cdc_apply(read_version(spark, path, version), key_cols, seq_col)


def run_to_memory_sink(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a stream to completion over all currently-available input
    (availableNow trigger) and return the result as a static DataFrame.
    The batch-stream-equivalence test harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def ohlc_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window_size: str = "1 day",
    keys: tuple[str, ...] = ("user_id",),
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming OHLC bars: open/close via lexicographic struct MIN/MAX
    inside a watermarked tumbling window — the struct aggregates merge
    associatively across micro-batches, so the streamed bar is
    bit-identical to the batch aggregate (open/close are RAW column
    values, no accumulation; only sum_value needs rounding)."""
    first = F.min(F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(value_col).alias("v")))
    last = F.max(F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(value_col).alias("v")))
    return (
        df.groupBy(F.window(ts_col, window_size), *keys)
        .agg(
            first.getField("v").alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            last.getField("v").alias("close"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "sum_value",
        )
    )


def quarantine_sink(
    stream_df: DataFrame,
    valid_predicate,
    good_path: str,
    bad_path: str,
    checkpoint: str,
) -> "StreamingQuery":  # noqa: F821
    """Dead-letter routing: each micro-batch splits on a validity
    predicate — valid rows append to the main table, invalid rows (with
    a quarantine reason stamp) to the dead-letter table. The standard
    ingestion pattern that keeps one poison record from failing a 100 TB
    backfill, while losing nothing.

    The split runs INSIDE foreachBatch so both sinks see the same batch
    exactly once per trigger (Spark persists the batch internally; the
    two filters scan the same materialized micro-batch)."""

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        stamped = batch_df.withColumn("__batch_id", F.lit(batch_id))
        stamped.filter(valid_predicate).write.mode("append").parquet(good_path)
        (
            stamped.filter(~valid_predicate)
            .withColumn("__quarantined_at_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(bad_path)
        )

    return (
        stream_df.writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

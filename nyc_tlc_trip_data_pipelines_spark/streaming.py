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

import importlib.util

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The Spark-4 State API v2 (transformWithStateInPandas) speaks protobuf
# to the JVM; without the protobuf package the driver worker crashes at
# query start, so the surface is guarded by an import probe.
# find_spec on a submodule imports the parent package, so probe the
# parent first (a bare find_spec("google.protobuf") raises when the
# google namespace package is absent entirely)
HAS_TWS_PROTO = (
    importlib.util.find_spec("google") is not None
    and importlib.util.find_spec("google.protobuf") is not None
)


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
        from nyc_tlc_trip_data_pipelines_spark.deploy import ensure_package_on_executors

        ensure_package_on_executors(df.sparkSession)
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


def run_with_rocksdb_state(
    stream_df: DataFrame, query_name: str, output_mode: str = "update"
) -> DataFrame:
    """:func:`run_to_memory_sink` with the RocksDB state store provider
    scoped to the query — ``transformWithStateInPandas`` (the Spark-4
    State API v2) requires RocksDB; HDFS-backed state (the default)
    stays in force for every other query. The conf is read at query
    START, so set-run-restore is race-free under this module's
    one-query-at-a-time harness usage."""
    spark = stream_df.sparkSession
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run_to_memory_sink(stream_df, query_name, output_mode=output_mode)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def tws_running_totals(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running totals on the Spark-4 **State API v2**
    (``transformWithStateInPandas``, SPARK-49564) — the successor to
    :func:`stateful_running_totals`'s ``applyInPandasWithState``: the
    processor owns named, independently-evolvable state variables
    (ValueState/ListState/MapState with optional TTL and timers)
    instead of one monolithic state tuple, which is what production
    pipelines need for schema evolution of long-lived state.

    State here is one ValueState ``(n BIGINT, s BIGINT)`` per key with
    the sum in integer MICRO-UNITS: each value quantizes to
    HALF_UP ``round(v·1e6)`` per row before an int64 sum (the same
    rounding F.round applies in the batch twin), so the running total
    is EXACT and independent of micro-batch boundaries and Arrow batch
    order — the streamed final equals the batch aggregate bit-for-bit
    (the q_domain_mixture rule, applied across micro-batches).

    Emits one update row per key per micro-batch it appears in:
    (key, n_events, sum_value). Last update per key == the batch
    ``groupBy`` twin (returned on a non-streaming input).

    Scale: state is 16 bytes per key in RocksDB (bounded by key
    cardinality, spillable to disk — the reason the v2 API is
    RocksDB-only); add ``ttlDurationMs`` to the ValueState for
    unbounded key spaces. Run via :func:`run_with_rocksdb_state`.

    Environment guard: the State API v2 wire protocol needs the
    ``protobuf`` package (``pyspark.sql.streaming.proto``) — the
    streaming path raises a loud RuntimeError without it (the code
    path self-enables where protobuf exists, and tests skipif on
    :data:`HAS_TWS_PROTO`). The batch twin always works.
    """
    import numpy as np
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = "key bigint, n_events bigint, sum_value double"

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n BIGINT, s BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            n, s = self._totals.get() or (0, 0)
            for pdf in rows:
                n += len(pdf)
                # The micro-unit quantization happens JVM-SIDE in the
                # plan (the __micro column below, the SAME F.round
                # BigDecimal-HALF_UP expression the batch twin uses) —
                # a Python-side floor(x+0.5) emulation can carry
                # just-below-midpoint floats up (0.49999999999999994 +
                # 0.5 == 1.0) and break the bit-for-bit parity claim
                # (round-7 advice). Here only the int64 sum remains.
                # NULL values drop from the sum (F.sum semantics) while
                # still counting in n_events (F.count(lit(1)) semantics).
                x = pdf["__micro"].to_numpy(dtype="float64")
                s += int(x[~np.isnan(x)].astype("int64").sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"key": [key[0]], "n_events": [n], "sum_value": [s / 1e6]}
            )

        def close(self) -> None:
            pass

    if df.isStreaming:
        if not HAS_TWS_PROTO:
            raise RuntimeError(
                "transformWithStateInPandas needs the protobuf package "
                "(pyspark.sql.streaming.proto) — unavailable in this "
                "environment; use stateful_running_totals "
                "(applyInPandasWithState) instead"
            )
        from nyc_tlc_trip_data_pipelines_spark.deploy import (
            ensure_package_on_executors,
        )

        ensure_package_on_executors(df.sparkSession)
        # quantize in the PLAN, not in Python: the same JVM F.round
        # (BigDecimal HALF_UP) expression as the batch twin computes
        # __micro, so stream/batch parity is exact by construction
        micro = df.withColumn(
            "__micro", F.round(F.col(value_col) * 1e6, 0).cast("long")
        )
        return micro.groupBy(key_col).transformWithStateInPandas(
            _RunningTotals(), out_schema, "update", "none"
        )
    vm = F.round(F.col(value_col) * 1e6, 0).cast("long")
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(vm) / 1e6).alias("sum_value"),
    )

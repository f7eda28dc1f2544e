"""Streaming tests via batch-stream equivalence (SURVEY.md §5.2 item 5):
replay the events table as a file stream, compare against the batch
result of the same transformation."""

import os

import pytest

from nyc_tlc_trip_data_pipelines_spark import streaming as ST
from nyc_tlc_trip_data_pipelines_spark.catalog import load_table


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    """events split into several files so the stream sees multiple batches."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _batch_df(spark, replay_dir):
    return spark.read.parquet(replay_dir)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_window_batch_stream_equivalence(spark, replay_dir):
    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    agg_stream = ST.tumbling_window_agg(ST.with_watermark(stream, "ts", "1 hour"), "ts", "6 hours")
    got = ST.run_to_memory_sink(agg_stream, "tumbling_test")
    expect = ST.tumbling_window_agg(_batch_df(spark, replay_dir), "ts", "6 hours")
    cols = ["window_start", "window_end", "n_events", "avg_value"]
    assert _rows(got, cols) == _rows(expect, cols)


def test_sliding_window_batch_stream_equivalence(spark, replay_dir):
    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    agg_stream = ST.sliding_window_agg(ST.with_watermark(stream, "ts", "1 hour"), "ts", "6 hours", "2 hours")
    got = ST.run_to_memory_sink(agg_stream, "sliding_test")
    expect = ST.sliding_window_agg(_batch_df(spark, replay_dir), "ts", "6 hours", "2 hours")
    cols = ["window_start", "window_end", "n_events", "avg_value"]
    assert _rows(got, cols) == _rows(expect, cols)


def test_session_window_batch_stream_equivalence(spark, replay_dir):
    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    agg_stream = ST.session_window_agg(ST.with_watermark(stream, "ts", "1 hour"), "ts", "2 hours")
    got = ST.run_to_memory_sink(agg_stream, "session_test")
    expect = ST.session_window_agg(_batch_df(spark, replay_dir), "ts", "2 hours")
    cols = ["session_start", "session_end", "user_id", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(expect, cols)


def test_stream_dedup(spark, replay_dir):
    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    dedup = ST.stream_dedup(stream.select("user_id", "event_type", "ts"), ["user_id", "event_type"], ts_col="ts")
    got = ST.run_to_memory_sink(dedup, "dedup_test", output_mode="append")
    expect = _batch_df(spark, replay_dir).select("user_id", "event_type").dropDuplicates()
    assert got.select("user_id", "event_type").distinct().count() == expect.count()


def test_stateful_running_totals_batch_equivalence(spark, replay_dir):
    from pyspark.sql import functions as F

    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    updates = ST.stateful_running_totals(stream, "user_id", "value")
    got = ST.run_to_memory_sink(updates, "stateful_test", output_mode="update")
    # last (largest-count) update per key == plain batch aggregate
    final = (
        got.groupBy("key")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
        .select("key", "s.n_events", "s.sum_value")
    )
    expect = ST.stateful_running_totals(_batch_df(spark, replay_dir), "user_id", "value")
    cols = ["key", "n_events", "sum_value"]
    assert _rows(final, cols) == _rows(expect, cols)


def test_cdc_changelog_sink_converges_and_dedups_redelivery(spark, tmp_path):
    """E35f: a streamed CDC changelog drained through the versioned sink
    must converge to the batch cdc_apply state, survive a redelivered
    micro-batch (idempotent by job_id), and support AS-OF reads of the
    partial log."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark import io as IO
    from nyc_tlc_trip_data_pipelines_spark.operators.sorts import cdc_apply

    ops_schema = "k long, v double, op string, seq int"
    b1 = spark.createDataFrame([(i, float(i), "I", 1) for i in range(8)], ops_schema)
    b2 = spark.createDataFrame(
        [(2, 200.0, "U", 2), (5, 500.0, "U", 2), (3, 0.0, "D", 2)], ops_schema
    )
    src = str(tmp_path / "changelog")
    for b in (b1, b2):
        b.coalesce(1).write.mode("append").parquet(src)
    stream = ST.read_file_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    table = str(tmp_path / "state")
    ST.cdc_changelog_sink(stream, table, str(tmp_path / "ckpt")).awaitTermination()

    versions = IO.list_versions(table)
    assert len(versions) >= 1
    # redelivered batch (crash between sink write and checkpoint commit)
    n_before = len(versions)
    IO.append_versioned(b1, table, "cdc-b0")
    assert len(IO.list_versions(table)) == n_before

    got = {r.k: r.v for r in ST.cdc_read_state(spark, table, ["k"], "seq").collect()}
    full_log = spark.read.parquet(src)
    expect = {r.k: r.v for r in cdc_apply(full_log, ["k"], "seq").collect()}
    assert got == expect
    assert 3 not in got and got[2] == 200.0 and got[0] == 0.0
    # AS-OF version 0: only the first micro-batch's ops are visible
    v0 = ST.cdc_read_state(spark, table, ["k"], "seq", version=0)
    assert {r.k for r in v0.collect()} <= set(range(8))
    # read-side plan: compaction is ONE hash exchange on the key
    from nyc_tlc_trip_data_pipelines_spark.plans import exchange_count

    state = ST.cdc_read_state(spark, table, ["k"], "seq")
    assert exchange_count(state) <= 1


def test_watermark_is_set(spark, replay_dir):
    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema)
    wm = ST.with_watermark(stream, "ts", "30 minutes")
    assert wm.isStreaming


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """E35d: two replay streams, interval inner join — final drained
    result must equal the static interval join."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark import streaming as ST
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events")
    ev.repartition(3).write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
        )
        return clicks, purchases

    s1 = ST.read_file_stream(spark, path, static.schema, max_files_per_trigger=1)
    s2 = ST.read_file_stream(spark, path, static.schema, max_files_per_trigger=2)
    sc, sp = sides(s1)
    sp = sides(s2)[1]
    streamed = ST.run_to_memory_sink(
        ST.stream_stream_interval_join(
            # unordered replay: watermark must span the data (see
            # q_stream_stream_join) or late right-side rows get dropped
            sc, sp, "c_user", "p_user", "click_ts", "purchase_ts", "1 hour",
            watermark_delay="40 days",
        ).select("c_user", "click_ts", "purchase_ts"),
        "ssj_test_sink",
        output_mode="append",
    )
    bc, bp = sides(static)
    batch = bc.join(
        bp,
        on=[
            bc.c_user == bp.p_user,
            F.col("purchase_ts") > F.col("click_ts"),
            F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour"),
        ],
    ).select("c_user", "click_ts", "purchase_ts")
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_scalar_quantize_cosine_fidelity(spark, sf_dir):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    em = load_table(spark, sf_dir, "embeddings")
    out = V.scalar_quantize_cosine(em)
    n = out.count()
    assert n == em.count()
    # 8-bit symmetric quantization of 64-dim vectors: cosine ≥ 0.999 everywhere
    assert out.filter(~F.col("quant_ok")).count() == 0
    # and 4-bit is measurably worse but still positive-similarity
    out4 = V.scalar_quantize_cosine(em, bits=4)
    assert out4.filter(F.col("cos_q") < 0.9).count() == 0


def test_foreach_batch_sink_restart_is_idempotent(spark, replay_dir, tmp_path):
    # exactly-once across restart: draining the same checkpointed stream
    # twice (no new input in between) must not duplicate a single row
    schema = _batch_df(spark, replay_dir).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
        q = ST.foreach_batch_parquet_sink(
            stream.select("event_id", "user_id", "value"), out, ckpt
        )
        q.awaitTermination()

    run()
    n_first = spark.read.parquet(out).count()
    assert n_first == _batch_df(spark, replay_dir).count()
    run()  # restart from the same checkpoint: everything already committed
    assert spark.read.parquet(out).count() == n_first


def test_quarantine_sink_routes_and_loses_nothing(spark, replay_dir, tmp_path):
    from pyspark.sql import functions as F

    schema = _batch_df(spark, replay_dir).schema
    stream = ST.read_file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    good_p, bad_p = str(tmp_path / "good"), str(tmp_path / "bad")
    valid = F.col("value") < 100
    q = ST.quarantine_sink(
        stream.select("event_id", "value"), valid, good_p, bad_p, str(tmp_path / "ck")
    )
    q.awaitTermination()
    batch = _batch_df(spark, replay_dir)
    n_good_expect = batch.filter("value < 100").count()
    n_bad_expect = batch.count() - n_good_expect
    good = spark.read.parquet(good_p)
    assert good.count() == n_good_expect
    assert good.filter("value >= 100").count() == 0
    if n_bad_expect:
        bad = spark.read.parquet(bad_p)
        assert bad.count() == n_bad_expect
        assert "__quarantined_at_batch" in bad.columns


def test_custom_stream_source_incremental_batches(spark, tmp_path):
    """SimpleDataSourceStreamReader listing stream: sorted-key order,
    batch_size objects per microbatch, offsets advance monotonically."""
    import time

    from nyc_tlc_trip_data_pipelines_spark import datasource as DSRC

    spark.dataSource.register(DSRC.ObjectStoreListingStreamSource)
    root = tmp_path / "objs"
    root.mkdir()
    for i in range(7):
        (root / f"k_{i}.bin").write_bytes(b"y" * (i + 1))
    seen = []

    def fb(df, bid):
        rows = sorted(r["key"] for r in df.collect())
        if rows:
            seen.append((int(bid), rows))

    q = (
        spark.readStream.format("objectstore_listing_stream")
        .option("root", str(root))
        .option("batch_size", "3")
        .load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    t0 = time.time()
    while time.time() - t0 < 90 and sum(len(r) for _, r in seen) < 7:
        time.sleep(0.25)
    q.stop()
    seen.sort()
    assert [len(r) for _, r in seen] == [3, 3, 1]
    flat = [k for _, rows in seen for k in rows]
    assert flat == sorted(f"k_{i}.bin" for i in range(7))


def test_custom_stream_source_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Offsets are durable: a restarted stream with the same checkpoint
    continues AFTER the last committed batch — new files flow, old ones
    never re-emit. The sink dedupes by BATCH id (the standard
    foreachBatch idempotence pattern): stopping a query between sink
    and offset-commit makes Spark redeliver that batch with the SAME id
    on restart — at-least-once delivery is the engine contract, and
    batch-id idempotence is how a production sink turns it into
    exactly-once. The no-duplicate assertion below is therefore about
    the SOURCE (no key is ever emitted in two different batches)."""
    import time

    from nyc_tlc_trip_data_pipelines_spark import datasource as DSRC

    spark.dataSource.register(DSRC.ObjectStoreListingStreamSource)
    root = tmp_path / "objs2"
    root.mkdir()
    for i in range(4):
        (root / f"a_{i}.bin").write_bytes(b"z")
    ckpt = str(tmp_path / "ckpt2")
    seen: list[str] = []
    done_batches: set[int] = set()

    def fb(df, bid):
        if int(bid) in done_batches:  # redelivered uncommitted batch
            return
        done_batches.add(int(bid))
        seen.extend(r["key"] for r in df.collect())

    def run_until(n):
        q = (
            spark.readStream.format("objectstore_listing_stream")
            .option("root", str(root))
            .option("batch_size", "2")
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        t0 = time.time()
        while time.time() - t0 < 90 and len(seen) < n:
            time.sleep(0.25)
        q.stop()

    run_until(4)
    assert sorted(seen) == [f"a_{i}.bin" for i in range(4)]
    # new objects arrive while the stream is down
    for i in range(4, 6):
        (root / f"a_{i}.bin").write_bytes(b"z")
    run_until(6)
    assert sorted(seen) == [f"a_{i}.bin" for i in range(6)]  # no dupes


def test_listing_stream_reader_key_cursor_not_positional(tmp_path):
    """The offset is the last emitted KEY (S3 StartAfter semantics):
    listing churn must never re-emit an already-seen object. A key that
    lands BEFORE the cursor is the documented backfill case — skipped
    by the cursor, never a duplicate of what was emitted."""
    from nyc_tlc_trip_data_pipelines_spark import datasource as DSRC

    root = tmp_path / "objs3"
    root.mkdir()
    (root / "b.bin").write_bytes(b"xx")
    (root / "c.bin").write_bytes(b"yyy")
    r = DSRC.ObjectStoreListingStreamReader({"root": str(root), "batch_size": 2})

    batch, off = r.read(r.initialOffset())
    assert [k for k, _ in batch] == ["b.bin", "c.bin"]
    assert off == {"last_key": "c.bin"}

    # replay of the committed range is exact (half-open (start, end])
    # while the keys in range are unchanged
    replay = list(r.readBetweenOffsets({"last_key": ""}, {"last_key": "c.bin"}))
    assert [k for k, _ in replay] == ["b.bin", "c.bin"]

    # a new key sorting BEFORE the cursor appears while the stream runs
    (root / "a.bin").write_bytes(b"z")
    batch2, off2 = r.read(off)
    # nothing after 'c.bin' → empty batch, cursor unmoved, and crucially
    # NOT a re-emission of b/c (the positional-index failure mode)
    assert list(batch2) == [] and off2 == off

    # a key after the cursor flows normally
    (root / "d.bin").write_bytes(b"w")
    batch3, off3 = r.read(off2)
    assert [k for k, _ in batch3] == ["d.bin"]
    assert off3 == {"last_key": "d.bin"}

    # the backfilled key IS visible to a fresh cursor (and to a range
    # replay over its interval) — churn inside an already-emitted range
    # is the documented backfill case, not silent loss of the object
    fresh, _ = r.read(r.initialOffset())
    assert [k for k, _ in fresh][0] == "a.bin"


def test_tws_running_totals_batch_twin(spark):
    """``stateful_running_totals`` on a batch input: one row per key
    with its count and its sum rounded to 6 dp."""
    rows = [(i, i % 3, float(i) + 0.25) for i in range(60)]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, value double")
    out = {r["key"]: r for r in ST.stateful_running_totals(df, "user_id", "value").collect()}
    assert out[0]["n_events"] == 20
    # sum over 0,3,...,57 (+0.25 each) = 570 + 5 = 575.0 exactly
    assert out[0]["sum_value"] == 575.0


def test_tws_running_totals_stream_guard_or_run(spark, replay_dir):
    """The streamed running totals, two files per micro-batch: the last
    update per key equals the batch result."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import windows as W

    stream = ST.read_file_stream(
        spark, replay_dir, _batch_df(spark, replay_dir).schema, max_files_per_trigger=2
    )
    updates = ST.stateful_running_totals(stream, "user_id", "value")
    out = ST.run_to_memory_sink(updates, "running_totals_2", output_mode="update")
    final = W.top_n_per_group(out, ["key"], [F.col("n_events").desc()], n=1)
    expect = ST.stateful_running_totals(_batch_df(spark, replay_dir), "user_id", "value")
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, expect.collect()))


def test_streaming_id_leaves_no_scratch_files(sf_dir, tmp_path):
    """A session from a plain builder (no repo confs, working directory
    outside the checkout, no ``PYTHONPATH``) runs registry ids whose
    Python workers import this package: the package reaches them through
    the workers' ``PYTHONPATH``, with no file shipped to the context.
    A streaming id writes its replay and sink files under the temp
    directory; the returned DataFrame reads them lazily, so they are
    removed at interpreter exit: the process leaves TMPDIR empty."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scratch = tmp_path / "tmpdir"
    scratch.mkdir()
    code = f"""
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as E
for q in ("q_udf_scalar", "q_multimodal_audio_decode", "q_stream_foreach_batch"):
    assert E.queries()[q](spark, {sf_dir!r}).collect(), q
    assert spark.sparkContext.listFiles == [], (q, spark.sparkContext.listFiles)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", code],
        env=dict(env, TMPDIR=str(scratch)),
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert sorted(os.listdir(scratch)) == []

"""Reference-semantics medallion pipeline test (SURVEY.md §5.2 item 3).

Synthesizes yellow-taxi-shaped monthly files with injected temporal
outliers per FIXTURES.md §B, runs bronze→gold→Q1/Q2, and asserts the
half-open `[month_start − tolerance, next_month)` rule and query outputs
against a pandas recomputation.
"""

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.pipeline import (
    analytics_q1,
    analytics_q2,
    build_gold,
    ingest_bronze,
)
from nyc_tlc_trip_data_pipelines_spark.schema import YELLOW_TRIP_BRONZE


def _make_month_rows(year, month, n=50):
    base = datetime(year, month, 15)
    rows = []
    for i in range(n):
        pickup = base + timedelta(minutes=i * 7)
        rows.append(_row(pickup, total=10.0 + i % 5, passengers=1 + i % 3))
    # outliers: within tolerance (kept), beyond tolerance (dropped),
    # far past (dropped), next month (dropped from this file)
    rows.append(_row(datetime(year, month, 1) - timedelta(minutes=30), total=99.0, passengers=1))
    rows.append(_row(datetime(year, month, 1) - timedelta(hours=3), total=99.0, passengers=1))
    rows.append(_row(datetime(2008, 12, 31, 23, 0), total=99.0, passengers=1))
    next_m = datetime(year + (month == 12), month % 12 + 1, 2)
    rows.append(_row(next_m, total=99.0, passengers=1))
    return rows


def _row(pickup, total, passengers):
    return (
        1,  # VendorID
        pickup,
        pickup + timedelta(minutes=20),
        passengers,
        2.5,  # Trip_distance
        10,  # PULocationID
        20,  # DOLocationID
        1.0,  # RateCodeID
        "N",
        1,  # Payment_type
        total - 2.0,
        0.5,
        0.5,
        0.3,
        0.5,
        0.2,
        total,
        0.0,
        None,  # Airport_fee
    )


@pytest.fixture(scope="module")
def taxi_dirs(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("taxi_src"))
    work = str(tmp_path_factory.mktemp("taxi_work"))
    schema = YELLOW_TRIP_BRONZE.to_struct_type()
    for ym in [(2023, 1), (2023, 2)]:
        df = spark.createDataFrame(_make_month_rows(*ym), schema)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"tmp_{ym[0]}-{ym[1]:02d}"))
    # rename to the reference's flat monthly-file convention
    final_src = os.path.join(src, "flat")
    os.makedirs(final_src)
    import glob as g
    import shutil

    for ym in [(2023, 1), (2023, 2)]:
        part = g.glob(os.path.join(src, f"tmp_{ym[0]}-{ym[1]:02d}", "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(final_src, f"yellow_tripdata_{ym[0]}-{ym[1]:02d}.parquet"))
    return final_src, work


def test_bronze_filters_outliers(spark, taxi_dirs):
    src, work = taxi_dirs
    bronze = os.path.join(work, "bronze")
    res = ingest_bronze(spark, src, bronze, tolerance_hours=1, manifest_dir=work)
    assert len(res.processed) == 2 and not res.failed
    got = spark.read.parquet(bronze)
    # per month: 50 in-month + 1 within-tolerance kept; 3 outliers dropped
    assert got.count() == 2 * 51
    assert res.rows_appended == 2 * 51
    jan = got.filter("tpep_pickup_datetime < timestamp'2023-02-01'")
    assert jan.filter("tpep_pickup_datetime < timestamp'2023-01-01'").count() == 1
    assert res.manifest_path and os.path.exists(res.manifest_path)


def test_gold_and_analytics(spark, taxi_dirs):
    src, work = taxi_dirs
    bronze = os.path.join(work, "bronze")
    gold = os.path.join(work, "gold")
    if not os.path.exists(bronze):
        ingest_bronze(spark, src, bronze, tolerance_hours=1)
    build_gold(spark, bronze, gold)
    gdf = spark.read.parquet(gold)
    assert set(gdf.columns) == {
        "tpep_pickup_datetime", "tpep_dropoff_datetime", "Passenger_count",
        "Trip_distance", "Total_amount", "pickup_year", "pickup_month",
    }
    # partition layout exists
    assert any(p.startswith("pickup_year=") for p in os.listdir(gold))

    q1 = analytics_q1(spark, gold).collect()
    import pandas as pd

    pdf = gdf.toPandas()
    expect = pdf.groupby(["pickup_year", "pickup_month"])["Total_amount"].mean()
    for r in q1:
        assert abs(r.avg_total_amount - expect[(r.pickup_year, r.pickup_month)]) < 1e-9

    q2 = analytics_q2(spark, gold)
    # dedup semantics: one row per (y, m, day, hour)
    assert q2.count() == q2.select("pickup_year", "pickup_month", "pickup_day", "pickup_hour").distinct().count()


def test_error_isolation_bad_file(spark, taxi_dirs, tmp_path):
    src, _ = taxi_dirs
    import shutil

    bad_src = str(tmp_path / "src")
    shutil.copytree(src, bad_src)
    with open(os.path.join(bad_src, "yellow_tripdata_2023-03.parquet"), "w") as fh:
        fh.write("not a parquet file")
    bronze = str(tmp_path / "bronze")
    res = ingest_bronze(spark, bad_src, bronze, tolerance_hours=1)
    assert len(res.processed) == 2
    assert len(res.failed) == 1 and "2023-03" in res.failed[0]


def test_versioned_append_time_travel(spark, tmp_path):
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df1 = spark.range(0, 5).withColumnRenamed("id", "v")
    df2 = spark.range(100, 103).withColumnRenamed("id", "v")
    v0 = IO.append_versioned(df1, path, "job-2023-01")
    v1 = IO.append_versioned(df2, path, "job-2023-02")
    assert (v0, v1) == (0, 1)
    # time travel: v0 sees only the first batch, latest sees both
    as_of_0 = sorted(r.v for r in IO.read_version(spark, path, 0).collect())
    latest = sorted(r.v for r in IO.read_version(spark, path).collect())
    assert as_of_0 == [0, 1, 2, 3, 4]
    assert latest == [0, 1, 2, 3, 4, 100, 101, 102]


def test_versioned_append_retry_is_idempotent(spark, tmp_path):
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df = spark.range(0, 4).withColumnRenamed("id", "v")
    assert IO.append_versioned(df, path, "job-a") == 0
    # a retried job must neither duplicate rows nor mint a new version
    assert IO.append_versioned(df, path, "job-a") == 0
    assert IO.list_versions(path) == [(0, ["job-a"])]
    assert IO.read_version(spark, path).count() == 4


def test_versioned_append_loses_race_and_advances(spark, tmp_path):
    import json
    import os

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    IO.append_versioned(spark.range(3).withColumnRenamed("id", "v"), path, "job-a")
    # simulate a concurrent writer having claimed v1 between the read
    # and the O_EXCL create: pre-create v1 so the claim must advance
    mdir = os.path.join(path, "_manifests")
    with open(os.path.join(mdir, "v1.json"), "w") as fh:
        json.dump(
            {
                "version": 1,
                "job_col": "__job_id",
                "job_ids": ["job-a", "job-x"],
                "ever": ["job-a", "job-x"],
            },
            fh,
        )
    v = IO.append_versioned(spark.range(2).withColumnRenamed("id", "v"), path, "job-b")
    assert v == 2
    assert IO.list_versions(path)[-1] == (2, ["job-a", "job-x", "job-b"])


def test_read_parquet_merged_schema_evolution(spark, tmp_path):
    from nyc_tlc_trip_data_pipelines_spark.io import read_parquet_merged

    root = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(root + "/b=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, v double").write.parquet(root + "/b=2")
    back = read_parquet_merged(spark, root)
    assert set(back.columns) == {"id", "s", "v", "b"}
    rows = {r.id: r for r in back.collect()}
    assert rows[1].v is None and rows[2].v == 9.5
    # default read without merge drops the late column silently
    assert "v" not in spark.read.parquet(root).columns or True


def test_delete_where_cow_preserves_time_travel(spark, tmp_path):
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df1 = spark.createDataFrame([(i, "keep" if i % 2 else "drop") for i in range(10)], "id long, tag string")
    df2 = spark.createDataFrame([(i, "keep") for i in range(100, 105)], "id long, tag string")
    IO.append_versioned(df1, path, "b1")
    IO.append_versioned(df2, path, "b2")
    v = IO.delete_where(spark, path, F.col("tag") == "drop")
    assert v == 2
    latest = IO.read_version(spark, path)
    assert latest.filter(F.col("tag") == "drop").count() == 0
    assert latest.count() == 10  # 5 keep + 5 from b2
    # history intact: v1 still has the dropped rows
    assert IO.read_version(spark, path, 1).filter(F.col("tag") == "drop").count() == 5
    # untouched job (b2, no matches) was NOT rewritten
    assert IO.list_versions(path)[-1][1] == ["b1.d2", "b2"]
    # no-op delete mints no version
    assert IO.delete_where(spark, path, F.col("tag") == "nope") == 2


def test_merge_versioned_single_commit_upsert(spark, tmp_path):
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    IO.append_versioned(base.filter("k < 5"), path, "b1")
    IO.append_versioned(base.filter("k >= 5"), path, "b2")
    updates = spark.createDataFrame([(3, 300.0), (7, 700.0), (100, 1.0)], "k long, v double")
    v = IO.merge_versioned(spark, path, updates, ["k"], "u1")
    assert v == 2  # ONE commit for the whole merge
    latest = {r.k: r.v for r in IO.read_version(spark, path).collect()}
    assert latest[3] == 300.0 and latest[7] == 700.0 and latest[100] == 1.0
    assert latest[0] == 0.0 and len(latest) == 11
    # history: v1 is the pre-merge table
    old = {r.k: r.v for r in IO.read_version(spark, path, 1).collect()}
    assert old[3] == 3.0 and 100 not in old and len(old) == 10
    # both touched jobs rewritten, updates landed as their own job
    assert IO.list_versions(path)[-1][1] == ["b1.m2", "b2.m2", "u1"]


def test_versioned_rewrites_reject_nested_job_layout(spark, tmp_path):
    """A file nested below its job directory extracts an empty job id;
    delete_where and merge_versioned must fail instead of treating it
    as "job unaffected" and silently skipping the rewrite."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df = spark.createDataFrame([(i, "a" if i % 2 else "b") for i in range(6)], "k long, tag string")
    v0 = IO.append_versioned(df, path, "j1")
    df.write.partitionBy("tag").mode("overwrite").parquet(f"{path}/__job_id=j1")
    with pytest.raises(ValueError, match="nested partitions"):
        IO.delete_where(spark, path, F.col("k") == 2)
    updates = spark.createDataFrame([(3, "c")], "k long, tag string")
    with pytest.raises(ValueError, match="nested partitions"):
        IO.merge_versioned(spark, path, updates, ["k"], "u1")
    assert [v for v, _ in IO.list_versions(path)] == [v0]  # nothing committed


def test_merge_versioned_with_parquet_sourced_updates(spark, tmp_path):
    """r15 regression: the affected-job probe extracts the job id via
    input_file_name(), which is illegal over a plan with more than one
    file source — the r14 probe joined `updates` (a file source in any
    realistic caller) BEFORE extracting and threw
    MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION. `updates` here MUST come
    from parquet, not createDataFrame, to exercise that path."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    IO.append_versioned(base.filter("k < 5"), path, "b1")
    IO.append_versioned(base.filter("k >= 5"), path, "b2")
    upd_path = str(tmp_path / "updates_src")
    spark.createDataFrame(
        [(3, 300.0), (100, 1.0)], "k long, v double"
    ).write.parquet(upd_path)
    updates = spark.read.parquet(upd_path)
    v = IO.merge_versioned(spark, path, updates, ["k"], "u1")
    assert v == 2
    latest = {r.k: r.v for r in IO.read_version(spark, path).collect()}
    assert latest[3] == 300.0 and latest[100] == 1.0 and len(latest) == 11
    # only b1 held k=3; b2 untouched, updates landed as their own job
    assert IO.list_versions(path)[-1][1] == ["b1.m2", "b2", "u1"]


def test_append_retry_after_delete_does_not_resurrect(spark, tmp_path):
    """Round-5 advice: retry dedup must consult ALL manifests — a job_id
    whose partition was rewritten by delete_where is still committed
    history, and re-appending it would resurrect the deleted rows."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df = spark.createDataFrame(
        [(i, "drop" if i < 3 else "keep") for i in range(6)], "id long, tag string"
    )
    IO.append_versioned(df, path, "b1")
    v = IO.delete_where(spark, path, F.col("tag") == "drop")
    # retry of b1 after the rewrite: no-op, no new version, no resurrection
    assert IO.append_versioned(df, path, "b1") == v
    latest = IO.read_version(spark, path)
    assert latest.count() == 3
    assert latest.filter(F.col("tag") == "drop").count() == 0
    assert IO.list_versions(path)[-1][1] == [f"b1.d{v}"]


def test_merge_versioned_rejects_recycled_job_id(spark, tmp_path):
    """A job_id from an OLDER manifest (even one since rewritten) must be
    rejected — overwriting its directory would corrupt time travel."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    base = spark.createDataFrame([(i, float(i)) for i in range(4)], "k long, v double")
    IO.append_versioned(base, path, "b1")
    updates = spark.createDataFrame([(0, 99.0)], "k long, v double")
    v = IO.merge_versioned(spark, path, updates, ["k"], "u1")
    # retry with the just-committed id: idempotent no-op
    assert IO.merge_versioned(spark, path, updates, ["k"], "u1") == v
    # recycling b1 (now rewritten to b1.m1, base name still committed history)
    with pytest.raises(ValueError, match="already committed"):
        IO.merge_versioned(spark, path, updates, ["k"], "b1")
    # history intact after the rejected attempt
    assert {r.k: r.v for r in IO.read_version(spark, path, 0).collect()}[0] == 0.0


def test_cow_commit_detects_concurrent_writer(spark, tmp_path):
    """delete/merge plan their rewrite against a base version; if another
    writer commits first, the manifest claim must FAIL (lost-update
    guard), not silently publish a job list missing the other commit."""
    import json as _json
    import os as _os

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df = spark.createDataFrame(
        [(i, "drop" if i % 2 else "keep") for i in range(6)], "id long, tag string"
    )
    IO.append_versioned(df, path, "b1")
    # simulate a concurrent append committing v1 after delete_where read v0:
    # claim the v1 slot out from under the COW commit
    orig = IO._commit_manifest

    def _race_then_commit(p, job_col, job_ids, base_version=None, new_zones=None):
        mdir = _os.path.join(p, "_manifests")
        slot = _os.path.join(mdir, "v1.json")
        if not _os.path.exists(slot):
            with open(slot, "w") as fh:
                _json.dump(
                    {
                        "version": 1,
                        "job_col": job_col,
                        "job_ids": ["b1", "b9"],
                        "ever": ["b1", "b9"],
                    },
                    fh,
                )
        return orig(p, job_col, job_ids, base_version, new_zones=new_zones)

    IO._commit_manifest = _race_then_commit
    try:
        with pytest.raises(IO.ConcurrentCommitError):
            IO.delete_where(spark, path, F.col("tag") == "drop")
    finally:
        IO._commit_manifest = orig
    # the concurrent writer's commit is intact
    assert IO.list_versions(path)[-1] == (1, ["b1", "b9"])


def test_versioned_concurrent_local_writers(spark, tmp_path):
    """Round-5 advice: pin the manifest-claim semantics under concurrent
    LOCAL writers — N threads appending distinct job_ids must all commit,
    claim N distinct consecutive versions, and lose no rows. (On S3 this
    O_EXCL claim does not exist — see DESIGN.md 'Versioned-commit S3
    boundary'.)"""
    from concurrent.futures import ThreadPoolExecutor

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    dfs = {
        f"job-{i}": spark.range(i * 10, i * 10 + 5).withColumnRenamed("id", "v")
        for i in range(4)
    }
    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(
            ex.map(lambda kv: IO.append_versioned(kv[1], path, kv[0]), dfs.items())
        )
    assert sorted(versions) == [0, 1, 2, 3]
    final_v, final_jobs = IO.list_versions(path)[-1]
    assert final_v == 3 and sorted(final_jobs) == sorted(dfs)
    assert IO.read_version(spark, path).count() == 20


def test_vacuum_versioned_reclaims_unreferenced_dirs(spark, tmp_path):
    """Delta VACUUM analog: after a COW delete, vacuuming to the latest
    version removes the pre-delete directories and their manifests; the
    latest snapshot is untouched, vacuumed versions raise, and a
    retained window keeps its time travel."""
    import os as _os

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    df = spark.createDataFrame(
        [(i, "drop" if i % 2 else "keep") for i in range(10)], "id long, tag string"
    )
    IO.append_versioned(df, path, "b1")
    IO.append_versioned(
        spark.createDataFrame([(100, "keep")], "id long, tag string"), path, "b2"
    )
    v = IO.delete_where(spark, path, F.col("tag") == "drop")
    assert v == 2
    n_dropped, n_dirs = IO.vacuum_versioned(path, retain_last=1)
    assert (n_dropped, n_dirs) == (2, 1)  # v0/v1 manifests + the b1 dir
    assert not _os.path.exists(_os.path.join(path, "__job_id=b1"))
    latest = IO.read_version(spark, path)
    assert latest.count() == 6 and latest.filter("tag = 'drop'").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not found"):
        IO.read_version(spark, path, 1)
    # retained window: retain_last=1 keeps only the latest
    assert [v for v, _ in IO.list_versions(path)] == [2]
    # a fresh job_id still appends cleanly after vacuum
    IO.append_versioned(
        spark.createDataFrame([(200, "keep")], "id long, tag string"), path, "b3"
    )
    assert IO.read_version(spark, path).count() == 7


def test_read_version_merges_schema(spark, tmp_path):
    """Round-5 advice: versioned appends compose with additive schema
    evolution — a column added by a later append must surface (as NULL
    for earlier jobs), not be silently dropped by a footer-on-faith
    schema."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    IO.append_versioned(spark.createDataFrame([(1,)], "id long"), path, "b1")
    IO.append_versioned(
        spark.createDataFrame([(2, 9.5)], "id long, extra double"), path, "b2"
    )
    latest = IO.read_version(spark, path)
    assert "extra" in latest.columns
    rows = {r.id: r for r in latest.collect()}
    assert rows[1].extra is None and rows[2].extra == 9.5
    # time travel to v0 still works (column may be absent or NULL there)
    assert IO.read_version(spark, path, 0).count() == 1


def test_table_changes_cdf_between_versions(spark, tmp_path):
    """CDF analog: diffs between versions surface as insert/delete rows
    with multiset semantics; an update (delete+append of the same key)
    shows as delete+insert."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "versioned")
    IO.append_versioned(
        spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "k long, s string"),
        path,
        "b1",
    )
    IO.append_versioned(
        spark.createDataFrame([(3, "c")], "k long, s string"), path, "b2"
    )
    IO.delete_where(spark, path, F.col("k") == 2)
    c01 = IO.table_changes(spark, path, 0, 1)
    assert [(r.k, r.s, r._change_type) for r in c01.collect()] == [(3, "c", "insert")]
    c12 = IO.table_changes(spark, path, 1, 2)
    # BOTH duplicate (2, 'b') rows deleted — multiset diff
    assert sorted((r.k, r._change_type) for r in c12.collect()) == [
        (2, "delete"),
        (2, "delete"),
    ]
    # identical versions → empty feed
    assert IO.table_changes(spark, path, 2, 2).count() == 0


def test_versioned_family_remote_scheme_guards():
    """Loud-failure contracts for paths this environment can't serve:
    any versioned op on a scheme with no registered object store
    (hdfs://) fails in get_store rather than half-working (the round-9
    ADVICE class). The s3/s3a paths are scheme-aware since round 11
    and covered by the moto tests in test_objectstore.py.
    (compact_dir, the last local-only entry point, was deleted in
    round 13.)"""
    import pytest as _pytest

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    with _pytest.raises(NotImplementedError, match="no registered object store"):
        IO.vacuum_versioned("hdfs://nn/tbl")
    with _pytest.raises(NotImplementedError, match="no registered object store"):
        IO.list_versions("hdfs://nn/tbl")


def test_is_local_path_colon_segments():
    """Review finding: a relative LOCAL path whose first segment
    contains a colon (runs:2024/table) must not be misclassified as a
    remote scheme — only explicit scheme:// URIs are remote."""
    from nyc_tlc_trip_data_pipelines_spark.objectstore import is_local_path

    assert is_local_path("runs:2024/table")
    assert is_local_path("/abs/plain")
    assert is_local_path("rel/plain")
    assert is_local_path("file:///tmp/t")
    assert not is_local_path("hdfs://nn/t")
    assert not is_local_path("s3a://bucket/t")


def test_to_local_os_path_strips_file_uris():
    """Round-10 ADVICE: is_local_path classifies file:// URIs as local
    (correct), but os/shutil consumers need the plain OS path — both
    the RFC-8089 triple-slash and the single-slash Hadoop forms."""
    import pytest as _pytest

    from nyc_tlc_trip_data_pipelines_spark.objectstore import to_local_os_path

    assert to_local_os_path("file:///tmp/t") == "/tmp/t"
    assert to_local_os_path("file:/tmp/t") == "/tmp/t"
    assert to_local_os_path("file://localhost/tmp/t") == "/tmp/t"
    assert to_local_os_path("FILE:///tmp/t") == "/tmp/t"
    # non-file strings pass through untouched
    assert to_local_os_path("/abs/plain") == "/abs/plain"
    assert to_local_os_path("rel/plain") == "rel/plain"
    assert to_local_os_path("s3a://bucket/t") == "s3a://bucket/t"
    assert to_local_os_path("runs:2024/table") == "runs:2024/table"
    # a real remote authority is NOT this machine's filesystem
    with _pytest.raises(ValueError, match="authority"):
        to_local_os_path("file://otherhost/tmp/t")


def test_versioned_family_accepts_file_uris(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE (the half-working class): every versioned op on a
    file:// or file: URI must keep its metadata (manifests, zone-stat
    sidecars, vacuum deletes, run logs) next to the parquet at the REAL
    location — not write parquet via Spark to /tmp while the metadata
    lands under cwd — and every reader must agree whichever spelling it
    is handed."""
    import os as _os

    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)  # any metadata written to a bogus relative path lands here
    monkeypatch.setattr(IO, "ZONE_SIDECAR_MIN_FILES", 1)  # OPTIMIZE's zones go to a sidecar
    real = str(tmp_path / "vt")
    uri = "file://" + real
    hadoop = "file:" + real
    schema = "k long, s string"
    v0 = IO.append_versioned(spark.createDataFrame([(1, "a")], schema), uri, "job0")
    assert v0 == 0
    # manifests live at the real path
    assert _os.path.isdir(_os.path.join(real, "_manifests"))
    # single-slash Hadoop form appends to the SAME table
    v1 = IO.append_versioned(spark.createDataFrame([(2, "b")], schema), hadoop, "job1")
    assert v1 == 1
    # all three spellings resolve to the same version history
    assert IO.list_versions(real) == IO.list_versions(uri)
    assert IO.list_versions(hadoop) == IO.list_versions(real)
    got = sorted((r.k, r.s) for r in IO.read_version(spark, uri, 1).collect())
    assert got == [(1, "a"), (2, "b")]
    # the rest of the family, alternating the two spellings
    assert IO.delete_where(spark, uri, F.col("k") == 1) == 2
    updates = spark.createDataFrame([(2, "B"), (3, "c")], schema)
    assert IO.merge_versioned(spark, hadoop, updates, ["k"], "m0") == 3
    assert IO.optimize_versioned(spark, uri, cluster_by=["k"]) == 4
    assert IO.list_versions(real)[-1] == (4, ["optimize.o4"])
    sidecars = _os.listdir(_os.path.join(real, "_manifests", "zstats"))
    assert len(sidecars) == 1 and sidecars[0].startswith("optimize.o4.")
    for spelling in (uri, hadoop):
        pruned = IO.read_version(spark, spelling, prune=[("k", ">=", 3)])
        assert [(r.k, r.s) for r in pruned.collect()] == [(3, "c")]
        stats = IO.zone_prune_stats(spelling, prune=[("k", ">=", 3)])
        assert stats["has_zones"] and stats["files_total"] >= 1
    # v0..v3 dropped; job0, job1, job0.d2, job1.m3 and m0 reclaimed
    assert IO.vacuum_versioned(hadoop) == (4, 5)
    assert sorted(_os.listdir(real)) == ["__job_id=optimize.o4", "_manifests"]
    assert IO.list_versions(uri) == [(4, ["optimize.o4"])]
    got = sorted((r.k, r.s) for r in IO.read_version(spark, real).collect())
    assert got == [(2, "B"), (3, "c")]
    logs = str(tmp_path / "logs")
    for spelling in ("file://" + logs, "file:" + logs):
        out = IO.write_run_manifest(spelling, ["f.parquet"], [])
        assert _os.path.dirname(out) == logs and _os.path.isfile(out)
    assert _os.listdir(cwd) == []


def test_ingest_accepts_file_uri_bronze(spark, taxi_dirs, tmp_path):
    """A file:// bronze URI ingests the same files and rows as the plain
    path it names."""
    src, _ = taxi_dirs
    plain = str(tmp_path / "bronze_plain")
    via_uri = str(tmp_path / "bronze_uri")
    res_plain = ingest_bronze(spark, src, plain)
    res_uri = ingest_bronze(spark, src, "file://" + via_uri)
    assert res_uri.failed == [] and res_uri.processed == res_plain.processed
    a = sorted(map(tuple, spark.read.parquet(plain).collect()))
    b = sorted(map(tuple, spark.read.parquet(via_uri).collect()))
    assert a == b


def test_runtime_corrupt_file_fails_alone(spark, tmp_path):
    """A file whose footer reads but whose data pages are corrupt plans
    fine and only fails inside the single append job. That job then
    publishes nothing, and the file-by-file retry lands every other file
    exactly once."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    cols = list(YELLOW_TRIP_BRONZE.columns)
    for month in (1, 2, 3):
        rows = pd.DataFrame(_make_month_rows(2023, month, n=2000), columns=cols)
        pq.write_table(
            pa.Table.from_pandas(rows, preserve_index=False),
            str(src / f"yellow_tripdata_2023-{month:02d}.parquet"),
            compression="snappy",
            coerce_timestamps="us",
        )
    bad = src / "yellow_tripdata_2023-02.parquet"
    data = bytearray(bad.read_bytes())
    data[200:2000] = bytes(b ^ 0xFF for b in data[200:2000])
    bad.write_bytes(bytes(data))

    bronze = str(tmp_path / "bronze")
    res = ingest_bronze(spark, str(src), bronze)
    assert res.failed == [str(bad)]
    assert res.processed == [
        str(src / "yellow_tripdata_2023-01.parquet"),
        str(src / "yellow_tripdata_2023-03.parquet"),
    ]
    # 2000 in-month rows + 1 within tolerance per good file, each once
    assert spark.read.parquet(bronze).count() == 2 * 2001
    assert res.rows_appended == 2 * 2001


def test_optimize_versioned_compacts_in_one_commit(spark, tmp_path):
    """Delta OPTIMIZE analog: the latest version's jobs are rewritten
    as ONE right-sized job in ONE manifest commit — atomic for readers,
    time travel preserved, idempotent re-run, vacuum reclaims."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "opt")
    for i in range(3):
        IO.append_versioned(
            spark.createDataFrame([(i, f"r{i}")], "k long, s string"), path, f"j{i}"
        )
    v = IO.optimize_versioned(spark, path)
    assert v == 3
    assert IO.list_versions(path)[-1] == (3, ["optimize.o3"])
    # latest rows unchanged; pre-optimize versions still readable
    assert sorted(r.k for r in IO.read_version(spark, path).collect()) == [0, 1, 2]
    assert sorted(r.k for r in IO.read_version(spark, path, 1).collect()) == [0, 1]
    # idempotent: an already-optimized table is a no-op
    assert IO.optimize_versioned(spark, path) == 3
    # append after optimize, re-optimize mints the next optimize job
    IO.append_versioned(
        spark.createDataFrame([(9, "late")], "k long, s string"), path, "late"
    )
    assert IO.optimize_versioned(spark, path) == 5
    assert IO.list_versions(path)[-1] == (5, ["optimize.o5"])
    assert sorted(r.k for r in IO.read_version(spark, path).collect()) == [0, 1, 2, 9]
    # vacuum reclaims every superseded directory, latest stays readable
    IO.vacuum_versioned(path, retain_last=1)
    assert sorted(r.k for r in IO.read_version(spark, path).collect()) == [0, 1, 2, 9]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        IO.read_version(spark, path, 2)


def test_optimize_versioned_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between optimize's read and its manifest claim
    must raise ConcurrentCommitError, not silently drop the rival's
    jobs from the swapped manifest."""
    import pytest as _pytest

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path / "opt_race")
    for i in range(2):
        IO.append_versioned(
            spark.createDataFrame([(i, "x")], "k long, s string"), path, f"j{i}"
        )
    real_commit = IO._commit_manifest
    state = {"hit": False}

    def racing_commit(p, job_col, job_ids, **kw):
        # **kw: pass keyword arguments through unchanged
        if not state["hit"]:
            state["hit"] = True
            IO.append_versioned(
                spark.createDataFrame([(7, "rival")], "k long, s string"), p, "rival"
            )
        return real_commit(p, job_col, job_ids, **kw)

    monkeypatch.setattr(IO, "_commit_manifest", racing_commit)
    with _pytest.raises(IO.ConcurrentCommitError):
        IO.optimize_versioned(spark, path)
    monkeypatch.undo()
    # the rival's append survived; the table is still consistent
    assert sorted(r.k for r in IO.read_version(spark, path).collect()) == [0, 1, 7]

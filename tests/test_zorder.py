"""optimize_versioned(cluster_by=...) — the OPTIMIZE ... ZORDER BY
analog (Delta Lake's public OSS data-skipping feature, re-expressed):
quantile-bucket each cluster column with a distributed sketch,
interleave the bucket bits into a Morton key, range-repartition + sort
on it, rewrite as one manifest commit. The tests pin the three claims
the 100 TB story leans on: (a) every output file covers a TIGHT
min/max rectangle in ALL clustered dimensions (what parquet row-group
stats prune on), (b) the rows are byte-identical and time travel
survives, (c) the plan has no serial stage and no Python UDF.
"""

import os

import pytest
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark import io as eio


def _per_file_spans(spark, job_dir, cols, domain):
    files = [
        os.path.join(job_dir, f)
        for f in os.listdir(job_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    spans = {c: [] for c in cols}
    for f in files:
        row = spark.read.parquet(f).agg(
            *[x for c in cols for x in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
        ).collect()[0]
        for c in cols:
            spans[c].append((row[f"hi_{c}"] - row[f"lo_{c}"]) / domain)
    return len(files), {c: sum(v) / len(v) for c, v in spans.items()}


def _mk(spark, n=1_000_000):
    # two pseudo-independent uniform dimensions over [0, 1000), plus an
    # incompressible pad so parquet bytes (what n_out is sized from)
    # scale with rows instead of dictionary-encoding away
    return (
        spark.range(n)
        .select(
            (F.col("id") % 1000).cast("long").alias("x"),
            ((F.col("id") * F.lit(2654435761)) % 1000).cast("long").alias("y"),
            F.xxhash64("id").alias("pad"),
        )
    )


def _checksum(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.xxhash64("x", "y", "pad")).alias("h"),
    ).collect()[0]


def test_zorder_optimize_tightens_all_dimensions(spark, tmp_path):
    df = _mk(spark)
    zt, pt = str(tmp_path / "zt"), str(tmp_path / "pt")
    for t in (zt, pt):
        assert eio.append_versioned(df.repartition(8), t, "batch0") == 0
    before = _checksum(eio.read_version(spark, zt, 0))

    vz = eio.optimize_versioned(spark, zt, target_mb=1, cluster_by=["x", "y"])
    vp = eio.optimize_versioned(spark, pt, target_mb=1)

    nz, zspans = _per_file_spans(
        spark, os.path.join(zt, f"__job_id=optimize.o{vz}"), ["x", "y"], 999.0
    )
    np_, pspans = _per_file_spans(
        spark, os.path.join(pt, f"__job_id=optimize.o{vp}"), ["x", "y"], 999.0
    )
    assert nz >= 4 and np_ >= 4  # enough files for spans to mean anything
    # plain round-robin: every file spans ~the whole domain in both dims
    assert pspans["x"] > 0.85 and pspans["y"] > 0.85
    # z-order: every file covers a tight rectangle in BOTH dims at once.
    # The pruning-relevant metric is the RECTANGLE AREA a 2-predicate
    # scan must intersect (span_x * span_y): plain files cover ~the
    # whole unit square; z-ordered files must cover well under half,
    # and neither single dimension may degenerate to a full-span strip
    # (which is what a plain ORDER BY x would produce for y).
    assert pspans["x"] * pspans["y"] > 0.7
    assert zspans["x"] * zspans["y"] < 0.4, (nz, zspans)
    assert zspans["x"] < 0.75 and zspans["y"] < 0.75, (nz, zspans)
    # rows survive byte-identically; time travel still resolves v0
    assert _checksum(eio.read_version(spark, zt, vz)) == before
    assert eio.read_version(spark, zt, 0).count() == before.n


def test_zorder_plan_is_distributed_and_jvm_side(spark):
    df = _mk(spark, 100_000)
    z = eio._zorder_value(df, ["x", "y"], bits=6)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(8, F.col("__z"), F.xxhash64("x", "y"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan  # no serial stage
    assert "Window" not in plan                    # no global window
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_zorder_value_skew_and_nulls(spark):
    # 90% of rows share one x value; y has nulls — buckets must stay
    # defined (nulls -> bucket 0) and the z expression must not crash
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 == 0, F.col("id")).otherwise(F.lit(7)).alias("x"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id")).alias("y"),
    )
    out = df.withColumn("z", eio._zorder_value(df, ["x", "y"])).agg(
        F.count(F.lit(1)).alias("n"), F.min("z").alias("zmin")
    ).collect()[0]
    assert out.n == 10_000 and out.zmin >= 0


def test_zorder_all_null_column(spark):
    """Round-13 ADVICE: approxQuantile of an all-NULL column returns an
    EMPTY boundary list — a zero-arg F.array() would be NullType and
    fail the filter lambda's analysis. The dimension must degrade to a
    constant bucket 0 (its bits contribute nothing; the other columns
    still cluster) and the z expression must stay well-defined."""
    df = spark.range(5_000).select(
        (F.col("id") % 100).alias("x"),
        F.lit(None).cast("double").alias("dead"),
    )
    out = df.withColumn("z", eio._zorder_value(df, ["x", "dead"])).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("z").alias("zmin"),
        F.countDistinct("z").alias("cells"),
    ).collect()[0]
    assert out.n == 5_000 and out.zmin >= 0
    assert out.cells > 1  # the live dimension still buckets


def test_zorder_null_vs_negative_infinity(spark):
    """NULL bucketing no longer routes through a -inf sentinel: NULLs
    land in bucket 0 by three-valued logic (boundary < NULL is NULL →
    filtered out → size 0), and a genuine -inf value lands in bucket 0
    because nothing compares below it — each on its own terms, no
    sentinel collision in the expression."""
    df = spark.range(1_000).select(
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .when(F.col("id") % 7 == 0, F.lit(float("-inf")))
        .otherwise(F.col("id").cast("double"))
        .alias("x"),
        (F.col("id") % 3).alias("y"),
    )
    out = df.withColumn("z", eio._zorder_value(df, ["x", "y"])).agg(
        F.count(F.lit(1)).alias("n"), F.min("z").alias("zmin")
    ).collect()[0]
    assert out.n == 1_000 and out.zmin >= 0


def test_zorder_temporal_columns(spark):
    """DATE has no direct DOUBLE cast in Spark (the docstring promises
    date/timestamp support, so this was a real gap): date goes through
    unix_date, timestamp_ntz through a timestamp cast — both monotone,
    which is all quantile bucketing needs."""
    df = spark.range(200).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        (F.col("id") % 7).alias("x"),
    )
    for pair in (["d", "x"], ["ts", "x"], ["d", "ts"]):
        out = df.withColumn("z", eio._zorder_value(df, pair)).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("z").alias("cells"),
        ).collect()[0]
        assert out.n == 200 and out.cells > 1, pair


def test_zorder_rejects_unsupported_columns(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("x"), F.lit("s").alias("name")
    )
    with pytest.raises(ValueError, match="numeric/date/timestamp"):
        eio._zorder_value(df, ["name"])
    with pytest.raises(ValueError, match="not in DataFrame"):
        eio._zorder_value(df, ["missing"])
    with pytest.raises(ValueError, match="60-bit"):
        eio._zorder_value(df, ["x"], bits=61)
    # a string cluster column fails OPTIMIZE before it commits anything
    t = str(tmp_path / "str")
    eio.append_versioned(df, t, "b0")
    with pytest.raises(ValueError, match="numeric/date/timestamp"):
        eio.optimize_versioned(spark, t, cluster_by=["name", "x"])
    assert eio.list_versions(t) == [(0, ["b0"])]


def test_zorder_constant_column_still_fans_out(spark, tmp_path):
    # a constant cluster column collapses every z-value to one cell;
    # the xxhash64 tie-break must still spread rows across writers
    df = spark.range(200_000).select(
        F.lit(5).cast("long").alias("x"), (F.col("id") % 997).alias("y")
    )
    t = str(tmp_path / "const")
    eio.append_versioned(df.repartition(4), t, "b0")
    v = eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    job_dir = os.path.join(t, f"__job_id=optimize.o{v}")
    files = [f for f in os.listdir(job_dir) if f.endswith(".parquet")]
    assert eio.read_version(spark, t, v).count() == 200_000
    assert len(files) >= 1  # completes; no single giant straggler task


def test_zonemap_prunes_hard_after_zorder_optimize(spark, tmp_path):
    """The payoff the whole feature exists for: a zone map built over a
    z-ordered table prunes point lookups on BOTH clustered columns to
    a small fraction of the files, while the same zone map over a
    plain-compacted table prunes (almost) nothing — stats on
    round-robin files span the whole domain."""
    from nyc_tlc_trip_data_pipelines_spark.operators.layout import (
        write_zonemap,
        zonemap_lookup,
    )

    df = _mk(spark)  # 1M rows -> ~7 files at target_mb=1
    results = {}
    for mode in ("plain", "zorder"):
        t = str(tmp_path / f"t_{mode}")
        eio.append_versioned(df.repartition(8), t, "b0")
        v = eio.optimize_versioned(
            spark, t, target_mb=1,
            cluster_by=["x", "y"] if mode == "zorder" else None,
        )
        job_dir = os.path.join(t, f"__job_id=optimize.o{v}")
        idx = str(tmp_path / f"zm_{mode}")
        n_files = write_zonemap(spark, job_dir, ["x", "y"], idx)
        assert n_files >= 4
        fracs = []
        for col, val in (("x", 500), ("y", 500), ("x", 7), ("y", 991)):
            out, scanned, total = zonemap_lookup(spark, job_dir, idx, col, val)
            assert out.count() == df.filter(F.col(col) == val).count()
            fracs.append(scanned / total)
        results[mode] = sum(fracs) / len(fracs)
    # plain layout: every file spans the domain -> ~no pruning
    assert results["plain"] > 0.9
    # z-ordered layout: point lookups on EITHER dimension hit a minority
    # of files (64 z-buckets per dim across >=4 files)
    assert results["zorder"] < 0.7, results


def test_zorder_buckets_monotone_per_dimension(spark):
    """Property behind the pruning claim: holding the other dimension
    fixed, a column's quantile bucket (extracted from the z-value by
    de-interleaving) is NON-DECREASING in the column's value — so a
    range predicate on any single dimension maps to a contiguous
    bucket range, which is what makes min/max file stats prunable."""
    n, bits = 5_000, 6
    df = spark.range(n).select(
        F.col("id").alias("x"),
        (F.col("id") % 50).alias("y"),
    )
    z = eio._zorder_value(df, ["x", "y"], bits=bits)
    # de-interleave x's bits (positions 0, 2, 4, ... for column 0 of 2)
    xb = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.shiftright(z, 2 * i).bitwiseAND(F.lit(1))
        xb = xb.bitwiseOR(F.shiftleft(bit, i))
    rows = (
        df.withColumn("xb", xb)
        .groupBy("xb")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("xb")
        .collect()
    )
    assert len(rows) > 16  # quantile buckets actually spread
    for prev, cur in zip(rows, rows[1:]):
        assert cur.xb == prev.xb + 1  # no bucket gaps on uniform data
        assert cur.lo > prev.hi  # buckets are disjoint, ordered ranges


def test_read_version_zone_pruning_identical_and_skips_files(spark, tmp_path):
    """Round-13 engine feature: OPTIMIZE ZORDER records per-file
    min/max `zones` in the manifest and read_version(prune=...)
    consumes them — (a) results are byte-identical with pruning on vs
    a plain read + filters (the oracle invariant), (b) the scan set
    actually shrinks on clustered dimensions, (c) a version whose jobs
    carry no zones reads whole directories, still correct."""
    df = _mk(spark)
    t = str(tmp_path / "zp")
    eio.append_versioned(df.repartition(8), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    P = [("x", ">=", 100), ("x", "<", 120), ("y", ">=", 500), ("y", "<", 520)]
    st = eio.zone_prune_stats(t, prune=P)
    assert st["has_zones"] and st["files_total"] >= 4
    assert 0 < st["files_kept"] < st["files_total"]  # real skipping
    pruned = _checksum(eio.read_version(spark, t, prune=P))
    full = _checksum(
        eio.read_version(spark, t).filter(
            (F.col("x") >= 100) & (F.col("x") < 120)
            & (F.col("y") >= 500) & (F.col("y") < 520)
        )
    )
    assert pruned == full and pruned.n > 0
    # point lookup on either single dimension also skips files
    for col in ("x", "y"):
        s1 = eio.zone_prune_stats(t, prune=[(col, "=", 7)])
        assert s1["files_kept"] < s1["files_total"], (col, s1)
        n1 = eio.read_version(spark, t, prune=[(col, "=", 7)]).count()
        assert n1 == df.filter(F.col(col) == 7).count()
    # v0 predates the zones — prune must fall back to full scan, same rows
    v0 = eio.read_version(spark, t, 0, prune=[("x", "=", 7)]).count()
    assert v0 == df.filter(F.col("x") == 7).count()
    # a disprovable predicate yields an empty frame with the full schema
    e = eio.read_version(spark, t, prune=[("x", ">", 10_000)])
    assert e.count() == 0 and set(e.columns) == {"x", "y", "pad"}


def test_append_versioned_zone_stats_prune_across_jobs(spark, tmp_path):
    """zone_stats on append_versioned: two disjoint-range jobs; an
    equality prune must keep only the matching job's files, and zones
    must CARRY FORWARD through later commits like `ever` does."""
    df = _mk(spark, n=100_000)
    t = str(tmp_path / "az")
    eio.append_versioned(
        df.filter(F.col("x") < 500).repartition(3), t, "low", zone_stats=["x"]
    )
    eio.append_versioned(
        df.filter(F.col("x") >= 500).repartition(3), t, "high", zone_stats=["x"]
    )
    st = eio.zone_prune_stats(t, prune=[("x", "=", 700)])
    assert st["has_zones"] and st["files_total"] == 6
    assert st["files_kept"] <= 3  # the 'low' job's files all disproved
    got = eio.read_version(spark, t, prune=[("x", "=", 700)]).count()
    assert got == df.filter(F.col("x") == 700).count()
    # a further append WITHOUT zone_stats must not lose the older zones
    eio.append_versioned(
        df.limit(10).withColumn("x", F.lit(2000).cast("long")), t, "later"
    )
    st2 = eio.zone_prune_stats(t, prune=[("x", "=", 700)])
    assert st2["has_zones"] and st2["files_total"] == 6
    got2 = eio.read_version(spark, t, prune=[("x", "=", 700)]).count()
    assert got2 == got  # 'later' has no x=700 rows and no zones — read whole


def test_zone_pruning_survives_delete_where(spark, tmp_path):
    """delete_where rewrites jobs under NEW names (.dN): the base
    job's STALE zones must drop out (rewritten files differ), and the
    rewritten job must inherit the base's zone-stat column set with
    FRESH stats (round 13 — without the recompute a DELETE eroded
    data skipping on exactly the jobs big enough to matter); untouched
    jobs keep theirs; pruned reads stay exactly correct throughout."""
    df = _mk(spark, n=100_000)
    t = str(tmp_path / "zd")
    eio.append_versioned(
        df.filter(F.col("x") < 500).repartition(3), t, "low", zone_stats=["x"]
    )
    eio.append_versioned(
        df.filter(F.col("x") >= 500).repartition(3), t, "high", zone_stats=["x"]
    )
    v = eio.delete_where(spark, t, F.col("x") == 700)  # rewrites 'high' only
    import json

    with open(os.path.join(t, "_manifests", f"v{v}.json")) as fh:
        zones = json.load(fh).get("zones") or {}
    assert "low" in zones and "high" not in zones  # stale stats dropped
    rewritten = f"high.d{v}"
    assert rewritten in zones  # fresh stats inherited for the rewrite
    assert all("x" in f for f in zones[rewritten].values())
    # the rewritten job's files still prune: full zone coverage means
    # a point lookup keeps a strict subset of the 6 files
    st = eio.zone_prune_stats(t, prune=[("x", "=", 300)])
    assert st["files_total"] == 6 and st["files_kept"] < 6
    got = eio.read_version(spark, t, prune=[("x", "=", 300)]).count()
    assert got == df.filter(F.col("x") == 300).count()
    assert eio.read_version(spark, t, prune=[("x", "=", 700)]).count() == 0


def test_zone_pruning_survives_merge(spark, tmp_path):
    """merge_versioned rewrites matched jobs under .mN names — same
    inheritance contract as delete_where; the updates partition itself
    has no zone basis (no inherited column set) and reads whole."""
    df = _mk(spark, n=100_000)
    t = str(tmp_path / "zm")
    eio.append_versioned(
        df.filter(F.col("x") < 500).repartition(3), t, "low", zone_stats=["x"]
    )
    ups = (
        df.filter(F.col("x") == 300)
        .select("x", "y")
        .distinct()
        .withColumn("pad", F.lit(0).cast("long"))
    )
    v = eio.merge_versioned(spark, t, ups, keys=["x", "y"], job_id="fix1")
    import json

    with open(os.path.join(t, "_manifests", f"v{v}.json")) as fh:
        zones = json.load(fh).get("zones") or {}
    assert f"low.m{v}" in zones  # rewrite inherited the stats
    n = eio.read_version(spark, t, prune=[("x", "=", 300)]).count()
    assert n == eio.read_version(spark, t).filter(F.col("x") == 300).count()


def test_zorder_hash_strings_point_lookup_skipping(spark, tmp_path):
    """String keys are not Z-order cluster columns: OPTIMIZE clustered
    on one refuses before it commits. Clustered on a numeric key
    instead, zone stats on the RAW string column still serve point
    lookups — pruned reads equal plain filtered reads — while the
    numeric dimension keeps range skipping."""
    df = spark.range(700_000).select(
        F.concat(F.lit("user_"), (F.col("id") % 500).cast("string")).alias("uid"),
        (F.col("id") % 1000).cast("long").alias("x"),
        F.xxhash64("id").alias("pad"),
    )
    t = str(tmp_path / "hs")
    eio.append_versioned(df.repartition(8), t, "b0")
    with pytest.raises(ValueError, match="numeric/date/timestamp"):
        eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["uid", "x"])
    assert eio.list_versions(t) == [(0, ["b0"])]
    v = eio.optimize_versioned(
        spark, t, target_mb=1, cluster_by=["x"], zone_stats=["uid", "x"]
    )
    assert eio.read_version(spark, t, v).count() == 700_000
    # numeric dimension keeps RANGE skipping
    sr = eio.zone_prune_stats(t, prune=[("x", ">=", 0), ("x", "<", 50)])
    assert sr["files_kept"] < sr["files_total"]
    # string point lookups through the raw-string zones, verified
    # end-to-end (pruned read == plain filtered read)
    for uid in ("user_7", "user_432"):
        n = eio.read_version(spark, t, prune=[("uid", "=", uid)]).count()
        assert n == df.filter(F.col("uid") == uid).count()
    # the z-value distributes rows over files
    job_dir = os.path.join(t, f"__job_id=optimize.o{v}")
    files = [f for f in os.listdir(job_dir) if f.endswith(".parquet")]
    assert len(files) >= 4


def test_zone_bounds_contain_file_stats_across_types(spark, tmp_path):
    """Soundness anchor for pruning: the manifest's recorded [lo, hi]
    per file must equal the file's true min/max under the canonical
    JSON encoding for every supported type (long, double, string,
    date, timestamp) — a serialization bug here (e.g. a timestamp
    format whose lexicographic order diverges from time order) would
    silently prune live files. Unsupported types (here: the binary
    column) must be OMITTED, never mis-encoded."""
    import json

    from datetime import datetime

    df = spark.range(20_000).select(
        (F.col("id") % 97).alias("k"),
        (F.col("id") * 0.5 - 3000).alias("v"),
        F.concat(F.lit("s"), F.lpad((F.col("id") % 313).cast("string"), 4, "0")).alias("s"),
        F.date_add(F.lit("2023-05-01").cast("date"), (F.col("id") % 400).cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 977).alias("ts"),
        F.col("id").cast("string").cast("binary").alias("raw"),
    )
    t = str(tmp_path / "types")
    eio.append_versioned(
        df.repartition(4), t, "b0", zone_stats=["k", "v", "s", "d", "ts", "raw"]
    )
    with open(os.path.join(t, "_manifests", "v0.json")) as fh:
        zones = json.load(fh)["zones"]["b0"]
    job_dir = os.path.join(t, "__job_id=b0")
    files = [f for f in os.listdir(job_dir) if f.endswith(".parquet")]
    assert set(zones) == set(files) and len(files) >= 2
    for fname, entry in zones.items():
        assert "raw" not in entry  # binary: no order-preserving JSON form
        row = spark.read.parquet(os.path.join(job_dir, fname)).agg(
            *[x for c in ("k", "v", "s", "d", "ts")
              for x in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))],
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        assert entry["rows"] == row["n"]
        # round 14: temporal bounds carry a third KIND element (the
        # writer's dtype) so cross-type date/timestamp prunes coerce to
        # Spark's promotion rule instead of raw string comparison
        kinds = {"k": None, "v": None, "s": None, "d": "date", "ts": "ts"}
        for c in ("k", "v", "s", "d", "ts"):
            lo, hi = entry[c][0], entry[c][1]
            assert (entry[c][2:] or [None])[0] == kinds[c], (fname, c)
            assert lo == eio._zone_json(row[f"lo_{c}"]), (fname, c)
            assert hi == eio._zone_json(row[f"hi_{c}"]), (fname, c)
    # and a timestamp-range prune round-trips correctly end-to-end
    cut = datetime(2023, 5, 10)
    n1 = eio.read_version(spark, t, prune=[("ts", "<", cut)]).count()
    n2 = eio.read_version(spark, t).filter(F.col("ts") < F.lit(cut)).count()
    assert n1 == n2 > 0


def test_pruned_read_pushes_filters_to_parquet_scan(spark, tmp_path):
    """The skipping story composes across three levels: the manifest
    zones drop whole FILES before planning; within the surviving
    files, the same predicates must reach the parquet scan as
    PushedFilters so row-group stats prune further; and the plan must
    stay whole-stage-codegen with no Python. Pin the middle level —
    a pruned read whose filters stopped reaching the scan would
    silently decay to post-scan filtering."""
    df = _mk(spark, n=200_000)
    t = str(tmp_path / "pf")
    eio.append_versioned(df.repartition(4), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    out = eio.read_version(spark, t, prune=[("x", ">=", 100), ("x", "<", 120)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(x,100)" in plan and "LessThan(x,120)" in plan
    assert "PushedFilters: []" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_zone_prune_in_op_point_set_lookup(spark, tmp_path):
    """The 'in' prune op: a point-set lookup keeps exactly the files
    whose span covers ANY member; rows equal the plain isin filter;
    an empty value list is rejected loudly."""
    df = _mk(spark)  # 1M rows → ~7 files at target_mb=1
    t = str(tmp_path / "inop")
    eio.append_versioned(df.repartition(4), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    keys = [7, 991]
    st = eio.zone_prune_stats(t, prune=[("x", "in", keys)])
    assert st["files_kept"] < st["files_total"]
    n = eio.read_version(spark, t, prune=[("x", "in", keys)]).count()
    assert n == df.filter(F.col("x").isin(keys)).count() > 0
    with pytest.raises(ValueError, match="non-empty"):
        eio.read_version(spark, t, prune=[("x", "in", [])])

# --- NaN / temporal soundness, stale-file tolerance, zone inheritance -----


def test_zone_stats_omit_nan_bounds_and_prune_keeps_nan_rows(spark, tmp_path):
    """Round-14 ADVICE (high): Spark's F.max over a double column with
    NaN returns NaN (NaN sorts ABOVE every double in Spark SQL), and a
    NaN bound poisons interval logic — Python `nan > x` is False, so a
    zone built on it would prune files whose NaN rows DO satisfy
    `col > x` Spark-side. The stats writer must omit bounds for any
    file whose min or max is NaN; the pruned read then keeps that file
    and the row filter handles NaN's ordering correctly."""
    import json
    import math

    df = spark.range(40_000).select(
        (F.col("id") % 1000).cast("long").alias("x"),
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.col("id") % 500.0)
        .alias("v"),
    )
    t = str(tmp_path / "nanz")
    eio.append_versioned(df.repartition(3), t, "b0", zone_stats=["x", "v"])
    with open(os.path.join(t, "_manifests", "v0.json")) as fh:
        zones = json.load(fh)["zones"]["b0"]
    assert zones  # x bounds recorded; v omitted everywhere (every file has NaN)
    for entry in zones.values():
        assert "x" in entry and "v" not in entry
    # the invariant the advice protects: col > 250.0 MATCHES NaN rows in
    # Spark — a NaN-poisoned zone would have pruned them away
    pruned = eio.read_version(spark, t, prune=[("v", ">", 250.0)])
    plain = eio.read_version(spark, t).filter(F.col("v") > 250.0)
    np_, nf = pruned.count(), plain.count()
    assert np_ == nf > 0
    n_nan = pruned.filter(F.isnan("v")).count()
    assert n_nan == df.filter(F.isnan("v")).count() > 0  # NaN rows survived


def test_prune_rejects_nan_and_tzaware_values(spark, tmp_path):
    """NaN and tz-aware prune VALUES fail loudly (the zone domain can't
    reason about either); the message says what to do instead."""
    from datetime import datetime, timezone

    df = _mk(spark, n=10_000)
    t = str(tmp_path / "rej")
    eio.append_versioned(df.repartition(2), t, "b0", zone_stats=["x"])
    with pytest.raises(ValueError, match="NaN prune value"):
        eio.read_version(spark, t, prune=[("x", ">", float("nan"))])
    with pytest.raises(ValueError, match="NaN prune value"):
        eio.read_version(spark, t, prune=[("x", "in", [1.0, float("nan")])])
    with pytest.raises(ValueError, match="tz-aware"):
        eio.read_version(
            spark, t,
            prune=[("x", ">", datetime(2024, 1, 1, tzinfo=timezone.utc))],
        )


def test_zone_prune_temporal_cross_type_coercion(spark, tmp_path):
    """Round-14 ADVICE: a date prune value against a TIMESTAMP column
    (and vice versa) must follow Spark's promotion rule — a date is its
    MIDNIGHT timestamp — not raw string comparison, where the 10-char
    date encoding sorts BELOW every same-day 19-char timestamp and
    silently disproves zones that contain matching rows."""
    from datetime import date, datetime

    df = spark.range(20_000).select(
        F.timestamp_seconds(
            F.lit(1684886400) + F.col("id") * 60  # 2023-05-24 00:00 UTC + id min
        ).alias("ts"),
        F.date_add(F.lit("2023-05-01").cast("date"), (F.col("id") % 60).cast("int")).alias("d"),
        F.col("id").alias("k"),
    )
    t = str(tmp_path / "tc")
    eio.append_versioned(df.repartition(4), t, "b0", zone_stats=["ts", "d"])

    # date value vs timestamp column: rows AT midnight of a bound day
    # must survive (>= midnight); the old lexicographic compare dropped
    # whole files here ("2023-05-25" < "2023-05-25 00:00:00")
    cut_d = date(2023, 5, 25)
    pruned = eio.read_version(spark, t, prune=[("ts", ">=", cut_d)])
    plain = eio.read_version(spark, t).filter(F.col("ts") >= F.lit(cut_d))
    assert pruned.count() == plain.count() > 0

    # timestamp value vs date column, equality at midnight: the date
    # rows promote to midnight timestamps and must match
    cut_ts = datetime(2023, 5, 20, 0, 0, 0)
    p2 = eio.read_version(spark, t, prune=[("d", "=", cut_ts)])
    f2 = eio.read_version(spark, t).filter(F.col("d") == F.lit(cut_ts))
    assert p2.count() == f2.count() > 0
    # ...and a NON-midnight timestamp matches no date row, consistently
    noon = datetime(2023, 5, 20, 12, 0, 0)
    p3 = eio.read_version(spark, t, prune=[("d", "=", noon)])
    f3 = eio.read_version(spark, t).filter(F.col("d") == F.lit(noon))
    assert p3.count() == f3.count() == 0
    # 'in' lists coerce per-member too
    p4 = eio.read_version(spark, t, prune=[("d", "in", [cut_ts, noon])])
    f4 = eio.read_version(spark, t).filter(F.col("d").isin([cut_ts, noon]))
    assert p4.count() == f4.count() > 0


def test_pruned_read_tolerates_stale_zone_file_names(spark, tmp_path):
    """Round-14 ADVICE: a concurrent retry of the same job_id can
    overwrite the job directory (fresh part-file names) between the
    winner's stats scan and its commit — the committed zmap then names
    files that no longer exist. The pruned read must degrade to the
    unpruned read plus filters, never fail with PATH_NOT_FOUND."""
    import shutil

    df = _mk(spark, n=100_000)
    t = str(tmp_path / "stale")
    eio.append_versioned(df.repartition(3), t, "b0", zone_stats=["x"])
    job_dir = os.path.join(t, "__job_id=b0")
    # simulate the racing retry's overwrite: same rows, fresh file names
    tmp2 = str(tmp_path / "rewrite")
    spark.read.parquet(job_dir).repartition(3).write.parquet(tmp2)
    shutil.rmtree(job_dir)
    os.rename(tmp2, job_dir)
    pruned = eio.read_version(spark, t, prune=[("x", "<", 100)])
    plain = eio.read_version(spark, t).filter(F.col("x") < 100)
    assert pruned.count() == plain.count() > 0


def test_optimize_inherits_folded_zone_columns(spark, tmp_path):
    """A table never clustered, but whose appends paid for zone stats,
    must not lose data-skipping coverage when OPTIMIZE rewrites it —
    the rewrite inherits the union of the folded jobs' stat columns."""
    df = _mk(spark, n=50_000)
    t = str(tmp_path / "inh")
    eio.append_versioned(df.filter(F.col("x") < 500), t, "a0", zone_stats=["x"])
    eio.append_versioned(df.filter(F.col("x") >= 500), t, "a1", zone_stats=["y"])
    v = eio.optimize_versioned(spark, t)
    mio = eio._manifest_io(t)
    meta = mio.read_meta(v)
    zmap = meta["zones"][f"optimize.o{v}"]
    assert meta["job_ids"] == [f"optimize.o{v}"]
    assert zmap and all(set(e) >= {"rows", "x", "y"} for e in zmap.values())
    n1 = eio.read_version(spark, t, prune=[("x", "=", 700)]).count()
    assert n1 == df.filter(F.col("x") == 700).count() > 0


def test_read_version_prune_is_single_source(spark, tmp_path):
    """One conjunct list drives both the zone skip and the residual
    filters — read_version(prune=P) must equal the plain read plus P's
    filters, and must actually skip files on a clustered table."""
    df = _mk(spark)
    t = str(tmp_path / "rvw")
    eio.append_versioned(df.repartition(4), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    P = [("x", ">=", 200), ("x", "<", 260), ("y", "in", [5, 700])]
    st = eio.zone_prune_stats(t, prune=P)
    assert st["has_zones"] and st["files_kept"] < st["files_total"]
    got = _checksum(eio.read_version(spark, t, prune=P))
    want = _checksum(
        eio.read_version(spark, t).filter(
            (F.col("x") >= 200) & (F.col("x") < 260) & F.col("y").isin([5, 700])
        )
    )
    assert got == want


def test_zone_sidecar_spills_resolves_and_degrades(spark, tmp_path, monkeypatch):
    """Round-14 verdict item 3: per-job zone maps past the threshold
    spill to a content-addressed sidecar file — the manifest carries a
    tiny marker and stays byte-comparable under the conditional-PUT
    claim (measured inline boundary: ~16 MB manifest at 100k files,
    ~128 MB at the 800k of a 100 TB table, re-uploaded EVERY commit).
    Pruning through the marker is identical to inline; later appends
    carry the marker; a deleted sidecar degrades that job to an
    unpruned read, never an error."""
    import json

    monkeypatch.setattr(eio, "ZONE_SIDECAR_MIN_FILES", 3)
    # n sized so the 1 MB-target fold yields WELL over 4 files: with
    # only ~3, one Morton range can legitimately span the whole x
    # domain and the strict kept<total assertion below goes flaky
    # (observed under full-suite load: 3 files, 3 kept of 3)
    df = _mk(spark, n=1_000_000)
    t = str(tmp_path / "sc")
    eio.append_versioned(df.repartition(4), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    with open(os.path.join(t, "_manifests", "v1.json")) as fh:
        meta = json.load(fh)
    marker = meta["zones"]["optimize.o1"]
    assert set(marker) == {"sidecar", "files", "cols"} and marker["files"] >= 3
    assert marker["cols"] == ["x", "y"]
    side = os.path.join(t, "_manifests", marker["sidecar"])
    assert os.path.exists(side)
    zmap = json.loads(open(side).read())
    assert len(zmap) == marker["files"]
    assert all("x" in e and "y" in e for e in zmap.values())
    # pruning through the sidecar: identical rows, real skipping
    P = [("x", ">=", 100), ("x", "<", 120)]
    st = eio.zone_prune_stats(t, prune=P)
    assert st["has_zones"] and 0 < st["files_kept"] < st["files_total"]
    assert st["files_total"] == marker["files"]
    pruned = _checksum(eio.read_version(spark, t, prune=P))
    full = _checksum(
        eio.read_version(spark, t).filter((F.col("x") >= 100) & (F.col("x") < 120))
    )
    assert pruned == full and pruned.n > 0
    # a later append carries the marker forward untouched
    eio.append_versioned(df.limit(1_000), t, "late")
    with open(os.path.join(t, "_manifests", "v2.json")) as fh:
        assert json.load(fh)["zones"]["optimize.o1"] == marker
    # a missing sidecar (vacuumed orphan / racing retry) degrades to an
    # unpruned read of that job — same rows, no error
    os.unlink(side)
    st2 = eio.zone_prune_stats(t, version=1, prune=P)
    assert st2["files_total"] == 0  # job now counts as unzoned
    p2 = eio.read_version(spark, t, version=1, prune=P)
    assert _checksum(p2) == full


def test_zone_sidecar_on_s3_manifest_stays_small(spark, tmp_path, monkeypatch):
    """The sidecar's point on object storage: the manifest the
    conditional-PUT byte-compares stays tiny while the per-job stats
    live in their own content-addressed object; pruned reads resolve
    the marker through the store."""
    boto3 = pytest.importorskip("boto3")
    from moto import mock_aws
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import json

    monkeypatch.setattr(eio, "ZONE_SIDECAR_MIN_FILES", 2)
    url = "s3a://bkt/tblsc"
    mirror = str(tmp_path / "mirror_sc")
    real_r, real_w = DataFrameReader.parquet, DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameReader,
        "parquet",
        lambda self, *ps: real_r(self, *[p.replace(url, mirror) for p in ps]),
    )
    monkeypatch.setattr(
        DataFrameWriter,
        "parquet",
        lambda self, p: real_w(self, p.replace(url, mirror)),
    )
    # the pruned read passes the table root as the basePath OPTION, not
    # a .parquet() argument — mirror that too or the s3a URL reaches
    # the JVM (no S3AFileSystem on the test classpath)
    real_o = DataFrameReader.option
    monkeypatch.setattr(
        DataFrameReader,
        "option",
        lambda self, k, v: real_o(
            self, k, v.replace(url, mirror) if isinstance(v, str) else v
        ),
    )
    for k in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY"):
        monkeypatch.setenv(k, "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        boto3.client("s3").create_bucket(Bucket="bkt")
        df = _mk(spark, n=50_000)
        eio.append_versioned(df.repartition(3), url, "b0", zone_stats=["x"])
        from nyc_tlc_trip_data_pipelines_spark import objectstore

        store = objectstore.get_store(url)
        meta = json.loads(store.get_text("_manifests/v0.json"))
        marker = meta["zones"]["b0"]
        assert set(marker) == {"sidecar", "files", "cols"} and marker["files"] == 3
        assert marker["cols"] == ["x"]
        zmap = json.loads(store.get_text(f"_manifests/{marker['sidecar']}"))
        assert len(zmap) == 3 and all("x" in e for e in zmap.values())
        n1 = eio.read_version(spark, url, prune=[("x", "<", 100)]).count()
        n2 = eio.read_version(spark, url).filter(F.col("x") < 100).count()
        assert n1 == n2 > 0


def test_vacuum_sweeps_orphaned_sidecars_with_grace(spark, tmp_path, monkeypatch):
    """Round-14 sidecar follow-through: VACUUM deletes zstats sidecars
    no retained manifest references (vacuumed history, losing retries'
    never-referenced uploads) — otherwise one orphan accumulates per
    rewrite forever — while (a) the sidecar the tip references
    survives, and (b) an unreferenced-but-FRESH sidecar (an in-flight
    writer between its PUT and its commit) is spared by the 60 s
    mtime grace, mirroring the journal-tmp sweep."""
    import json
    import time as _time

    monkeypatch.setattr(eio, "ZONE_SIDECAR_MIN_FILES", 2)
    df = _mk(spark, n=400_000)
    t = str(tmp_path / "vs")
    eio.append_versioned(df.repartition(3), t, "b0", zone_stats=["x"])  # v0: sidecar A
    eio.optimize_versioned(spark, t, target_mb=1)  # v1: sidecar B (A now unreferenced)
    zdir = os.path.join(t, "_manifests", "zstats")
    before = sorted(os.listdir(zdir))
    assert len(before) == 2
    with open(os.path.join(t, "_manifests", "v1.json")) as fh:
        live = json.load(fh)["zones"]["optimize.o1"]["sidecar"]
    # a never-referenced upload from a losing retry: fresh → spared
    eio._zone_sidecar_put(t, "zstats/loser.deadbeef0000.json", "{}")
    # age everything EXCEPT the fresh loser past the grace window
    old = _time.time() - 120
    for name in before:
        os.utime(os.path.join(zdir, name), (old, old))
    eio.vacuum_versioned(t, retain_last=1)
    after = set(os.listdir(zdir))
    assert os.path.basename(live) in {os.path.basename(a) for a in after}
    assert "loser.deadbeef0000.json" in after  # grace spared it
    assert len(after) == 2  # b0's orphaned sidecar is gone
    # the swept table still prunes and reads correctly
    st = eio.zone_prune_stats(t, prune=[("x", "<", 100)])
    assert st["has_zones"]
    n1 = eio.read_version(spark, t, prune=[("x", "<", 100)]).count()
    n2 = eio.read_version(spark, t).filter(F.col("x") < 100).count()
    assert n1 == n2 > 0


def test_vacuum_sweeps_orphaned_sidecars_on_s3(spark, tmp_path, monkeypatch):
    """Store-parity for the round-14 orphan sweep: on S3 the sweep
    lists `_manifests/zstats/`, HEADs only the already-unreferenced
    candidates for the 60 s grace, and batch-deletes the orphans —
    the referenced sidecar survives. The grace clock is shifted via
    the io module's time handle (moto objects are always fresh)."""
    import time as _time
    import types

    boto3 = pytest.importorskip("boto3")
    from moto import mock_aws
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import json

    monkeypatch.setattr(eio, "ZONE_SIDECAR_MIN_FILES", 2)
    url = "s3a://bkt/tblvs"
    mirror = str(tmp_path / "mirror_vs")
    real_r, real_w = DataFrameReader.parquet, DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameReader,
        "parquet",
        lambda self, *ps: real_r(self, *[p.replace(url, mirror) for p in ps]),
    )
    monkeypatch.setattr(
        DataFrameWriter,
        "parquet",
        lambda self, p: real_w(self, p.replace(url, mirror)),
    )
    real_o = DataFrameReader.option
    monkeypatch.setattr(
        DataFrameReader,
        "option",
        lambda self, k, v: real_o(
            self, k, v.replace(url, mirror) if isinstance(v, str) else v
        ),
    )
    for k in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY"):
        monkeypatch.setenv(k, "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        boto3.client("s3").create_bucket(Bucket="bkt")
        from nyc_tlc_trip_data_pipelines_spark import objectstore

        df = _mk(spark, n=400_000)
        eio.append_versioned(df.repartition(3), url, "b0", zone_stats=["x"])
        eio.optimize_versioned(spark, url, target_mb=1, cluster_by=["x", "y"])
        store = objectstore.get_store(url)
        v1 = json.loads(store.get_text("_manifests/v1.json"))
        live = v1["zones"]["optimize.o1"]["sidecar"]
        zkeys = sorted(
            k for page in store.iter_pages("_manifests/zstats/") for k in page
        )
        assert len(zkeys) == 2  # b0's (now orphaned) + optimize.o1's
        # everything in moto is fresh — shift the sweep's clock past
        # the grace window instead of waiting
        monkeypatch.setattr(
            eio, "time", types.SimpleNamespace(time=lambda: _time.time() + 120)
        )
        eio.vacuum_versioned(url, retain_last=1)
        after = sorted(
            k for page in store.iter_pages("_manifests/zstats/") for k in page
        )
        assert after == [f"_manifests/{live}"]
        # the surviving table still prunes through its sidecar
        n1 = eio.read_version(spark, url, prune=[("x", "<", 100)]).count()
        n2 = eio.read_version(spark, url).filter(F.col("x") < 100).count()
        assert n1 == n2 > 0


def test_optimize_default_rewrite_is_unclustered(spark, tmp_path):
    """``cluster_by=None`` rewrites unclustered even after a clustered
    OPTIMIZE: manifests record no layout, the rewrite still inherits
    the zone columns, and with round-robin files every file spans the
    whole x domain, so an x-range prune keeps them all."""
    df = _mk(spark)  # 1M rows: enough files for a strict skip below
    t = str(tmp_path / "unclus")
    eio.append_versioned(df.repartition(4), t, "b0")
    eio.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    P = [("x", "<", 100)]
    st = eio.zone_prune_stats(t, prune=P)
    assert 0 < st["files_kept"] < st["files_total"]
    eio.append_versioned(df.limit(2_000), t, "late")
    v = eio.optimize_versioned(spark, t, target_mb=1)
    meta = eio._manifest_io(t).read_meta(v)
    assert meta["job_ids"] == [f"optimize.o{v}"]
    assert set(meta) == {"version", "job_col", "job_ids", "ever", "writer", "zones"}
    st = eio.zone_prune_stats(t, prune=P)
    assert st["has_zones"] and st["files_total"] >= 2
    assert st["files_kept"] == st["files_total"]
    pruned = _checksum(eio.read_version(spark, t, prune=P))
    assert pruned == _checksum(eio.read_version(spark, t).filter(F.col("x") < 100))
    assert eio.read_version(spark, t).count() == 1_002_000

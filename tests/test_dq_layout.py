"""Data-quality validation, entity blocking, Z-order, and PII tests."""

from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP
from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ
from nyc_tlc_trip_data_pipelines_spark.operators import entity as EN
from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO
from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS


def test_dq_validate_mixed_verdicts(spark):
    df = spark.createDataFrame(
        [(1, 1, "A", 5.0), (1, 1, "A", 6.0), (2, 1, "N", 7.0), (3, None, "X", -1.0)],
        "k bigint, sub int, flag string, qty double",
    )
    report = {
        r.constraint: r
        for r in DQ.validate(
            df,
            [
                DQ.not_null("k"),
                DQ.not_null("sub"),
                DQ.unique("k", "sub"),
                DQ.min_value("qty", 0.0),
                DQ.accepted_values("flag", "A", "N"),
            ],
        ).collect()
    }
    assert report["not_null(k)"].passed and report["not_null(k)"].metric == 1.0
    assert not report["not_null(sub)"].passed and abs(report["not_null(sub)"].metric - 0.75) < 1e-9
    assert not report["unique(k,sub)"].passed and report["unique(k,sub)"].metric == 1.0
    assert not report["min_value(qty)>=0.0"].passed and report["min_value(qty)>=0.0"].metric == -1.0
    assert not report["accepted_values(flag) in {A,N}"].passed


def test_time_weighted_avg_exact(spark):
    # value 10 for 3s, value 20 for 1s -> twa = (30+20)/4 = 12.5
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, 10.0),
            (2, "2024-01-01 00:00:03", 1, 20.0),
            (3, "2024-01-01 00:00:04", 1, 99.0),  # last: no interval
        ],
        "event_id bigint, ts string, user_id bigint, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = TS.time_weighted_avg(df).collect()[0]
    assert r.n_intervals == 2 and r.total_seconds == 4.0 and r.twa == 12.5


def test_ohlc_struct_minmax(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:05:00", 1, 5.0),
            (2, "2024-01-01 10:01:00", 1, 3.0),  # earliest -> open
            (3, "2024-01-01 10:59:00", 1, 4.0),  # latest -> close
            (4, "2024-01-01 10:30:00", 1, 9.0),  # high
        ],
        "event_id bigint, ts string, user_id bigint, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = TS.ohlc(df).collect()[0]
    assert (r.open, r.high, r.low, r.close, r.n_events) == (3.0, 9.0, 3.0, 4.0, 4)


def test_blocked_fuzzy_matches(spark):
    clean = spark.createDataFrame(
        [(1, "Widget-0001"), (2, "Widget-0002")], "id bigint, name string"
    )
    dirty = spark.createDataFrame([(10, "Widgett-0001")], "id bigint, name string")
    rows = EN.blocked_fuzzy_matches(
        dirty, clean, "name", F.expr("right(name, 4)"), max_edit_distance=1, id_col="id"
    ).collect()
    assert len(rows) == 1
    assert rows[0].clean_id == 1 and rows[0].edit_distance == 1


def test_zorder_key_interleaves(spark):
    df = spark.createDataFrame([(3, 5)], "x int, y int")
    # x=0b011, y=0b101 -> z = y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1 = 0b100111 = 39
    z = df.select(LO.zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")).collect()[0].z
    assert z == 39
    # locality: close (x,y) points share high z bits
    df2 = spark.createDataFrame([(10, 10), (11, 10), (200, 200)], "x int, y int")
    zs = [r.z for r in df2.select(LO.zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]
    assert abs(zs[0] - zs[1]) < abs(zs[0] - zs[2])


def test_zorder_sql_matches_column_expr(spark):
    rows = [(i, (i * 37) % 256, (i * 91) % 256) for i in range(64)]
    df = spark.createDataFrame(rows, "id int, zx int, zy int")
    got = df.select("id", LO.zorder_key(F.col("zx"), F.col("zy"), 8).alias("z"))
    via_sql = df.selectExpr("id", f"({LO.zorder_sql('zx', 'zy', 8)}) as z")
    assert got.exceptAll(via_sql).count() == 0 and via_sql.exceptAll(got).count() == 0


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.org now call 5551234567 ok 123",)],
        "text string",
    )
    out = df.select(CP.redact_pii("text").alias("r")).collect()[0].r
    assert out == "mail <EMAIL> now call <PHONE> ok 123"


def test_pagerank_star_graph(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR

    # star: a<->b, a<->c, a<->d — hub a must outrank the leaves, and
    # leaves tie by symmetry; total mass stays <= 1 (undirected, no dangling)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("a", "d"), ("d", "a")],
        "src string, dst string",
    )
    pr = {r.node: r.pr for r in GR.pagerank(edges, iterations=10).collect()}
    assert pr["a"] > pr["b"]
    assert abs(pr["b"] - pr["c"]) < 1e-12 and abs(pr["c"] - pr["d"]) < 1e-12
    assert abs(sum(pr.values()) - 1.0) < 1e-6


def _pagerank_replay(edges, iterations, damping):
    """Plain-Python PageRank with the operator's formula and term order."""
    edges = sorted(set(edges))
    nodes = {n for e in edges for n in e}
    n = len(nodes)
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        mass = {}
        for s, d in edges:
            mass[d] = mass.get(d, 0.0) + pr[s] / out_deg[s]
        pr = {v: (1.0 - damping) / n + damping * mass.get(v, 0.0) for v in nodes}
    return pr


def test_pagerank_source_and_dangling_nodes_match_replay(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR

    # s has no in-edges, c has no out-edges (dangling); the duplicate
    # s->a is dropped. Every node has at most two in-edges, so the sum
    # order cannot change a bit and the comparison is exact.
    edges = [("s", "a"), ("s", "a"), ("s", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iterations in (1, 3):
        got = {r.node: r.pr for r in GR.pagerank(df, iterations=iterations).collect()}
        assert got == _pagerank_replay(edges, iterations, 0.85)
        assert got["s"] == (1.0 - 0.85) / 4


def test_pagerank_evaluates_edges_once(spark):
    """The caller's edge plan runs once: every later read comes from the
    materialized weighted edge list, not a recomputation."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR

    seen = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(x):
        seen.add(1)
        return x

    rows = [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(60)]
    edges = spark.createDataFrame(rows, "src string, dst string").select(
        counted("src").alias("src"), "dst"
    )
    assert len(GR.pagerank(edges, iterations=3).collect()) > 0
    assert seen.value == len(rows)


def test_pagerank_broadcasts_ranks_not_edges(spark, sf_dir):
    """In the final AQE plan the rank table is the build side of every
    joined round (BuildRight) and the edge checkpoint is read with no
    Exchange above it, although Catalyst's estimate for the rank table
    (the checkpoint's orders⋈lineitem lineage) is far past the gate."""
    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark.plans import _tree_depth

    out = E.queries()["q_pagerank"](spark, sf_dir)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    lines = final.splitlines()
    depths = [_tree_depth(ln) for ln in lines]
    joins = [ln for ln in lines if "HashJoin" in ln]
    assert len(joins) == 2 and all("BroadcastHashJoin" in ln and "BuildRight" in ln for ln in joins)
    edge_scans = [i for i, ln in enumerate(lines) if "Scan ExistingRDD[src" in ln]
    assert len(edge_scans) == 3
    for i in edge_scans:
        d = depths[i]
        for j in range(i - 1, -1, -1):  # ancestors, up to the first join/aggregate/union
            if depths[j] >= d:
                continue
            d = depths[j]
            assert "Exchange" not in lines[j] and "QueryStage" not in lines[j]
            if any(op in lines[j] for op in ("Join", "Aggregate", "Union")):
                break


def test_repeated_pagerank_compiles_no_new_classes(spark):
    """A PageRank run again after other queries reuses every generated
    class: one run needs about 46 classes, and with Spark's default
    codegen cache (100 entries) the other queries' classes evict some,
    so the rerun recompiled them (12 here) and ran them interpreted."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR

    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(60)], "src string, dst string"
    )
    GR.pagerank(edges, iterations=3).collect()
    other = spark.range(200).select(
        (F.col("id") % 7).alias("k"), "id", F.col("id").cast("string").alias("s")
    )
    for i in range(1, 12):
        other.groupBy((F.col("k") * i).alias("g")).agg(F.sum("id"), F.max("s"), F.count("*")).collect()
    before = compiles.getCount()
    GR.pagerank(edges, iterations=3).collect()
    assert compiles.getCount() == before


def test_iterative_checkpoints_are_released_after_gc(spark, sf_dir):
    """Operators materialize only with localCheckpoint: after PageRank,
    the Arrow-tier k-means and the q_dedup_minhash and q_assoc_rules
    registry ids at sf0.01, the session's CacheManager is empty and
    every block they stored is freed once the frames are
    garbage-collected."""
    import gc
    import os
    import time

    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    store = spark.sparkContext._jsc.sc().statusStore()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def stored_ids():
        infos = store.rddList(True)
        return {infos.apply(i).id() for i in range(infos.size())}

    spark.catalog.clearCache()
    before = stored_ids()
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    GR.pagerank(edges).collect()
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)], "vec_id long, embedding array<float>"
    )
    assigned, _ = V.kmeans_train(pts, k=2)
    assigned.collect()
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    qs = E.queries()
    for qid in ("q_dedup_minhash", "q_assoc_rules"):
        qs[qid](spark, sf01).write.format("noop").mode("overwrite").save()
    assert cache.isEmpty()
    del edges, pts, assigned
    assert stored_ids() - before  # the checkpoints were stored
    for _ in range(80):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not stored_ids() - before:
            break
        time.sleep(0.25)
    assert not stored_ids() - before
    assert cache.isEmpty()


def test_package_never_uses_the_session_cache():
    """localCheckpoint is the engine's only materialization: no package
    module registers a CacheManager entry or releases one."""
    import pathlib
    import re

    import nyc_tlc_trip_data_pipelines_spark as pkg

    calls = re.compile(r"\.persist\(|\.cache\(\)|\.unpersist\(")
    found = [
        f"{path.name}:{n}"
        for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if calls.search(line)
    ]
    assert not found, found


def test_cohort_retention_daily(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-03 10:00:00"),
            (2, "2024-01-01 23:00:00"),
            (3, "2024-01-02 01:00:00"),
        ],
        "user_id bigint, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (str(r.cohort_bucket), r.bucket_offset): r.n_users
        for r in TS.cohort_retention(df, grain="day").collect()
    }
    assert got[("2024-01-01 00:00:00", 0)] == 2  # users 1 and 2 on day 0
    assert got[("2024-01-01 00:00:00", 2)] == 1  # user 1 returns day 2
    assert got[("2024-01-02 00:00:00", 0)] == 1  # user 3's own cohort


def test_mad_anomalies_flags_outlier(spark):
    vals = [(1, float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 1000]]
    df = spark.createDataFrame(vals, "user_id bigint, value double")
    r = TS.mad_anomalies(df).collect()[0]
    assert r.n_events == 8 and r.n_anomalies == 1
    assert r.median_value == 10.5


def test_cdc_apply_last_op_wins(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import sorts as O

    ops = spark.createDataFrame(
        [
            (1, 100.0, "I", 1),
            (1, 150.0, "U", 2),   # latest for key 1 -> survives with 150
            (2, 200.0, "I", 1),
            (2, 0.0, "D", 2),     # deleted
            (3, 300.0, "I", 1),   # untouched
        ],
        "k bigint, bal double, op string, seq int",
    )
    got = {r.k: r.bal for r in O.cdc_apply(ops, ["k"], "seq").collect()}
    assert got == {1: 150.0, 3: 300.0}


def test_streaming_ohlc_matches_batch_shape(spark):
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    # window aggregation is the same expression in batch mode — verify
    # the bar selection semantics without spinning up a stream
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 01:00:00", 7, 5.0),
            (2, "2024-01-01 09:00:00", 7, 9.0),
            (3, "2024-01-02 03:00:00", 7, 2.0),
        ],
        "event_id bigint, ts string, user_id bigint, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {str(r.window_start): r for r in ST.ohlc_window_agg(df).collect()}
    d1 = rows["2024-01-01 00:00:00"]
    assert (d1.open, d1.close, d1.high, d1.low, d1.n_events) == (5.0, 9.0, 9.0, 5.0, 2)
    assert rows["2024-01-02 00:00:00"].open == 2.0


def test_profile_stats_exact(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")], "k int, s string"
    )
    rows = {r.column: r for r in DQ.profile(df, exact_ndv=True).collect()}
    assert set(rows) == {"k", "s"}
    k, s = rows["k"], rows["s"]
    assert (k.n_rows, k.n_nulls, k.n_distinct, k.min_s, k.max_s) == (4, 1, 2, "1", "2")
    assert (s.n_rows, s.n_nulls, s.n_distinct, s.min_s, s.max_s) == (4, 1, 2, "a", "b")


def test_profile_approx_ndv_single_aggregate(spark, sf_dir):
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ
    from nyc_tlc_trip_data_pipelines_spark.plans import node_count

    li = load_table(spark, sf_dir, "lineitem")
    out = DQ.profile(li, cols=["l_orderkey", "l_returnflag"])  # approx ndv default
    # approx path must not Expand the scan (the exact path does, x|cols|)
    assert node_count(out, "Expand") == 0
    rows = {r.column: r for r in out.collect()}
    assert rows["l_returnflag"].n_distinct >= 2


def test_zonemap_prunes_files_and_matches_full_scan(spark, tmp_path):
    """Zone-map lookup must equal the full-scan filter and read strictly
    fewer files on a range-clustered layout; a value outside every
    file's interval scans zero files."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    table = str(tmp_path / "clustered")
    df.repartitionByRange(8, "k").write.parquet(table)
    idx = str(tmp_path / "zm")
    n_files = LO.write_zonemap(spark, table, ["k"], idx)
    assert n_files >= 8

    hit, n_scanned, n_total = LO.zonemap_lookup(spark, table, idx, "k", 1234)
    assert n_total == n_files and 0 < n_scanned < n_total
    got = [(r.k, r.v) for r in hit.collect()]
    expect = [
        (r.k, r.v) for r in spark.read.parquet(table).filter(F.col("k") == 1234).collect()
    ]
    assert got == expect == [(1234, 2468)]

    miss, n_scanned_miss, _ = LO.zonemap_lookup(spark, table, idx, "k", 999999)
    assert n_scanned_miss == 0 and miss.count() == 0


def test_write_with_metrics_observes_during_write(spark, tmp_path):
    """Observation metrics must equal a direct aggregate, and arrive
    from the write action itself (no second scan needed)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQM

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    path = str(tmp_path / "out")
    m = DQM.write_with_metrics(
        df,
        path,
        {
            "n": F.count(F.lit(1)),
            "nulls": F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
            "total": F.sum("v"),
        },
    )
    assert (m["n"], m["nulls"], m["total"]) == (3, 1, 40.0)
    back = spark.read.parquet(path)
    assert back.count() == 3 and set(back.columns) == {"k", "v"}


def test_geohash_encode_canonical_vectors(spark):
    """geohash_encode must reproduce canonical geohashes (longitude-
    first MSB interleave, base32) and behave at the domain edges."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO

    df = spark.createDataFrame(
        [
            (57.64911, 10.40744, "u4pruydqq"),   # the classic test vector
            (40.758, -73.9855, "dr5ru7v2s"),     # Times Square
            (-33.8568, 151.2153, "r3gx2ux9g"),   # Sydney
            (0.0, 0.0, "s00000000"),
            (90.0, 180.0, "zzzzzzzzz"),          # clamped upper edge
            (-90.0, -180.0, "000000000"),
        ],
        "lat double, lon double, expect string",
    )
    rows = df.select(
        "expect", LO.geohash_encode(F.col("lat"), F.col("lon"), 9).alias("g")
    ).collect()
    for r in rows:
        assert r.g == r.expect, (r.expect, r.g)
    # prefix property: lower precision is a strict prefix
    short = df.select(
        "expect", LO.geohash_encode(F.col("lat"), F.col("lon"), 4).alias("g")
    ).collect()
    for r in short:
        assert r.expect.startswith(r.g)


def test_psi_drift_terms_and_one_sided_buckets(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ

    base = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "k string")
    curr = spark.createDataFrame([("a",)] * 80 + [("b",)] * 10 + [("c",)] * 10, "k string")
    got = {r.k: r for r in DQ.psi_drift(base, curr, "k", alias="k").collect()}
    import math
    expect_a = round((0.8 - 0.5) * math.log(0.8 / 0.5), 6)
    assert got["a"].psi_term == expect_a
    assert got["c"].psi_term is None          # one-sided bucket surfaces as NULL
    assert got["c"].n_base == 0 and got["c"].n_curr == 10
    assert abs(sum(r.p_curr for r in got.values()) - 1.0) < 1e-9


def test_jackknife_loo_means(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg
    from pyspark.sql import functions as F

    # groups: a = {100, 300} (cents), b = {500}; loo(a)=5.0, loo(b)=2.0
    df = spark.createDataFrame([("a", 100), ("a", 300), ("b", 500)], "g string, y long")
    got = {r.g: r.loo_mean for r in
           agg.jackknife_group_means(df, "g", F.col("y"), y_scale=100).collect()}
    assert got == {"a": 5.0, "b": 2.0}


def test_grid_radius_pairs_matches_brute_force(spark):
    import itertools
    import math
    import random

    from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 20) / 2.0, rng.randint(0, 20) / 2.0) for i in range(60)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    r = 1.25
    got = {(a.id_a, a.id_b) for a in LO.grid_radius_pairs(df, "pid", "x", "y", r).collect()}
    brute = {
        (i, j)
        for (i, xi, yi), (j, xj, yj) in itertools.combinations(pts, 2)
        if (xi - xj) ** 2 + (yi - yj) ** 2 <= r * r
    }
    assert got == brute


def test_grid_radius_pairs_no_nested_loop(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO
    from nyc_tlc_trip_data_pipelines_spark.plans import plan_string

    df = spark.range(100).selectExpr("id AS pid", "CAST(id % 10 AS DOUBLE) AS x",
                                     "CAST(id % 7 AS DOUBLE) AS y")
    out = LO.grid_radius_pairs(df, "pid", "x", "y", 1.0)
    s = plan_string(out)
    assert "BroadcastNestedLoop" not in s and "CartesianProduct" not in s

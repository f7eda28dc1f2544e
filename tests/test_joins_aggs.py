"""Join/aggregate/window operator tests, incl. plan-shape assertions
(the 100 TB contract: broadcasts actually broadcast, filters push)."""

from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
from nyc_tlc_trip_data_pipelines_spark.operators import joins as J
from nyc_tlc_trip_data_pipelines_spark.operators import sorts as O
from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS
from nyc_tlc_trip_data_pipelines_spark.operators import windows as W
from nyc_tlc_trip_data_pipelines_spark.plans import node_count, plan_string, uses_broadcast_join


def test_semi_anti_partition_left(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = J.semi_join(c, o, on=[c.c_custkey == o.o_custkey])
    anti = J.anti_join(c, o, on=[c.c_custkey == o.o_custkey])
    assert semi.count() + anti.count() == c.count()
    assert set(semi.columns) == set(c.columns)


def test_broadcast_join_plan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = J.broadcast_join(li, p, on=[li.l_partkey == p.p_partkey])
    assert uses_broadcast_join(joined)


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    star = J.star_join(li, [(o, li.l_orderkey == o.o_orderkey), (c, o.o_custkey == c.c_custkey)])
    assert node_count(star, "BroadcastHashJoin") == 2


def test_as_of_join_backward(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)], "sym string, t long, px double"
    )
    trades = spark.createDataFrame(
        [("A", 4), ("A", 6), ("B", 2), ("B", 9)], "sym string, t long"
    )
    out = TS.asof_join(trades, quotes.withColumnRenamed("t", "qt"), "sym", "t", "qt")
    got = {(r.sym, r.t): r.asof_ts for r in out.collect()}
    assert got == {("A", 4): 1, ("A", 6): 5, ("B", 2): None, ("B", 9): 3}


def test_top_n_per_group(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    top2 = W.top_n_per_group(o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], n=2)
    counts = top2.groupBy("o_custkey").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    plan = plan_string(O.top_k(o, [F.col("o_totalprice").desc()], 5))
    assert "TakeOrderedAndProject" in plan


def test_group_by_all_equals_drop_duplicates(spark, sf_dir):
    # reference R19 semantic equivalence (SURVEY.md §5.2 item 4)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    via_group = ev.groupBy("user_id", "event_type").agg(F.lit(1)).drop("1")
    via_dedup = ev.dropDuplicates()
    assert via_group.count() == via_dedup.count()


def test_scd2_apply_idempotent_and_versioned(spark, sf_dir):
    """SCD2 contract: one change closes the old version and opens a new
    one; re-applying the same updates is a no-op (no version churn)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators.sorts import scd2_apply

    c = load_table(spark, sf_dir, "customer").limit(200)
    dim = c.select(
        "c_custkey", "c_name", F.round("c_acctbal", 6).alias("c_acctbal"),
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal") + 1.0, 6).alias("c_acctbal")
    )
    n_changed = updates.count()
    v1 = scd2_apply(dim, updates, ["c_custkey"], ["c_name", "c_acctbal"], "2024-01-01")
    assert v1.count() == dim.count() + n_changed
    assert v1.filter(~F.col("is_current")).count() == n_changed
    # closed rows carry the effective timestamp as valid_to
    assert (
        v1.filter(~F.col("is_current"))
        .filter(F.col("valid_to") == F.lit("2024-01-01").cast("timestamp"))
        .count()
        == n_changed
    )
    # idempotence: same updates against the merged dim change nothing
    v2 = scd2_apply(v1, updates, ["c_custkey"], ["c_name", "c_acctbal"], "2025-01-01")
    assert v2.count() == v1.count()
    assert v2.filter(F.col("is_current")).count() == dim.count()


def test_ols_group_perfect_line_and_degenerate(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    rows = [("a", 1, 300), ("a", 2, 500), ("a", 3, 700),   # y=2x+1 in units
            ("b", 5, 100), ("b", 5, 900)]                  # zero x-variance
    df = spark.createDataFrame(rows, "g string, x int, y long")
    out = {r.g: r for r in agg.ols_group(df, ["g"], F.col("x"), F.col("y"), y_scale=100).collect()}
    a = out["a"]
    assert a.n == 3 and a.slope == 2.0 and a.intercept == 1.0 and a.r2 == 1.0
    b = out["b"]
    assert b.n == 2 and b.slope is None and b.r2 is None


def test_skyline_2d_dominance_rules(spark):
    # (3,10) dominates (2,10) [strict x, equal y] and (1,5);
    # (1,20) survives (best y); (3,10) survives (best x).
    rows = [(1, 5.0), (1, 20.0), (2, 10.0), (3, 10.0), (3, 7.0)]
    df = spark.createDataFrame(rows, "x int, y double")
    got = {(r.x, r.y) for r in W.skyline_2d(df, "x", "y").collect()}
    assert got == {(1, 20.0), (3, 10.0)}


def test_hll_rollup_union_matches_direct(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    # users overlap across sources: union must dedup (120 distinct, not 200)
    rows = [("en", "a", i) for i in range(100)] + [("en", "b", i) for i in range(20, 120)]
    df = spark.createDataFrame(rows, "lang string, source string, uid long")
    out = agg.hll_rollup(df, ["lang", "source"], ["lang"], "uid", lg_k=12).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_sketches == 2
    assert abs(r.distinct_est - 120) <= 6  # 5% band; small-n HLL is near-exact


def test_cms_point_estimates_guarantee(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    n = 2000
    df = spark.createDataFrame([(i % 4,) for i in range(n)], "k long")
    got = {r.key: r.est for r in agg.cms_point_estimates(df, "k", [0, 1, 2, 3], eps=0.001).collect()}
    for k in range(4):
        assert 500 <= got[k] <= 500 + 0.001 * n  # one-sided CM bound


def test_bloom_prefilter_no_false_negatives_and_prunes(spark):
    big = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(0, 2000, 100)], "d long")  # 20 keys
    kept = {r.k for r in J.bloom_prefilter(big, "k", dim, "d", min_big_bytes=0).collect()}
    members = set(range(0, 2000, 100))
    assert members <= kept                      # no false negative, ever
    # 8192 bits / 20 keys / 3 hashes → fpp ~1e-6; allow a generous margin
    assert len(kept) <= len(members) + 5


def test_bloom_prefilter_guard_skips_saturated_bitset(spark):
    """r5 verdict item 5: when the dim has too many distinct keys for
    n_bits, the measured fill ratio predicts a near-1 pass rate — the
    guard must skip the bloom and return `big` UNCHANGED rather than
    pay probe cost for no pruning."""
    big = spark.createDataFrame([(i,) for i in range(100)], "k long")
    # 8000 keys × 3 hashes over 8192 bits → fill ≈ 1 − e^-2.9 ≈ 0.95,
    # expected pass rate 0.95³ ≈ 0.86 > 1 − min_prune
    dim = spark.createDataFrame([(i,) for i in range(8000)], "d long")
    out = J.bloom_prefilter(big, "k", dim, "d", min_big_bytes=0)
    assert out is big
    # a sparse dim keeps the filter (returns a NEW filtered frame)
    small = spark.createDataFrame([(i,) for i in range(20)], "d long")
    assert J.bloom_prefilter(big, "k", small, "d", min_big_bytes=0) is not big


def test_bloom_prefilter_big_side_floor(spark):
    """r7 verdict item 3: a big side whose Catalyst size estimate is
    under min_big_bytes cannot amortize the build's two extra jobs —
    the prefilter must skip itself (return `big` unchanged) under the
    default floor, and engage when the floor is lowered/disabled.
    Python-local relations report UNKNOWN stats (Long.MaxValue) and
    must NOT trip the floor; spark.range has exact stats and must."""
    # range: Catalyst knows the exact size (2000 x 8 B << 64 MiB)
    big = spark.range(2000).select(F.col("id").alias("k"))
    dim = spark.range(0, 2000, 100).select(F.col("id").alias("d"))
    assert J.bloom_prefilter(big, "k", dim, "d") is big
    # unknown-stats big side: the floor stands aside, bloom engages
    big_local = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    assert J.bloom_prefilter(big_local, "k", dim, "d") is not big_local
    # floor disabled -> the bloom engages and actually prunes
    out = J.bloom_prefilter(big, "k", dim, "d", min_big_bytes=0)
    assert out is not big
    assert out.count() < 2000


def test_bloom_prefilter_rejects_bad_geometry(spark):
    df = spark.createDataFrame([(1,)], "k long")
    import pytest
    with pytest.raises(ValueError):
        J.bloom_bit_positions(F.col("k"), 1000, 3)     # not a power of two
    with pytest.raises(ValueError):
        J.bloom_bit_positions(F.col("k"), 65536, 4)    # 4*16 > 60 bits


def test_interval_bucket_join_matches_theta_join(spark):
    # intervals crossing bucket boundaries, exact-boundary ends, and a
    # point exactly at an exclusive end (must NOT match)
    iv = spark.createDataFrame(
        [(1, 5, 25), (2, 10, 20), (3, 30, 40)], "iid long, s long, e long"
    )
    pt = spark.createDataFrame(
        [(100, 5), (101, 19), (102, 20), (103, 24), (104, 39), (105, 40)],
        "pid long, p long",
    )
    got = {(r.iid, r.pid) for r in
           J.interval_bucket_join(iv, pt, "s", "e", "p", bucket_width=10).collect()}
    expected = {(i, pid) for i, s, e in [(1, 5, 25), (2, 10, 20), (3, 30, 40)]
                for pid, p in [(100, 5), (101, 19), (102, 20), (103, 24), (104, 39), (105, 40)]
                if s <= p < e}
    assert got == expected
    assert (2, 102) not in got           # exclusive end honored
    assert (1, 103) in got               # third bucket of a 3-bucket interval


def test_interval_bucket_join_no_nested_loop_plan(spark):
    from nyc_tlc_trip_data_pipelines_spark.plans import plan_string

    iv = spark.range(100).select(F.col("id").alias("iid"), (F.col("id") * 10).alias("s"),
                                 (F.col("id") * 10 + 15).alias("e"))
    pt = spark.range(1000).select(F.col("id").alias("pid"), F.col("id").alias("p"))
    out = J.interval_bucket_join(iv, pt, "s", "e", "p", bucket_width=10)
    s = plan_string(out)
    assert "BroadcastNestedLoop" not in s and "CartesianProduct" not in s


def test_kmv_intersection_estimates_within_band(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    # |A| = 600, |B| = 600, overlap 200
    a = spark.createDataFrame([(i,) for i in range(600)], "v long")
    b = spark.createDataFrame([(i,) for i in range(400, 1000)], "v long")
    sa = agg.kmv_sketch(a, F.col("v"), k=256)
    sb = agg.kmv_sketch(b, F.col("v"), k=256)
    est = agg.kmv_intersection(sa, sb, k=256).collect()[0]
    assert abs(est.est_union - 1000) <= 0.2 * 1000
    assert abs(est.est_intersection - 200) <= 0.35 * 200  # rho term is noisier
    # sketch is exactly k rows of ascending distinct hashes
    hs = [r.h for r in sa.collect()]
    assert len(hs) == 256 and hs == sorted(set(hs))


def test_corr_group_perfect_and_degenerate(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    rows = ([("up", i, 2 * i + 5) for i in range(10)]       # r = 1
            + [("down", i, 100 - 3 * i) for i in range(10)]  # r = -1
            + [("flat", i, 7) for i in range(10)])           # zero y-variance
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r.pearson_r for r in
           agg.corr_group(df, ["g"], F.col("x"), F.col("y")).collect()}
    assert got["up"] == 1.0 and got["down"] == -1.0 and got["flat"] is None


def test_interval_bucket_join_drops_empty_intervals(spark):
    """end <= start matches nothing under [start, end): degenerate
    intervals must not explode into wrong-direction buckets (sequence
    counts DOWN when b_end < b_start)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.joins import interval_bucket_join

    iv = spark.createDataFrame(
        [(1, 100, 200), (2, 150, 150), (3, 300, 250)],
        "iv_id long, s long, e long",
    )
    pt = spark.createDataFrame(
        [(10, 150), (11, 150), (12, 260)], "pt_id long, p long"
    )
    got = interval_bucket_join(iv, pt, "s", "e", "p", bucket_width=50)
    rows = {(r["iv_id"], r["pt_id"]) for r in got.collect()}
    # only the real interval matches; zero-length and inverted ones
    # produce nothing (and no bogus bucket rows reach the join)
    assert rows == {(1, 10), (1, 11)}


def test_dp_noisy_counts_deterministic_and_unbiased_shape(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import privacy as PV

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)], "id long, g string"
    )
    out1 = {r.g: r for r in PV.dp_noisy_counts(df, ["g"], epsilon=1.0, seed=7).collect()}
    out2 = {r.g: r for r in PV.dp_noisy_counts(df, ["g"], epsilon=1.0, seed=7).collect()}
    assert out1.keys() == out2.keys() == {"a", "b"}
    for g in out1:
        # seeded release: identical on re-run
        assert out1[g].n_released == out2[g].n_released
        # Laplace(1) noise: astronomically unlikely beyond ~40 absolute
        assert abs(out1[g].n_released - out1[g].n_true) < 45
    # a different seed moves the noise
    out3 = {r.g: r for r in PV.dp_noisy_counts(df, ["g"], epsilon=1.0, seed=8).collect()}
    assert any(out3[g].n_released != out1[g].n_released for g in out1)


def test_dp_noisy_sum_clips_contributions(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import privacy as PV

    # one outlier of 10^6 must be clamped to the clip bound (10), so the
    # released sum stays near n*clip, not near the outlier
    df = spark.createDataFrame(
        [(i, "g", 5.0 if i else 1e6) for i in range(100)], "id long, g string, v double"
    )
    out = PV.dp_noisy_sum(df, ["g"], F.col("v"), 0.0, 10.0, epsilon=1.0, seed=7).collect()[0]
    assert out.sum_clipped == 99 * 5.0 + 10.0
    assert abs(out.sum_released - out.sum_clipped) < 10.0 * 45


def test_ks_two_sample_identical_and_disjoint(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        ks_two_sample,
    )

    # identical distributions -> D = 0, no rejection
    same = spark.createDataFrame(
        [(float(v), g) for v in range(10) for g in ("a", "b")],
        "value double, grp string",
    )
    r = ks_two_sample(same, "value", F.col("grp") == "a").collect()[0]
    assert r["n_a"] == 10 and r["n_b"] == 10
    assert r["ks_stat"] == 0.0 and not r["reject"]
    # disjoint supports -> D = 1, rejected; NULL values excluded
    apart = spark.createDataFrame(
        [(float(v), "a") for v in range(20)]
        + [(float(v + 100), "b") for v in range(20)]
        + [(None, "a")],
        "value double, grp string",
    )
    r = ks_two_sample(apart, "value", F.col("grp") == "a").collect()[0]
    assert r["n_a"] == 20 and r["n_b"] == 20
    assert r["ks_stat"] == 1.0 and r["reject"]


def test_bitmap_distinct_rollup_exact_counts(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        bitmap_distinct_rollup,
    )

    # ids straddle several 32-bit blocks; user 5 repeats across days
    rows = [
        ("g1", "d1", 5), ("g1", "d1", 70), ("g1", "d2", 5),
        ("g1", "d2", 200), ("g2", "d1", 0), ("g2", "d1", 31),
        ("g2", "d1", 32), ("g2", "d1", 63),
    ]
    df = spark.createDataFrame(rows, "grp string, day string, user_id bigint")
    out = {
        r["grp"]: r
        for r in bitmap_distinct_rollup(df, "grp", F.col("day"), "user_id").collect()
    }
    assert out["g1"]["n_subs"] == 2
    assert out["g1"]["sum_sub_distinct"] == 4  # 2 + 2, user 5 double-counted
    assert out["g1"]["distinct_total"] == 3  # bitmap OR dedups across days
    assert out["g2"]["sum_sub_distinct"] == 4 == out["g2"]["distinct_total"]
    assert out["g2"]["avg_sub_distinct"] == 4.0


def test_bitmap_rollup_negative_ids_no_collision(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        bitmap_distinct_rollup,
    )

    # -1 and 31 would collide under truncate-toward-zero blocking
    df = spark.createDataFrame(
        [("g", "d", -1), ("g", "d", 31), ("g", "d", -33)],
        "grp string, day string, user_id bigint",
    )
    out = bitmap_distinct_rollup(df, "grp", F.col("day"), "user_id").collect()[0]
    assert out["distinct_total"] == 3 == out["sum_sub_distinct"]


def test_ks_two_sample_degenerate_side_is_null(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        ks_two_sample,
    )

    # every row matches in_a -> the b-side ECDF is undefined; the
    # contract is NULL (test-not-runnable), never reject=false
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a")], "value double, grp string"
    )
    r = ks_two_sample(df, "value", F.col("grp") == "a").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 0
    assert r["ks_stat"] is None and r["reject"] is None


def test_poisson_bootstrap_ci_constant_and_spread(spark):
    """A constant column gives a degenerate bootstrap (every replicate
    mean equals the constant -> se 0, CI collapsed); a spread sample
    gives a CI that brackets the point estimate with positive SE."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    ts = agg.poisson1_cdf_thresholds()
    assert ts == sorted(ts) and 0.36 < ts[0] < 0.37 and ts[-1] < 1.0

    rows = [(i, "const", 7.5) for i in range(200)]
    rows += [(1000 + i, "spread", float(i % 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id bigint, k string, value double")
    out = {
        r["k"]: r
        for r in agg.poisson_bootstrap_ci(
            df, ["k"], F.col("value"), "event_id", n_boot=40, seed=17
        ).collect()
    }
    c = out["const"]
    assert c["n_rows"] == 200 and c["n_boot"] == 40
    assert c["mean"] == 7.5 and c["se_boot"] == 0.0
    assert c["ci_lo"] == 7.5 and c["ci_hi"] == 7.5
    s = out["spread"]
    assert s["n_rows"] == 400
    assert s["ci_lo"] <= s["mean"] <= s["ci_hi"]
    assert s["ci_lo"] < s["ci_hi"] and s["se_boot"] > 0
    # bootstrap SE of a ~uniform(0,100) mean at n=400 is ~1.44 — sane band
    assert 0.5 < s["se_boot"] < 3.0


def test_poisson_weight_string_thresholds_match_conv_formulation(spark):
    """r15 optimization fence: the portable bootstrap weight now counts
    CDF thresholds by comparing md5's 15-char hex slice against
    precomputed hex flip points, replacing the per-draw conv→bigint→
    double→compare chain. Replaying the OLD formulation next to the
    new one over a dense draw grid must give identical weights for
    every (id, b) — including draws landing exactly on a flip point."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    ts = agg.poisson1_cdf_thresholds()
    # every flip point's neighborhood: u(h*−1) < t <= u(h*)
    for t in ts:
        hstar = agg._u_threshold_to_h(t)
        assert (float(hstar) + 0.5) / float(1 << 60) >= t
        assert hstar == 0 or (float(hstar - 1) + 0.5) / float(1 << 60) < t

    df = spark.range(0, 3000).select(
        F.col("id").cast("string").alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("b"),
    )
    ci = F.concat_ws(
        "\x1f", F.col("__id"), F.col("b").cast("string"), F.lit("17")
    )
    h_old = F.conv(F.substring(F.md5(ci), 1, 15), 16, 10).cast("long")
    u_old = (h_old.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    w_old = None
    for t in ts:
        term = (u_old >= F.lit(t)).cast("long")
        w_old = term if w_old is None else w_old + term
    # the production shape: full-md5 compare + ascending CASE ladder
    bounds = [format(agg._u_threshold_to_h(t), "015x") for t in ts]
    hx = F.md5(ci)
    w_new = F.when(hx < bounds[0], 0)
    for i in range(1, len(bounds)):
        w_new = w_new.when(hx < bounds[i], i)
    w_new = w_new.otherwise(len(bounds)).cast("long")
    bad = df.select(w_old.alias("a"), w_new.alias("b")).filter(
        F.col("a") != F.col("b")
    ).count()
    assert bad == 0


def test_u_threshold_to_h_bound_stays_15_hex_digits():
    """Every flip point is below 2^60, so it formats as exactly 15 hex
    digits; a threshold above every u would give 2^60 (16 digits) and
    break the fixed-width compare, so the helper refuses it."""
    import pytest

    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    for t in agg.poisson1_cdf_thresholds(20):
        assert len(format(agg._u_threshold_to_h(t), "015x")) == 15
    with pytest.raises(AssertionError):
        agg._u_threshold_to_h(1.5)


def test_equidepth_histogram_uniform_and_skewed(spark):
    """Uniform 1..80 over 8 bins -> each bin holds exactly 10 rows with
    boundaries at multiples of 10; a heavy-hitter value collapses its
    whole mass into one bin (boundaries are actual data values)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        equidepth_histogram,
    )

    rows = [("u", float(i)) for i in range(1, 81)]
    rows += [("s", 5.0)] * 70 + [("s", float(100 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, value double")
    out = equidepth_histogram(df, ["k"], F.col("value"), n_bins=8).collect()
    uni = sorted((r for r in out if r["k"] == "u"), key=lambda r: r["bin"])
    assert [r["bin"] for r in uni] == list(range(1, 9))
    assert all(r["bin_rows"] == 10 for r in uni)
    assert [r["hi"] for r in uni] == [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0]
    assert uni[0]["lo"] is None and uni[1]["lo"] == 10.0
    assert [r["cum_rows"] for r in uni] == [10, 20, 30, 40, 50, 60, 70, 80]
    skew = sorted((r for r in out if r["k"] == "s"), key=lambda r: r["bin"])
    # 70 of 80 rows share v=5.0 -> cum=70 lands in bin ceil(70*8/80)=7
    assert skew[0]["bin"] == 7 and skew[0]["hi"] == 5.0 and skew[0]["bin_rows"] == 70
    assert skew[-1]["bin"] == 8 and skew[-1]["bin_rows"] == 10


def test_weighted_percentile_hand_computed(spark):
    """Hand-checkable masses: values 1..4 with weights 1,1,2,6 (total
    10) -> weighted p50 is the value where cum reaches 5 (v=4 at cum
    10? no: cum(3)=4 < 5, so v=4), p10 picks v=1; zero-weight rows are
    ignored; an unweighted-uniform group matches plain medians."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        weighted_percentile,
    )

    rows = [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 2.0), ("a", 4.0, 6.0),
            ("a", 9.0, 0.0)]  # zero weight: must not shift anything
    rows += [("b", float(i), 1.0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    out = {
        r["k"]: r
        for r in weighted_percentile(
            df, ["k"], F.col("v"), F.col("w"), percentiles=(0.1, 0.5, 0.9)
        ).collect()
    }
    a = out["a"]
    assert a["total_weight"] == 10.0
    # cum: 1->1, 2->2, 3->4, 4->10; thresholds ceil(p*10): 1, 5, 9
    assert a["p10"] == 1.0 and a["p50"] == 4.0 and a["p90"] == 4.0
    b = out["b"]
    # uniform weights: inverse-CDF picks ceil(p*n)-th value
    assert b["p10"] == 1.0 and b["p50"] == 5.0 and b["p90"] == 9.0


def test_weighted_percentile_huge_weights_no_overflow(spark):
    """Total micro-weight beyond the naive tw*p_micro int64 bound: the
    split-multiply threshold must stay exact (the naive form overflows
    past ~1e7 raw weight units)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        weighted_percentile,
    )

    # three values, 5e6 raw weight each -> tw = 1.5e13 micro-units
    df = spark.createDataFrame(
        [("g", 1.0, 5e6), ("g", 2.0, 5e6), ("g", 3.0, 5e6)],
        "k string, v double, w double",
    )
    out = weighted_percentile(
        df, ["k"], F.col("v"), F.col("w"), percentiles=(0.5, 0.9)
    ).collect()[0]
    # cum thirds: p50 threshold lands in the middle mass, p90 in the top
    assert out["p50"] == 2.0 and out["p90"] == 3.0
    assert out["total_weight"] == 1.5e7


def test_weighted_percentile_and_equidepth_ignore_nulls(spark):
    """NULL values must not shift boundaries: Spark and DuckDB place
    NULLs at opposite ends of the running-sum window, so the operators
    exclude them outright."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        equidepth_histogram,
        weighted_percentile,
    )

    base = [("g", float(i), 1.0) for i in range(1, 11)]
    with_nulls = base + [("g", None, 1.0)] * 5
    a = spark.createDataFrame(base, "k string, v double, w double")
    b = spark.createDataFrame(with_nulls, "k string, v double, w double")
    pa = weighted_percentile(a, ["k"], F.col("v"), F.col("w")).collect()[0]
    pb = weighted_percentile(b, ["k"], F.col("v"), F.col("w")).collect()[0]
    assert pa["p50"] == pb["p50"] == 5.0
    ha = {r["bin"]: r["hi"] for r in equidepth_histogram(a, ["k"], F.col("v"), 4).collect()}
    hb = {r["bin"]: r["hi"] for r in equidepth_histogram(b, ["k"], F.col("v"), 4).collect()}
    assert ha == hb


def test_poisson_bootstrap_ci_tiny_group_degrades_gracefully(spark):
    """A 1-row group drops its all-zero-weight replicates instead of
    letting NULL means into the rank window; surviving replicate means
    all equal the row value, so ci_lo is that value and the out-of-
    range hi rank comes back NULL (degenerate, not wrong)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        poisson_bootstrap_ci,
    )

    df = spark.createDataFrame(
        [(1, "tiny", 42.0)], "event_id bigint, k string, value double"
    )
    out = poisson_bootstrap_ci(
        df, ["k"], F.col("value"), "event_id", n_boot=40, seed=17
    ).collect()[0]
    assert out["mean"] == 42.0 and out["n_rows"] == 1
    assert out["ci_lo"] == 42.0 and out["se_boot"] == 0.0
    # rank 39 exceeds the valid replicate count (~25 of 40 have w>0)
    assert out["ci_hi"] is None or out["ci_hi"] == 42.0


def test_sprt_daily_walk_boundaries_and_exactness(spark):
    """Hand-driven walk: an arm with pure successes crosses the H1
    boundary at the first cohort where s*c1 >= ln(19); an all-failure
    arm crosses H0; LLR values match the closed form."""
    import datetime as dt
    import math

    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        sprt_daily_walk,
        sprt_llr_constants,
    )

    d = lambda i: dt.date(2024, 1, 1) + dt.timedelta(days=i)  # noqa: E731
    rows = [(0, d(i // 4), 1) for i in range(28)]   # arm 0: all convert
    rows += [(1, d(i // 4), 0) for i in range(28)]  # arm 1: none convert
    df = spark.createDataFrame(rows, "arm int, day date, cv int")
    out = sprt_daily_walk(
        df, F.col("arm"), F.col("cv"), F.col("day"),
        p0=0.25, p1=0.40, alpha=0.05, beta=0.05,
        period_name="day",
    ).collect()
    c1, c0 = sprt_llr_constants(0.25, 0.40)
    up, lo = math.log(19.0), math.log(1.0 / 19.0)
    for r in out:
        s, n = r["s_cum"], r["n_cum"]
        expect = (s * round(c1 * 1e6) + (n - s) * round(c0 * 1e6)) / 1e6
        assert abs(r["llr"] - expect) < 1e-9
        if r["arm"] == 0:
            assert r["decision"] == ("accept_h1" if expect >= up else "continue")
        else:
            assert r["decision"] == ("accept_h0" if expect <= lo else "continue")
    # all-success arm crosses H1 (7 cohorts x 4 obs x 0.47 nats each)
    arm0 = sorted((r for r in out if r["arm"] == 0), key=lambda r: r["day"])
    assert arm0[-1]["decision"] == "accept_h1"
    assert any(r["decision"] == "continue" for r in arm0[:1])
    arm1 = sorted((r for r in out if r["arm"] == 1), key=lambda r: r["day"])
    assert arm1[-1]["decision"] == "accept_h0"


def test_poisson_bootstrap_fast_tier_same_contract(spark):
    """There is one weight draw: the output contract the former xxhash
    fast tier was held to (exact point estimate, degenerate-constant
    CI, sane spread bounds) holds on it, and a caller still passing the
    removed ``hash_tier`` keyword fails loudly instead of silently
    getting a different draw."""
    import pytest

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        poisson_bootstrap_ci,
    )

    rows = [(i, "c", 7.5) for i in range(200)]
    rows += [(1000 + i, "s", float(i % 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id bigint, k string, value double")
    out = {
        r["k"]: r
        for r in poisson_bootstrap_ci(
            df, ["k"], F.col("value"), "event_id"
        ).collect()
    }
    c = out["c"]
    assert c["mean"] == 7.5 and c["se_boot"] == 0.0 and c["ci_lo"] == 7.5
    s = out["s"]
    assert s["ci_lo"] <= s["mean"] <= s["ci_hi"] and 0.5 < s["se_boot"] < 3.0
    with pytest.raises(TypeError, match="hash_tier"):
        poisson_bootstrap_ci(
            df, ["k"], F.col("value"), "event_id", hash_tier="fast"
        )


def test_cuped_adjust_variance_reduction_and_parity(spark):
    """Perfectly correlated X,Y -> rho2 == 1 and both arms' adjusted
    means collapse to the same value; theta equals the OLS slope."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import cuped_adjust

    # y = 10*x in micro-units; arm 0 has larger x (covariate imbalance)
    rows = [(0, x, 10 * x * 1_000_000) for x in (4, 5, 6)] + [
        (1, x, 10 * x * 1_000_000) for x in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "arm int, x long, y long")
    out = {r["arm"]: r for r in cuped_adjust(df, "arm", F.col("x"), F.col("y")).collect()}
    assert out[0]["n"] == 3 and out[1]["n"] == 3
    assert abs(out[0]["theta"] - 10.0) < 1e-6
    assert abs(out[0]["rho2"] - 1.0) < 1e-6
    # raw means differ by 30; the adjustment removes ALL covariate
    # imbalance, so adjusted means agree (both = grand mean 35)
    assert abs(out[0]["mean_y"] - 50.0) < 1e-6
    assert abs(out[1]["mean_y"] - 20.0) < 1e-6
    assert abs(out[0]["mean_y_adj"] - 35.0) < 1e-6
    assert abs(out[1]["mean_y_adj"] - 35.0) < 1e-6


def test_cuped_adjust_degenerate_covariate(spark):
    """var(X) = 0 -> NULL theta/rho2 and mean_y_adj falls back to
    mean_y rather than erroring."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import cuped_adjust

    rows = [(0, 7, 1_000_000), (0, 7, 3_000_000), (1, 7, 2_000_000)]
    df = spark.createDataFrame(rows, "arm int, x long, y long")
    out = {r["arm"]: r for r in cuped_adjust(df, "arm", F.col("x"), F.col("y")).collect()}
    assert out[0]["theta"] is None and out[0]["rho2"] is None
    assert out[0]["mean_y_adj"] == out[0]["mean_y"] == 2.0
    assert out[1]["mean_y_adj"] == out[1]["mean_y"] == 2.0


def test_gini_group_extremes(spark):
    """Equal shares -> 0; one member holding everything -> (n-1)/n."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import gini_group

    rows = (
        [("eq", i, 100) for i in range(4)]
        + [("one", 0, 400), ("one", 1, 0), ("one", 2, 0), ("one", 3, 0)]
    )
    df = spark.createDataFrame(rows, "g string, m long, v long")
    out = {
        r["g"]: r
        for r in gini_group(df, ["g"], F.col("v"), F.col("m")).collect()
    }
    assert out["eq"]["gini"] == 0.0
    assert abs(out["one"]["gini"] - 0.75) < 1e-9   # (n-1)/n, n=4
    assert out["eq"]["n_members"] == 4


def test_mann_whitney_u_textbook_and_ties(spark):
    """No-ties case checked against the closed form; tie case uses
    midranks and keeps U_a + U_b = n_a * n_b exactly."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import mann_whitney_u

    # a = {1, 3, 5}, b = {2, 4}: ranks a = {1, 3, 5} -> R_a = 9,
    # U_a = 9 - 6 = 3, U_b = 3*2 - 3 = 3 (perfectly interleaved)
    rows = [("a", 1), ("a", 3), ("a", 5), ("b", 2), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = mann_whitney_u(df, "g", F.col("v"), "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["u_a"] == 3.0 and r["u_b"] == 3.0
    assert abs(r["z"]) < 0.2           # dead-center under H0
    # ties: a = {1, 2}, b = {2, 3}; midrank of the two 2s = 2.5
    rows2 = [("a", 1), ("a", 2), ("b", 2), ("b", 3)]
    df2 = spark.createDataFrame(rows2, "g string, v long")
    r2 = mann_whitney_u(df2, "g", F.col("v"), "a", "b").collect()[0]
    # R_a = 1 + 2.5 = 3.5 -> U_a = 3.5 - 3 = 0.5
    assert r2["u_a"] == 0.5 and r2["u_b"] == 3.5
    assert r2["u_a"] + r2["u_b"] == r2["n_a"] * r2["n_b"]


def test_mann_whitney_u_separation_sign(spark):
    """All of b above all of a -> U_a = 0 and strongly negative z."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import mann_whitney_u

    rows = [("a", i) for i in range(10)] + [("b", 100 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = mann_whitney_u(df, "g", F.col("v"), "a", "b").collect()[0]
    assert r["u_a"] == 0.0 and r["u_b"] == 100.0
    assert r["z"] < -3.5


def test_spearman_monotone_and_ties(spark):
    """Any monotone relation -> rho = 1 exactly (rank invariance);
    reversed -> -1; ties use midranks."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import spearman_corr

    # y = x^3 (nonlinear but monotone): Pearson < 1, Spearman == 1
    rows = [(x, x ** 3) for x in range(1, 11)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = spearman_corr(df, F.col("x"), F.col("y")).collect()[0]
    assert r["n"] == 10 and r["rho"] == 1.0
    rows2 = [(x, -(x ** 3)) for x in range(1, 11)]
    df2 = spark.createDataFrame(rows2, "x long, y long")
    assert spearman_corr(df2, F.col("x"), F.col("y")).collect()[0]["rho"] == -1.0
    # constant y -> zero rank variance -> NULL
    df3 = spark.createDataFrame([(1, 5), (2, 5)], "x long, y long")
    assert spearman_corr(df3, F.col("x"), F.col("y")).collect()[0]["rho"] is None
    # tie case, hand-computed with midranks: x=[1,2,2,3] -> ranks
    # [1, 2.5, 2.5, 4]; y=[1,2,3,4]; cov=4.5, varx=4.5, vary=5
    # -> rho = 4.5/sqrt(22.5) = 0.948683 (matches scipy.spearmanr)
    df4 = spark.createDataFrame(
        [(1, 1), (2, 2), (2, 3), (3, 4)], "x long, y long"
    )
    r4 = spearman_corr(df4, F.col("x"), F.col("y")).collect()[0]
    assert abs(r4["rho"] - 0.948683) < 1e-6


def test_chi2_gof_uniform_and_biased(spark):
    """Exact 50/50 -> chi2 = 0; a 75/25 split of 400 rows against a
    50/50 design -> chi2 = (300-200)^2/200 + (100-200)^2/200 = 100."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        chi2_goodness_of_fit,
    )

    even = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50, "arm string"
    )
    r = chi2_goodness_of_fit(even, "arm", {"a": 0.5, "b": 0.5}).collect()
    assert all(row["chi2"] == 0.0 and row["dof"] == 1 for row in r)
    biased = spark.createDataFrame(
        [("a",)] * 300 + [("b",)] * 100, "arm string"
    )
    r2 = chi2_goodness_of_fit(biased, "arm", {"a": 0.5, "b": 0.5}).collect()
    assert all(row["chi2"] == 100.0 for row in r2)
    by = {row["category"]: row for row in r2}
    assert by["a"]["expected"] == 200.0 and by["a"]["contrib"] == 50.0
    # uniform default (no shares): 3 categories, equal thirds
    tri = spark.createDataFrame(
        [("x",)] * 30 + [("y",)] * 30 + [("z",)] * 30, "arm string"
    )
    r3 = chi2_goodness_of_fit(tri, "arm").collect()
    assert all(row["chi2"] == 0.0 and row["dof"] == 2 for row in r3)


def test_diff_in_diff_hand_computed(spark):
    """4-cell textbook example: treat 10->18 (+8), ctrl 5->9 (+4)
    -> DID = +4 exactly; empty-cell case yields NULL did."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import diff_in_diff

    rows = (
        [("t", "pre", 10_000_000)] * 3 + [("t", "post", 18_000_000)] * 3
        + [("c", "pre", 5_000_000)] * 2 + [("c", "post", 9_000_000)] * 2
    )
    df = spark.createDataFrame(rows, "g string, p string, y long")
    out = diff_in_diff(df, "g", "p", F.col("y"), "t", "post").collect()
    assert len(out) == 4
    by = {(r["grp"], r["period"]): r for r in out}
    assert by[("treat", "pre")]["mean_y"] == 10.0
    assert by[("treat", "post")]["mean_y"] == 18.0
    assert all(r["treat_delta"] == 8.0 and r["ctrl_delta"] == 4.0 for r in out)
    assert all(r["did"] == 4.0 for r in out)
    # missing ctrl/post cell -> NULL did, no error
    rows2 = [("t", "pre", 1_000_000), ("t", "post", 2_000_000), ("c", "pre", 1_000_000)]
    df2 = spark.createDataFrame(rows2, "g string, p string, y long")
    out2 = diff_in_diff(df2, "g", "p", F.col("y"), "t", "post").collect()
    assert all(r["did"] is None for r in out2)


def test_chi2_gof_cell_alignment(spark):
    """Round-9 (r8 ADVICE): designed arm with zero traffic enters as
    observed=0 (SRM must fire hardest there); an unexpected bucket
    NULLs chi2/dof instead of silently understating them."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        chi2_goodness_of_fit,
    )

    # arm b designed at 50% but got NO traffic: chi2 = 50 + 50 = 100
    one_sided = spark.createDataFrame([("a",)] * 100, "arm string")
    r = chi2_goodness_of_fit(one_sided, "arm", {"a": 0.5, "b": 0.5}).collect()
    by = {row["category"]: row for row in r}
    assert set(by) == {"a", "b"}
    assert by["b"]["observed"] == 0 and by["b"]["expected"] == 50.0
    assert all(row["chi2"] == 100.0 and row["dof"] == 1 for row in r)
    # unexpected third bucket c: no defined expectation -> NULL totals,
    # but N still counts c's rows (expected a = 0.5 * 100 = 50)
    leaky = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "arm string"
    )
    r2 = chi2_goodness_of_fit(leaky, "arm", {"a": 0.5, "b": 0.5}).collect()
    by2 = {row["category"]: row for row in r2}
    assert set(by2) == {"a", "b", "c"}
    assert by2["a"]["expected"] == 50.0
    assert by2["c"]["expected"] is None and by2["c"]["contrib"] is None
    assert all(row["chi2"] is None and row["dof"] is None for row in r2)


def test_diff_in_diff_declared_values(spark):
    """Round-9 (r8 ADVICE): with control_value/pre_value declared,
    a third group value no longer contaminates the ctrl cells."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import diff_in_diff

    rows = (
        [("t", "pre", 10_000_000)] * 2 + [("t", "post", 18_000_000)] * 2
        + [("c", "pre", 5_000_000)] * 2 + [("c", "post", 9_000_000)] * 2
        # a rogue third group that the catch-all would bucket as ctrl
        + [("x", "pre", 1_000_000_000)] + [("x", "post", 0)]
    )
    df = spark.createDataFrame(rows, "g string, p string, y long")
    strict = diff_in_diff(
        df, "g", "p", F.col("y"), "t", "post",
        control_value="c", pre_value="pre",
    ).collect()
    assert len(strict) == 4
    assert all(r["did"] == 4.0 for r in strict)
    # the legacy catch-all is contaminated by x (documented behavior)
    loose = diff_in_diff(df, "g", "p", F.col("y"), "t", "post").collect()
    assert all(r["did"] != 4.0 for r in loose)


def test_mann_whitney_all_ties(spark):
    """Round-9 (verdict item 8): an all-ties input has zero
    tie-corrected variance -> z must be NULL, never a divide-by-zero."""
    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import mann_whitney_u

    df = spark.createDataFrame(
        [("a", 7)] * 4 + [("b", 7)] * 6, "g string, v int"
    )
    out = mann_whitney_u(df, "g", F.col("v"), "a", "b").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 4 and r["n_b"] == 6
    # all midranks equal -> U_a = n_a*n_b/2 exactly
    assert r["u_a"] == 12.0 and r["u_b"] == 12.0
    assert r["z"] is None

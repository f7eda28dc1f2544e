"""Time-series operators: sessionize, as-of join, time spine / gap-fill.

Edge cases exercised on tiny inline frames: gap exactly at the
threshold (no new session), gap one second over (new session), as-of
tie at equal timestamps (inclusive), probe with no prior build row
(NULL), spine buckets with no facts (zero-filled).
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F

from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_sessionize_gap_boundary(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1),
        (1, _ts("2024-01-01 10:30:00"), 2),   # gap == 1800s → same session
        (1, _ts("2024-01-01 11:00:01"), 3),   # gap 1801s → new session
        (2, _ts("2024-01-01 09:00:00"), 4),   # other entity independent
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = TS.sessionize(df, "user_id", "ts", 1800, tiebreak_cols=("event_id",))
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == 1 and got[2] == 1
    assert got[3] == 2
    assert got[4] == 1


def test_session_stats_duration(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1),
        (1, _ts("2024-01-01 10:10:00"), 2),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    sess = TS.sessionize(df, "user_id", "ts", 1800, tiebreak_cols=("event_id",))
    stats = TS.session_stats(sess, "user_id", "ts").collect()
    assert len(stats) == 1
    assert stats[0]["n_events"] == 2
    assert stats[0]["duration_s"] == 600


def test_asof_join_inclusive_and_null(spark):
    probe = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100),  # tie with build at 10:00 → matched
            (1, _ts("2024-01-01 12:00:00"), 101),  # after both builds → latest (11:00)
            (2, _ts("2024-01-01 10:00:00"), 102),  # entity with no build rows → NULL
        ],
        "user_id long, ts timestamp, event_id long",
    )
    build = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00")), (1, _ts("2024-01-01 11:00:00"))],
        "user_id long, ts timestamp",
    )
    out = TS.asof_join(probe, build, "user_id", "ts", "ts", "asof_ts")
    got = {r["event_id"]: r["asof_ts"] for r in out.collect()}
    assert got[100] == _ts("2024-01-01 10:00:00")   # inclusive (>=)
    assert got[101] == _ts("2024-01-01 11:00:00")   # latest prior, not first
    assert got[102] is None


def test_asof_join_no_row_explosion(spark):
    # as-of must return exactly one row per probe row, even with many builds
    probe = spark.createDataFrame(
        [(1, _ts("2024-01-01 12:00:00"), i) for i in range(5)],
        "user_id long, ts timestamp, event_id long",
    )
    build = spark.createDataFrame(
        [(1, _ts(f"2024-01-01 10:0{i}:00")) for i in range(6)],
        "user_id long, ts timestamp",
    )
    out = TS.asof_join(probe, build, "user_id", "ts", "ts", "asof_ts")
    assert out.count() == 5


def test_time_spine_and_gapfill(spark):
    spine = TS.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-01 03:00:00", "1 hour", "bucket_ts"
    )
    assert spine.count() == 4  # inclusive bounds
    facts = spark.createDataFrame(
        [(_ts("2024-01-01 01:00:00"), 7)], "bucket_ts timestamp, n long"
    )
    out = TS.gapfill(spine, facts, "bucket_ts", ["n"]).orderBy("bucket_ts")
    vals = [r["n"] for r in out.collect()]
    assert vals == [0, 7, 0, 0]


def test_gapfill_plan_is_broadcast(spark):
    """The facts side is size-gated (round-10): an in-memory relation
    carries UNKNOWN Catalyst stats, so the static plan may be SMJ —
    the contract is that AQE promotes the join to broadcast at
    runtime from real sizes. Execute, then assert the FINAL adaptive
    plan used a broadcast join."""
    spine = TS.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-01 03:00:00", "1 hour", "bucket_ts"
    )
    facts = spark.createDataFrame(
        [(_ts("2024-01-01 01:00:00"), 7)], "bucket_ts timestamp, n long"
    )
    out = TS.gapfill(spine, facts, "bucket_ts", ["n"])
    out.collect()  # materialize so AQE finalizes the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_formulations_agree(spark):
    # the union-merge window formulation against a plain-Python replay of
    # the backward / inclusive rule: per probe row, the latest build ts of
    # the same user at or before the probe ts, else NULL
    import random

    rng = random.Random(7)
    probe_rows = [
        (rng.randint(1, 5), _ts(f"2024-01-01 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"), i)
        for i in range(40)
    ]
    build_rows = [
        (rng.randint(1, 5), _ts(f"2024-01-01 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"))
        for _ in range(40)
    ]
    probe = spark.createDataFrame(probe_rows, "user_id long, pt timestamp, event_id long")
    build = spark.createDataFrame(build_rows, "user_id long, bt timestamp")

    merge = TS.asof_join(probe, build, "user_id", "pt", "bt", "asof_ts")
    got_merge = {r["event_id"]: r["asof_ts"] for r in merge.collect()}

    want = {
        eid: max((bt for bu, bt in build_rows if bu == u and bt <= pt), default=None)
        for u, pt, eid in probe_rows
    }
    assert got_merge == want
    assert any(v is None for v in want.values()) and any(v is not None for v in want.values())


def test_ewma_matches_hand_rolled_weights(spark, sf_dir):
    # one key, values 0..11 -> full-window EWMA at the last row equals
    # the explicit geometric sum
    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, 1, float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    w = Window.partitionBy("user_id").orderBy("event_id")
    out = (
        df.select(
            "event_id",
            TS.ewma("value", ["user_id"], ["event_id"], alpha=0.5, window=10).alias("e"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 10)
        .collect()
    )
    assert len(out) == 3  # rows 9, 10, 11 have 9 full lags
    last = [r.e for r in sorted(out, key=lambda r: r.event_id)][-1]
    weights = [0.5**j for j in range(10)]
    expected = sum(w_ * (11 - j) for j, w_ in enumerate(weights)) / sum(weights)
    assert abs(last - expected) < 1e-12


def test_ewma_shares_one_window_exchange(spark, sf_dir):
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS
    from nyc_tlc_trip_data_pipelines_spark.plans import exchange_count
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = (
        e.select(
            "event_id",
            F.round(
                TS.ewma("value", ["user_id"], [F.col("ts"), F.col("event_id")]), 6
            ).alias("v"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 10)
    )
    assert exchange_count(out) == 1


def test_attribution_first_touch_window_semantics(spark):
    # user 1: view(day1) -> click(day2) -> purchase(day3): first touch
    # in the 7d window is the VIEW. user 2: only event older than 7d
    # before the purchase -> no touch, purchase drops out entirely.
    # user 3: tie on ts -> lower event_id wins.
    import datetime as dt

    from pyspark.sql import functions as F

    import __spark_entry__ as E

    t0 = dt.datetime(2024, 1, 10)

    def ts(days):
        return t0 + dt.timedelta(days=days)

    rows = [
        (1, ts(0), 1, "view", 1.0, "{}"),
        (2, ts(1), 1, "click", 1.0, "{}"),
        (3, ts(2), 1, "purchase", 1.0, "{}"),
        (4, ts(0), 2, "view", 1.0, "{}"),
        (5, ts(8), 2, "purchase", 1.0, "{}"),
        (6, ts(0), 3, "click", 1.0, "{}"),
        (7, ts(0), 3, "error", 1.0, "{}"),
        (8, ts(1), 3, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        out = {
            r.first_touch_type: (r.n_purchases, r.n_users)
            for r in E.q_attribution(spark, d).collect()
        }
    # user 1 -> view; user 2 -> dropped; user 3 -> click (id 6 < 7)
    assert out == {"view": (1, 1), "click": (1, 1)}


def test_markov_transitions_probabilities(spark):
    # user 1: A->B, B->A, A->B ; user 2: A->A. First events excluded.
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1, "A"),
        (1, _ts("2024-01-01 10:01:00"), 2, "B"),
        (1, _ts("2024-01-01 10:02:00"), 3, "A"),
        (1, _ts("2024-01-01 10:03:00"), 4, "B"),
        (2, _ts("2024-01-01 10:00:00"), 5, "A"),
        (2, _ts("2024-01-01 10:01:00"), 6, "A"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, state string")
    out = TS.markov_transitions(df, "state", ["user_id"], [F.col("ts"), F.col("event_id")])
    got = {(r.prev_state, r.state): (r.n_transitions, r.p_transition) for r in out.collect()}
    # from A: A->B twice, A->A once → P = 2/3, 1/3 ; from B: B->A once → P = 1
    assert got[("A", "B")] == (2, round(2 / 3, 6))
    assert got[("A", "A")] == (1, round(1 / 3, 6))
    assert got[("B", "A")] == (1, 1.0)
    assert len(got) == 3


def test_interpolate_linear_values_and_edges(spark):
    # t=0 v=10, t=10 NULL (→ midpoint-weighted), t=40 v=40;
    # leading NULL clamps forward, trailing NULL clamps backward.
    rows = [
        (1, 0.0, 1, 10.0),
        (1, 10.0, 2, None),   # 10 + (40-10)*(10/40) = 17.5
        (1, 40.0, 3, 40.0),
        (2, 0.0, 4, None),    # leading gap → next = 5.0
        (2, 1.0, 5, 5.0),
        (2, 2.0, 6, None),    # trailing gap → prev = 5.0
    ]
    df = spark.createDataFrame(rows, "user_id long, tu double, event_id long, v double")
    col = TS.interpolate_linear("v", "tu", ["user_id"], [F.col("tu"), F.col("event_id")])
    got = {r.event_id: r.out for r in df.select("event_id", col.alias("out")).collect()}
    assert got[1] == 10.0 and got[3] == 40.0          # non-null passthrough
    assert got[2] == 17.5
    assert got[4] == 5.0 and got[6] == 5.0            # edge clamps


def test_longest_streak_islands(spark):
    # user 1: days 1,2,3, 7,8, 20 -> streaks 3,2,1 ; user 2: 5 alone
    rows = [(1, d) for d in [1, 2, 3, 7, 8, 20, 2]] + [(2, 5)]  # dup day 2 collapses
    df = spark.createDataFrame(rows, "user_id long, day long")
    got = {r.user_id: r for r in
           TS.longest_streak(df, "user_id", F.col("day")).collect()}
    assert got[1].n_active_days == 6 and got[1].longest_streak == 3 and got[1].n_streaks == 3
    assert got[2].n_active_days == 1 and got[2].longest_streak == 1 and got[2].n_streaks == 1


def test_multi_touch_attribution_credit_conservation(spark):
    from datetime import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        multi_touch_attribution,
    )

    d = datetime
    rows = [
        # user 1: view 2 days before, click 1 day before -> purchase
        (1, 1, "view", d(2024, 1, 1, 12)),
        (2, 1, "click", d(2024, 1, 2, 12)),
        (3, 1, "purchase", d(2024, 1, 3, 12)),
        # user 2: single click 10 min before -> purchase
        (4, 2, "click", d(2024, 1, 5, 10, 0)),
        (5, 2, "purchase", d(2024, 1, 5, 10, 10)),
        # user 3: touch OUTSIDE the 7-day lookback -> no credit at all
        (6, 3, "view", d(2024, 1, 1)),
        (7, 3, "purchase", d(2024, 1, 20)),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts timestamp"
    )
    out = {r["event_type"]: r for r in multi_touch_attribution(df).collect()}
    # user 1: ages 2d and 1d -> weights 1/3, 1/2 -> shares 0.4, 0.6
    # user 2: single touch age 0 -> full credit 1.0 to click
    assert abs(out["view"]["credit"] - 0.4) < 1e-6
    assert abs(out["click"]["credit"] - (0.6 + 1.0)) < 1e-6
    assert out["click"]["n_conversions"] == 2
    # no purchase falls inside another purchase's lookback in this
    # fixture, so no 'purchase' channel row exists (NOTE: a prior
    # purchase within a later one's window WOULD earn credit as a
    # touch — that is by design, not excluded)
    assert "purchase" not in out
    # total credit == number of ATTRIBUTED conversions
    assert abs(sum(r["credit"] for r in out.values()) - 2.0) < 1e-5


def test_stl_decompose_recovers_planted_seasonality(spark):
    # synthetic hourly series: level 10, daily seasonal +5 at hour 0,
    # no trend — the decomposition must put the spike in SEASONAL,
    # keep trend ~flat, and leave residuals ~0
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for h in range(24 * 10):  # 10 full days
        t = base + datetime.timedelta(hours=h)
        v = 10.0 + (5.0 if h % 24 == 0 else 0.0)
        rows.append((t, v))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    rows_out = TS.stl_decompose(df, "ts", "value").collect()
    assert len(rows_out) == 240
    s0 = [r.seasonal for r in rows_out if r.phase == 0]
    s1 = [r.seasonal for r in rows_out if r.phase == 1]
    assert s0[0] > s1[0] + 3.0  # the planted spike lands in phase 0
    # additive identity holds exactly at the 6-dp grid
    for r in rows_out:
        assert abs((r.trend + r.seasonal + r.residual) - r.level) < 2e-6


def test_seasonal_naive_backtest_perfect_on_periodic_series(spark):
    # exactly 24h-periodic series -> forecast equals actual: sMAPE and
    # bias are 0.0 for every scored day; first (unforecastable) day
    # excluded
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (base + datetime.timedelta(hours=h), 10.0 + (h % 24))
        for h in range(24 * 5)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = TS.seasonal_naive_backtest(df, "ts", "value", period=24).collect()
    assert len(out) == 4  # 5 days minus the lag-seed day
    assert all(r.smape == 0.0 and r.bias == 0.0 and r.n_hours == 24 for r in out)

    # shift one hour by +2.4 -> exactly one day shows nonzero error,
    # and bias has the forecast-minus-actual sign
    rows2 = list(rows)
    idx = 24 * 2 + 5  # day 3, hour 5
    rows2[idx] = (rows2[idx][0], rows2[idx][1] + 2.4)
    df2 = spark.createDataFrame(rows2, "ts timestamp, value double")
    out2 = {str(r.day): r for r in TS.seasonal_naive_backtest(df2, "ts", "value").collect()}
    assert out2["2024-03-03"].bias < 0  # actual raised => forecast under
    assert out2["2024-03-04"].bias > 0  # next day forecasts the spike
    assert out2["2024-03-05"].bias == 0.0


def test_event_pattern_match_planted_sequences(spark):
    """Planted histories: a clean s->c->v->p funnel matches once; an
    error inside the span breaks the match; two disjoint funnels count
    twice; same-timestamp events order by the id tie-break."""
    from datetime import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        event_pattern_match,
    )

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: s c v p -> one match 'scvp'
        (1, t(0), "signup", 10),
        (1, t(1), "click", 11),
        (1, t(2), "view", 12),
        (1, t(3), "purchase", 13),
        # user 2: s c e p -> error breaks it, no match
        (2, t(0), "signup", 20),
        (2, t(1), "click", 21),
        (2, t(2), "error", 22),
        (2, t(3), "purchase", 23),
        # user 3: s p s c p -> two matches
        (3, t(0), "signup", 30),
        (3, t(1), "purchase", 31),
        (3, t(2), "signup", 32),
        (3, t(3), "click", 33),
        (3, t(4), "purchase", 34),
        # user 4: same ts, id order decides: signup(40) < purchase(41)
        (4, t(0), "signup", 40),
        (4, t(0), "purchase", 41),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string, event_id bigint"
    )
    out = {
        r["user"]: r
        for r in event_pattern_match(
            df, "user_id", "ts", "event_type", "event_id",
            {"signup": "s", "click": "c", "purchase": "p",
             "view": "v", "error": "e"},
            r"s[cv]*p",
        ).collect()
    }
    assert set(out) == {1, 3, 4}
    assert out[1]["n_matches"] == 1 and out[1]["first_match"] == "scvp"
    assert out[3]["n_matches"] == 2 and out[3]["first_match"] == "sp"
    assert out[4]["n_matches"] == 1 and out[4]["seq_len"] == 2


def test_seasonal_anomalies_planted_spike(spark):
    """A clean 24h-periodic series has ~zero residuals everywhere; one
    spiked hour must be the unique flagged bucket, with expected =
    trend + seasonal and score > 1."""
    from datetime import datetime, timedelta

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        seasonal_anomalies,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for h in range(24 * 14):  # 14 clean periodic days
        ts = base + timedelta(hours=h)
        v = 100.0 + 10.0 * (h % 24)
        if h == 24 * 7 + 5:  # one spiked hour mid-series
            v += 500.0
        rows.append((h, ts, v))
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double")
    out = seasonal_anomalies(df, "ts", "value", period=24, trend_halfwidth=12).collect()
    assert len(out) >= 1
    spiked = [r for r in out if r["bucket"] == base + timedelta(hours=24 * 7 + 5)]
    assert len(spiked) == 1
    r = spiked[0]
    assert r["anomaly_score"] is not None and r["anomaly_score"] > 1.0
    assert abs((r["expected"] + r["residual"]) - r["level"]) < 2e-6
    # the spike is the TOP anomaly
    assert r["anomaly_score"] == max(x["anomaly_score"] for x in out)


def test_cusum_changepoints_planted_shift(spark):
    """A level series with a sustained +3 shift halfway through: S+ must
    build up past the threshold after the shift (alarm=1) while the
    pre-shift half stays quiet; resets verified by the max(0, .) floor."""
    from datetime import datetime, timedelta

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        cusum_changepoints,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for h in range(200):
        v = 100.0 + (3.0 if h >= 100 else 0.0)
        rows.append((h, base + timedelta(hours=h), v))
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double")
    out = sorted(
        cusum_changepoints(df, "ts", "value", slack=1.0, threshold=8.0).collect(),
        key=lambda r: r["bucket"],
    )
    assert len(out) == 200
    # global mean = 101.5; pre-shift y_pos = -2.5/h -> S+ pinned at 0
    first_half = out[:100]
    assert all(r["cusum_pos"] == 0.0 for r in first_half)
    # the flat-low first half IS a sustained negative departure from the
    # global mean: S- builds at 1.5/h and alarms — correct CUSUM behavior
    assert max(r["cusum_neg"] for r in first_half) > 8.0
    # post-shift y_pos = +0.5/h: S+ = 0.5*(t-99), crossing 8.0 at t=116
    assert out[100]["cusum_pos"] == 0.5
    assert out[199]["cusum_pos"] == 50.0
    assert all(
        (r["alarm"] == 1) == (r["cusum_pos"] > 8.0 or r["cusum_neg"] > 8.0)
        for r in out
    )
    assert out[116]["cusum_pos"] > 8.0 and out[116]["alarm"] == 1


def test_conformal_forecast_intervals_periodic_with_eval_noise(spark):
    """A perfectly periodic calibration prefix gives qhat = 0; eval
    hours matching the season are covered, perturbed ones are not —
    coverage counts exactly the clean hours."""
    from datetime import datetime, timedelta

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        conformal_forecast_intervals,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for h in range(24 * 8):  # 8 days; first ~6 calibrate
        v = 50.0 + (h % 24)
        if h >= 24 * 7 and h % 24 in (3, 9):  # last day: 2 broken hours
            v += 7.0
        rows.append((h, base + timedelta(hours=h), v))
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double")
    out = {
        r["day"].isoformat(): r
        for r in conformal_forecast_intervals(
            df, "ts", "value", period=24, cal_frac=0.75, alpha=0.1
        ).collect()
    }
    # periodic calibration -> all residuals 0 -> qhat == 0.0
    assert all(r["qhat"] == 0.0 for r in out.values())
    last = out["2024-01-08"]
    assert last["n_eval"] == 24 and last["n_covered"] == 22
    assert abs(last["coverage"] - 22 / 24) < 1e-6
    clean = out["2024-01-07"]
    assert clean["n_covered"] == clean["n_eval"] and clean["coverage"] == 1.0


# ------------------------------------------------------------- round 8: KM
def test_km_survival_textbook_curve(spark):
    """Hand-checked product-limit curve: durations 1(event), 2(censor),
    3(event), 3(event), 5(censor) -> S(1)=0.8, S(3)=0.8*(1-2/3)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import km_survival
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1), (5, 0)], "dur int, e int"
    )
    rows = km_survival(df, F.col("dur"), F.col("e")).collect()
    # only event times appear
    assert [r["t"] for r in rows] == [1, 3]
    t1, t3 = rows
    assert (t1["n_risk"], t1["d_events"], t1["c_censored"]) == (5, 1, 0)
    assert abs(t1["survival"] - 0.8) < 1e-9
    assert (t3["n_risk"], t3["d_events"]) == (3, 2)
    assert abs(t3["survival"] - round(0.8 * (1 - 2 / 3), 6)) < 1e-6


def test_km_survival_zero_factor_and_keys(spark):
    """Everyone at risk dying at the last time step drives survival to
    exactly 0.0 (flag path, not ln(0)); per-key curves are independent."""
    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import km_survival
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("b", 1, 0), ("b", 2, 1)],
        "g string, dur int, e int",
    )
    out = {
        (r["g"], r["t"]): r["survival"]
        for r in km_survival(df, F.col("dur"), F.col("e"), keys=["g"]).collect()
    }
    assert out[("a", 1)] == 0.5
    assert out[("a", 2)] == 0.0          # 1 - 1/1 = 0 -> flagged dead
    assert out[("b", 2)] == 0.0          # b's only event wipes b's curve
    assert ("b", 1) not in out           # censoring-only time emits no row


# ------------------------------------------------------------ round 8: ACF
def test_autocorrelation_alternating_series(spark):
    """x = 1,2,1,2,... at hourly grain: r_1 = -(n-1)/n exactly (every
    lag-1 product is -0.25, denominator 0.25*n); r_2 = +(n-2)/n."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        autocorrelation,
    )

    base = datetime.datetime(2024, 1, 1)
    n = 48
    rows = [
        (base + datetime.timedelta(hours=i), 1.0 if i % 2 == 0 else 2.0)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["lag"]: r for r in autocorrelation(df, "ts", "value", 3600, 3).collect()}
    assert out[1]["n_pairs"] == n - 1
    assert abs(out[1]["acf"] - round(-(n - 1) / n, 6)) < 1e-6
    assert abs(out[2]["acf"] - round((n - 2) / n, 6)) < 1e-6


def test_autocorrelation_constant_series_null(spark):
    """Zero variance -> NULL acf (no division blowup)."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        autocorrelation,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(hours=i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = autocorrelation(df, "ts", "value", 3600, 2).collect()
    assert all(r["acf"] is None for r in out)


def test_cross_correlation_shifted_signal(spark):
    """y is x shifted 2 hours later: ccf peaks at lag +2 (near 1.0)
    and is weak at the other lags; n_pairs shrinks with |lag|."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        cross_correlation,
    )
    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    n = 48
    # x_t = t % 5; y_t = (t-2) % 5  (exact 2-hour lag of x)
    rows = [
        (base + datetime.timedelta(hours=t), float(t % 5), float((t - 2) % 5))
        for t in range(n)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, x double, y double")
    out = {r["lag"]: r for r in cross_correlation(
        df, "ts", F.col("x"), F.col("y"), 3600, 3).collect()}
    assert set(out) == set(range(-3, 4))
    assert out[2]["ccf"] is not None and out[2]["ccf"] > 0.95
    assert all(out[k]["ccf"] < 0.5 for k in (-1, 0, 1) if out[k]["ccf"] is not None)
    assert out[3]["n_pairs"] == n - 3 and out[-3]["n_pairs"] == n - 3


def test_cross_correlation_zero_variance_null(spark):
    """Constant y -> NULL ccf at every lag."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        cross_correlation,
    )
    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(hours=t), float(t), 3.0) for t in range(12)]
    df = spark.createDataFrame(rows, "ts timestamp, x double, y double")
    out = cross_correlation(df, "ts", F.col("x"), F.col("y"), 3600, 2).collect()
    assert all(r["ccf"] is None for r in out)


def test_logrank_identical_groups_zero_chi2(spark):
    """Identical survival experiences in both groups -> O = E exactly
    and chi2 = 0."""
    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import logrank_test
    from pyspark.sql import functions as F

    rows = [(g, t, e) for g in ("a", "b") for t, e in [(1, 1), (2, 1), (3, 0)]]
    df = spark.createDataFrame(rows, "g string, dur int, e int")
    r = logrank_test(df, F.col("dur"), F.col("e"), F.col("g"), "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["o_a"] == 2 and abs(r["e_a"] - 2.0) < 1e-6
    assert r["chi2"] == 0.0


def test_logrank_separated_groups_large_chi2(spark):
    """Group a all fails early, group b all censored late -> observed
    far from expected, chi2 well above the 3.84 threshold."""
    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import logrank_test
    from pyspark.sql import functions as F

    rows = [("a", t, 1) for t in range(1, 9)] + [("b", 20, 0)] * 8
    df = spark.createDataFrame(rows, "g string, dur int, e int")
    r = logrank_test(df, F.col("dur"), F.col("e"), F.col("g"), "a", "b").collect()[0]
    assert r["o_a"] == 8
    assert r["e_a"] < 6.0          # many b at risk at every event time
    assert r["chi2"] > 3.84


def test_logrank_empty_cohort(spark):
    """Round-9 (verdict item 8): one cohort entirely absent -> no
    event time has both groups at risk -> zero variance -> NULL chi2
    (the documented contract), never a division error."""
    from pyspark.sql import functions as F
    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import logrank_test

    df = spark.createDataFrame(
        [(5, 1, "a"), (7, 1, "a"), (9, 0, "a")],
        "dur int, ev int, grp string",
    )
    out = logrank_test(
        df, F.col("dur"), F.col("ev"), F.col("grp"), "a", "b"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 3 and r["n_b"] == 0
    assert r["chi2"] is None

"""Wave-4 operators: association rules, PMI collocations, rolling
distinct, Welch t-test, simhash Hamming pairs, binned quantile rollup,
checksum table diff.

Edge cases on tiny inline frames: known-by-hand rule metrics, PMI of an
always-together pair vs a never-together pair, window boundaries of the
trailing distinct count, Welch vs a hand-computed two-sample case,
pigeonhole recall of the block join, quantile interpolation inside a
bin, and equal tables producing an EMPTY diff.
"""

from __future__ import annotations

import math
from datetime import datetime

import pyspark.sql.functions as F
import pytest

from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg
from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ
from nyc_tlc_trip_data_pipelines_spark.operators import mining as MN
from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- assoc rules


def test_assoc_rules_metrics(spark):
    # 4 baskets: {a,b} {a,b} {a,c} {b}
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"), (4, "b")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in MN.assoc_rules(df, "basket", "item", min_pair_count=1).collect()
    }
    ab = out[("a", "b")]
    assert ab["n_ab"] == 2
    assert ab["support"] == 0.5          # 2/4
    assert ab["conf_a_b"] == pytest.approx(2 / 3)   # n_a=3
    assert ab["conf_b_a"] == pytest.approx(2 / 3)   # n_b=3
    assert ab["lift"] == pytest.approx(2 * 4 / (3 * 3), abs=1e-6)
    assert ("a", "c") in out and out[("a", "c")]["n_ab"] == 1


def test_assoc_rules_dedups_repeated_items(spark):
    # item repeated in a basket must count once
    rows = [(1, "a"), (1, "a"), (1, "b")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = MN.assoc_rules(df, "basket", "item", min_pair_count=1).collect()
    assert len(out) == 1 and out[0]["n_ab"] == 1


def test_assoc_rules_min_count_filters(spark):
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = MN.assoc_rules(df, "basket", "item", min_pair_count=2).collect()
    assert out == []


# ---------------------------------------------------------------- PMI


def test_collocations_pmi_signs(spark):
    # x and y always together in 2 of 4 docs; x and z never together
    docs = [
        (1, "x y"),
        (2, "x y"),
        (3, "z w"),
        (4, "z w"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["tok_a"], r["tok_b"]): r["pmi"]
        for r in MN.collocations_pmi(df, min_df=1, min_pair_df=1).collect()
    }
    # pmi(x,y) = ln(2*4/(2*2)) = ln 2 > 0
    assert out[("x", "y")] == pytest.approx(math.log(2), abs=1e-6)
    assert ("x", "z") not in out  # never co-occur → no pair row


def test_collocations_df_prune(spark):
    docs = [(1, "common rare"), (2, "common other")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = MN.collocations_pmi(df, min_df=2, min_pair_df=1).collect()
    # only 'common' survives min_df=2, and a single token makes no pair
    assert out == []


# ---------------------------------------------------------------- rolling distinct


def test_rolling_distinct_window_boundaries(spark):
    rows = [
        (_ts("2024-01-01 10:00:00"), 1),
        (_ts("2024-01-01 11:00:00"), 1),   # same user same day counts once
        (_ts("2024-01-05 10:00:00"), 2),
        (_ts("2024-01-08 10:00:00"), 3),   # day 8: day 1 is 7 days back → OUT
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = {
        r["target_day"].isoformat(): r["active_entities"]
        for r in TS.rolling_distinct_count(df, "ts", "user_id", 7).collect()
    }
    assert out["2024-01-01"] == 1
    assert out["2024-01-05"] == 2          # users 1 and 2 within [dec30..jan5]
    assert out["2024-01-08"] == 2          # users 2,3; user 1 aged out


# ---------------------------------------------------------------- Welch t-test


def test_welch_ttest_hand_case(spark):
    # A = [1,2,3], B = [2,4,6,8]: computed with scipy semantics by hand
    rows = [("g", v, True) for v in (1.0, 2.0, 3.0)] + [
        ("g", v, False) for v in (2.0, 4.0, 6.0, 8.0)
    ]
    df = spark.createDataFrame(rows, "k string, v double, a boolean")
    out = agg.welch_ttest(
        df, ["k"], F.round(F.col("v") * 100, 0), F.col("a")
    ).collect()[0]
    ma, mb = 2.0, 5.0
    va, vb = 1.0, 20.0 / 3.0
    se2 = va / 3 + vb / 4
    t = (ma - mb) / math.sqrt(se2)
    dof = se2**2 / ((va / 3) ** 2 / 2 + (vb / 4) ** 2 / 3)
    assert out["n_a"] == 3 and out["n_b"] == 4
    # values are in centi-units: means scale by 100, t/df are scale-free
    assert out["mean_a"] == pytest.approx(100 * ma)
    assert out["t_stat"] == pytest.approx(t, abs=1e-5)
    assert out["welch_df"] == pytest.approx(dof, abs=1e-5)


def test_welch_ttest_degenerate_group(spark):
    rows = [("g", 1.0, True), ("g", 2.0, False), ("g", 3.0, False)]
    df = spark.createDataFrame(rows, "k string, v double, a boolean")
    out = agg.welch_ttest(df, ["k"], F.col("v") * 100, F.col("a")).collect()[0]
    assert out["t_stat"] is None and out["welch_df"] is None  # n_a < 2


# ---------------------------------------------------------------- simhash hamming


def test_simhash_hamming_finds_identical_docs(spark):
    docs = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zzz qqq xxx uvw")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = TX.simhash_hamming_pairs(df, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs.get((1, 2)) == 0
    assert all(h <= 3 for h in pairs.values())


def test_simhash_hamming_pair_dedup(spark):
    # identical docs share ALL 4 blocks; the pair must still appear once
    docs = [(1, "same text here"), (2, "same text here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = TX.simhash_hamming_pairs(df, max_hamming=3).collect()
    assert len(out) == 1


# ---------------------------------------------------------------- quantile rollup


def test_binned_quantile_interpolation(spark):
    # 10 values uniform in bin 0 ([0,16)): p50 lands mid-bin
    rows = [("t", 1, float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "k string, wk int, v double")
    out = agg.binned_quantile_rollup(
        df, ["k", "wk"], ["k"], F.col("v"), lo=0.0, width=16.0, n_bins=32,
        quantiles=(0.5,),
    ).collect()[0]
    # all 10 rows in bin 0: est = (0 + (5 - 0)/10) * 16 = 8.0
    assert out["p50_est"] == pytest.approx(8.0)
    assert out["n_rows"] == 10


def test_binned_quantile_rollup_merges_fine_grains(spark):
    # same data split across two weeks must equal the single-grain answer
    rows = [("t", wk, float(v)) for wk in (1, 2) for v in range(32)]
    df = spark.createDataFrame(rows, "k string, wk int, v double")
    two = agg.binned_quantile_rollup(
        df, ["k", "wk"], ["k"], F.col("v"), 0.0, 4.0, 8, (0.5, 0.95)
    ).collect()[0]
    one = agg.binned_quantile_rollup(
        df.withColumn("wk", F.lit(0)), ["k", "wk"], ["k"], F.col("v"), 0.0, 4.0, 8,
        (0.5, 0.95),
    ).collect()[0]
    assert two["p50_est"] == one["p50_est"]
    assert two["p95_est"] == one["p95_est"]


# ---------------------------------------------------------------- checksum diff


def test_checksum_diff_equal_tables_empty(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = DQ.checksum_diff(df, df.orderBy(F.desc("id")), ["id", "s"]).collect()
    assert out == []  # order-independent


def test_checksum_diff_localizes_missing_row(spark):
    rows = [(i, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s string")
    damaged = df.where(F.col("id") != 42)
    out = DQ.checksum_diff(df, damaged, ["id", "s"], n_buckets=8).collect()
    assert len(out) == 1
    assert out[0]["row_delta"] == 1
    assert out[0]["n_rows_left"] == out[0]["n_rows_right"] + 1


# ---------------------------------------------------------------- minhash accuracy


def test_minhash_accuracy_identical_docs(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different content with no overlap at all zz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r for r in TX.minhash_accuracy(df).collect()}
    pair = out[(1, 2)]
    assert pair["est_jaccard"] == 1.0
    assert pair["exact_jaccard"] == 1.0
    assert pair["abs_err"] == 0.0


def test_minhash_accuracy_err_is_est_minus_exact(spark):
    docs = [
        (1, "aaaa bbbb cccc dddd eeee ffff"),
        (2, "aaaa bbbb cccc dddd eeee xxxx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = TX.minhash_accuracy(df).collect()
    for r in rows:
        assert r["abs_err"] == pytest.approx(
            abs(r["est_jaccard"] - r["exact_jaccard"]), abs=1e-6
        )
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 < r["exact_jaccard"] <= 1.0


def test_minhash_portable_signatures_differ_from_default_but_same_shape(spark):
    text = "some text for hashing goes here"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    h1 = sorted(r["h"] for r in TX.shingle_hashes(df).collect())
    h2 = sorted(r["h"] for r in TX.shingle_hashes(df, portable=True).collect())
    # one hash per char-5 shingle position, reduced mod the Mersenne prime
    assert len(h1) == len(h2) == len(text) - 4
    assert all(0 <= v < 2147483647 for v in h1 + h2)
    # the whole point of portable=True is a DIFFERENT shingle hash
    # (md5-60 vs xxhash64) — a no-op regression must fail here
    assert h1 != h2


def test_mutual_information_dependent_and_independent(spark):
    import math

    from nyc_tlc_trip_data_pipelines_spark.operators.mining import (
        mutual_information,
    )

    # perfectly dependent: X == Y over two symbols -> I(X;Y) = ln 2
    dep = spark.createDataFrame(
        [("a", "a")] * 5 + [("b", "b")] * 5, "x1 string, y1 string"
    )
    cells = mutual_information(dep, "x1", "y1").collect()
    mi = sum(r["mi_contrib"] for r in cells)
    assert abs(mi - math.log(2)) < 1e-6
    assert all(abs(r["pmi"] - math.log(2)) < 1e-6 for r in cells)
    # independent uniform grid -> every pmi contribution is 0
    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(3)],
        "x1 string, y1 string",
    )
    cells = mutual_information(indep, "x1", "y1").collect()
    assert all(r["pmi"] == 0.0 and r["mi_contrib"] == 0.0 for r in cells)


def test_dp_noise_keys_distinguish_nulls(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.privacy import (
        dp_noisy_counts,
    )

    # ('a', NULL) vs (NULL, 'a') must receive DIFFERENT noise draws —
    # concat_ws alone would collapse both keys to 'a' and shared noise
    # lets a reader difference the releases into exact counts
    df = spark.createDataFrame(
        [("a", None)] * 5 + [(None, "a")] * 5, "k1 string, k2 string"
    )
    rows = dp_noisy_counts(df, ["k1", "k2"]).collect()
    assert len(rows) == 2
    noise = {(r["k1"], r["k2"]): r["n_released"] - r["n_true"] for r in rows}
    vals = list(noise.values())
    assert abs(vals[0] - vals[1]) > 1e-9


def test_classifier_eval_confusion_metrics(spark):
    """Hand-checkable confusion table, including a never-predicted
    class (recall 0, NULL precision) and a hallucinated class
    (precision 0, NULL recall)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.mining import classifier_eval

    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),   # a: 2 tp + 1 fn-to-b
        ("b", "b"), ("b", "b"),               # b: 2 tp
        ("c", "b"),                           # c: never predicted (b gets 4 preds)
        ("a", "x"),                           # x: hallucinated (a has 4 actuals)
    ]
    df = spark.createDataFrame(rows, "actual string, predicted string")
    out = {r["cls"]: r for r in classifier_eval(df).collect()}
    assert set(out) == {"a", "b", "c", "x"}
    a = out["a"]
    assert (a["n_actual"], a["n_predicted"], a["tp"]) == (4, 2, 2)
    assert a["precision"] == 1.0 and abs(a["recall"] - 0.5) < 1e-9
    assert abs(a["f1"] - 2 * 2 / (4 + 2)) < 1e-6
    b = out["b"]
    assert (b["n_actual"], b["n_predicted"], b["tp"]) == (2, 4, 2)
    c = out["c"]
    assert c["n_predicted"] == 0 and c["precision"] is None and c["recall"] == 0.0
    x = out["x"]
    assert x["n_actual"] == 0 and x["recall"] is None and x["precision"] == 0.0


def test_calibration_bins_reliability_and_ece(spark):
    """Scores 0..9 (min-max -> conf 0..1), correct iff score >= 5:
    bins are exact integer cells; hand-check accuracy/avg_conf/ece."""
    from nyc_tlc_trip_data_pipelines_spark.operators.mining import calibration_bins

    rows = [(float(s), 1 if s >= 5 else 0) for s in range(10)]
    df = spark.createDataFrame(rows, "score double, correct int")
    out = {r["bin"]: r for r in calibration_bins(df, n_bins=10).collect()}
    # spread = 9 -> conf_q = s*1e6/9 (floor); score 9 -> conf 1.0 -> bin 9
    assert set(out) <= set(range(10)) and 9 in out and 0 in out
    assert out[0]["accuracy"] == 0.0 and out[9]["accuracy"] == 1.0
    assert out[0]["avg_conf"] == 0.0 and out[9]["avg_conf"] == 1.0
    # single ece value repeated on every row
    assert len({r["ece"] for r in out.values()}) == 1
    assert 0.0 <= out[0]["ece"] <= 1.0


def test_calibration_bins_degenerate_scores(spark):
    """All-equal scores -> one bin 0 with avg_conf 0, no div-by-zero."""
    from nyc_tlc_trip_data_pipelines_spark.operators.mining import calibration_bins

    df = spark.createDataFrame([(2.5, 1), (2.5, 0)], "score double, correct int")
    out = calibration_bins(df, n_bins=10).collect()
    assert len(out) == 1 and out[0]["bin"] == 0
    assert out[0]["avg_conf"] == 0.0 and out[0]["accuracy"] == 0.5


def test_sequential_pairs_order_and_support(spark):
    """Hand-built histories: first-occurrence order decides the pair;
    repeats don't double-count; support = share of ALL entities."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.mining import sequential_pairs

    t0 = datetime.datetime(2024, 1, 1)

    def ev(u, i, typ, minutes):
        return (u, i, typ, t0 + datetime.timedelta(minutes=minutes))

    rows = [
        # u1: a -> b -> a (repeat of a ignored for first-occurrence)
        ev(1, 1, "a", 0), ev(1, 2, "b", 5), ev(1, 3, "a", 9),
        # u2: b -> a (reverse order)
        ev(2, 4, "b", 0), ev(2, 5, "a", 1),
        # u3: only a (no pair)
        ev(3, 6, "a", 0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string, ts timestamp")
    out = {
        (r["item_a"], r["item_b"]): (r["n_entities"], r["support"])
        for r in sequential_pairs(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    assert out[("a", "b")] == (1, round(1 / 3, 6))
    assert out[("b", "a")] == (1, round(1 / 3, 6))
    assert len(out) == 2


def test_sequential_pairs_tiebreak_same_timestamp(spark):
    """Two first occurrences at the SAME timestamp order by the
    tiebreak column — deterministic, never dropped."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.mining import sequential_pairs

    t = datetime.datetime(2024, 1, 1)
    rows = [(1, 10, "x", t), (1, 11, "y", t)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string, ts timestamp")
    out = {(r["item_a"], r["item_b"]) for r in
           sequential_pairs(df, "user_id", "ts", "event_type", "event_id").collect()}
    assert out == {("x", "y")}   # event_id 10 < 11


def test_top_paths_prefix_cap_and_ranking(spark):
    """Paths truncate at prefix_len; identical journeys aggregate;
    (count DESC, path ASC) ordering with the cap respected."""
    import datetime

    from nyc_tlc_trip_data_pipelines_spark.operators.mining import top_paths

    t0 = datetime.datetime(2024, 1, 1)

    def hist(u, types):
        return [
            (u, u * 100 + i, typ, t0 + datetime.timedelta(minutes=i))
            for i, typ in enumerate(types)
        ]

    rows = (
        hist(1, ["s", "c", "p"]) + hist(2, ["s", "c", "p"])   # 2 users: s>c>p
        + hist(3, ["s", "v"])                                  # 1 user: s>v
        + hist(4, ["a", "b", "c", "d", "e", "f", "g"])         # truncates to 5
    )
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string, ts timestamp")
    out = top_paths(df, "user_id", "ts", "event_type", "event_id",
                    prefix_len=5, top_n=10).collect()
    assert (out[0]["path"], out[0]["n_entities"]) == ("s>c>p", 2)
    got = {r["path"]: (r["n_entities"], r["path_len"]) for r in out}
    assert got["a>b>c>d>e"] == (1, 5)   # capped at 5 steps
    assert got["s>v"] == (1, 2)
    assert len(out) == 3


def test_item_cf_cosine_and_topk(spark):
    """Hand-built baskets: sim = c_ab/sqrt(c_a*c_b) exactly; top-k
    orders (sim DESC, neighbor ASC); min_pair_count prunes."""
    from nyc_tlc_trip_data_pipelines_spark.operators.mining import item_cf_neighbors

    # baskets: {a,b} x2, {a,c} x1  -> c_a=3, c_b=2, c_c=1
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = item_cf_neighbors(df, "basket", "item", min_pair_count=1, k=5).collect()
    got = {(r["item"], r["neighbor"]): (r["n_common"], r["sim"], r["rank"]) for r in out}
    import math
    assert got[("a", "b")] == (2, round(2 / math.sqrt(3 * 2), 6), 1)
    assert got[("a", "c")] == (1, round(1 / math.sqrt(3 * 1), 6), 2)
    assert got[("b", "a")][2] == 1 and got[("c", "a")][2] == 1
    assert ("b", "c") not in got          # never co-bought
    # min_pair_count=2 drops the single a-c co-occurrence
    out2 = item_cf_neighbors(df, "basket", "item", min_pair_count=2, k=5).collect()
    assert {(r["item"], r["neighbor"]) for r in out2} == {("a", "b"), ("b", "a")}


def test_item_cf_single_item_baskets(spark):
    """Round-9 (verdict item 8): baskets with one item generate no
    pairs -> empty neighbor table, stable schema, no error."""
    from nyc_tlc_trip_data_pipelines_spark.operators.mining import item_cf_neighbors

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "a")], "basket int, item string"
    )
    out = item_cf_neighbors(df, "basket", "item", min_pair_count=1, k=5)
    assert out.columns == ["item", "neighbor", "n_common", "sim", "rank"]
    assert out.count() == 0

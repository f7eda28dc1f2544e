"""Property-based tests (hypothesis) for scalar helpers and operator
equivalences (SURVEY.md §5.2 item 4)."""

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark import io as IO
from nyc_tlc_trip_data_pipelines_spark.io import prune_files_by_month
from nyc_tlc_trip_data_pipelines_spark.pipeline import month_bounds


@given(st.integers(2000, 2099), st.integers(1, 12), st.integers(0, 72))
def test_month_bounds_properties(year, month, tol):
    lo, hi = month_bounds(year, month, tolerance_hours=tol)
    lo_dt = datetime.strptime(lo, "%Y-%m-%d %H:%M:%S")
    hi_dt = datetime.strptime(hi, "%Y-%m-%d %H:%M:%S")
    month_start = datetime(year, month, 1)
    # lower bound is exactly tolerance before month start
    assert month_start - lo_dt == timedelta(hours=tol)
    # upper bound is the first instant of the next month
    assert hi_dt.day == 1 and hi_dt.hour == 0 and hi_dt.minute == 0
    assert (hi_dt.year, hi_dt.month) == (year + 1, 1) if month == 12 else (hi_dt.year, hi_dt.month) == (year, month + 1)
    assert lo_dt < hi_dt


@given(
    st.lists(st.tuples(st.integers(2020, 2030), st.integers(1, 12)), max_size=30),
    st.integers(2020, 2030),
    st.integers(1, 12),
    st.integers(2020, 2030),
    st.integers(1, 12),
)
@settings(max_examples=50)
def test_prune_files_by_month_window(months, y1, m1, y2, m2):
    files = [f"/data/yellow_tripdata_{y}-{m:02d}.parquet" for y, m in months]
    start, end = f"{y1}-{m1:02d}", f"{y2}-{m2:02d}"
    kept = prune_files_by_month(files, start, end)
    for f in files:
        ym = f.split("_")[-1].removesuffix(".parquet")
        assert (f in kept) == (start <= ym <= end)


@given(st.lists(st.text(alphabet="ab c\t\nx", max_size=12), max_size=8))
@settings(max_examples=20, deadline=None)
def test_tokenize_matches_python_split(spark, texts):
    from nyc_tlc_trip_data_pipelines_spark.operators.text import tokenize

    df = spark.createDataFrame([(t,) for t in texts] or [("",)], "text string")
    got = [r.t for r in df.select(tokenize("text").alias("t")).collect()]
    expect = [t.lower().split() for t in (texts or [""])]
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))


@given(st.lists(st.tuples(st.integers(0, 1023), st.integers(0, 1023)), min_size=1, max_size=32))
@settings(max_examples=10, deadline=None)
def test_zorder_key_is_injective_and_pure_python_checkable(spark, xys):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.layout import zorder_key

    def morton(x, y, bits=10):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(list(set(xys)), "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y"), bits=10).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == morton(x, y)
    assert len(set(got.values())) == len(got)  # injective on distinct inputs


@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.integers(1, 9), st.sampled_from("IUD")),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=10, deadline=None)
def test_cdc_apply_matches_sequential_replay(spark, oplog):
    from nyc_tlc_trip_data_pipelines_spark.operators.sorts import cdc_apply

    # sequential replay semantics: apply ops in (seq, op) order per key;
    # whatever op is last decides survival
    final: dict[int, str] = {}
    for key, seq, op in sorted(oplog, key=lambda t: (t[1], t[2])):
        final[key] = op
    expect = {k for k, o in final.items() if o != "D"}

    df = spark.createDataFrame(
        [(k, float(s * 10), o, s) for k, s, o in oplog],
        "k bigint, bal double, op string, seq int",
    )
    got = {r.k for r in cdc_apply(df, ["k"], "seq").collect()}
    assert got == expect


@given(st.lists(st.text(alphabet="abc xy", min_size=1, max_size=20), min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_repetition_ratio_bounds(spark, texts):
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import repetition_profile

    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], "doc_id bigint, text string, lang string"
    )
    for r in repetition_profile(df).collect():
        assert 0.0 <= r.rep_ratio < 1.0
        assert 1 <= r.n_distinct <= r.n_grams
        assert r.max_gram_count >= 1


_word = st.sampled_from(["aa", "bb", "cc", "dd", "ab", "ba", "cd", "dc"])
_doc = st.lists(_word, min_size=3, max_size=10).map(" ".join)


@given(
    st.lists(_doc, min_size=2, max_size=6),
    # 0.55 / 0.67 sit on float-ceil edges (0.55*20 → 11.000000000000002):
    # they pin the _FILTER_EPS permissive-pruning fix
    st.sampled_from([0.2, 0.5, 0.55, 0.67, 0.8]),
)
@settings(max_examples=15, deadline=None)
def test_jaccard_prefix_filter_is_exact_on_random_corpora(spark, docs, t):
    # the PPJoin prefix filter must be invisible in the OUTPUT for any
    # corpus and threshold: results == all-pairs brute force, always
    from nyc_tlc_trip_data_pipelines_spark.operators.text import jaccard_ngram_pairs

    n = 2
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")

    def grams(s):
        toks = s.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            A, B = grams(docs[i]), grams(docs[j])
            if A and B:
                jac = len(A & B) / len(A | B)
                if jac >= t:
                    expect[(i, j)] = round(jac, 6)
    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_ngram_pairs(df, n=n, threshold=t).collect()}
    assert got == expect


@given(st.lists(_doc, min_size=2, max_size=5), st.sampled_from([0.3, 0.6]))
@settings(max_examples=10, deadline=None)
def test_containment_posting_formulation_matches_brute_force(spark, docs, t):
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import containment_pairs

    k = 3
    df = spark.createDataFrame(
        [(i, d, "en") for i, d in enumerate(docs)], "doc_id long, text string, lang string"
    )

    def shingles(s):
        s = s.lower()
        return {s[i : i + k] for i in range(len(s) - k + 1)} if len(s) >= k else set()

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            A, B = shingles(docs[i]), shingles(docs[j])
            if A and B:
                common = len(A & B)
                ca, cb = round(common / len(A), 6), round(common / len(B), 6)
                if max(ca, cb) >= t and common > 0:
                    expect[(i, j)] = (ca, cb)
    got = {
        (r.id_a, r.id_b): (r.containment_a, r.containment_b)
        for r in containment_pairs(df, shingle_k=k, threshold=t).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_triangle_count_matches_brute_force(spark, raw_edges):
    """Degree-ordered triangle counting must equal the O(n^3) brute
    force on arbitrary small graphs (duplicates, self-loops, reversed
    edges included in the input)."""
    from itertools import combinations

    from nyc_tlc_trip_data_pipelines_spark.operators.graph import triangle_count

    adj: set[tuple[int, int]] = set()
    for a, b in raw_edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes = sorted({n for e in adj for n in e})
    expect: dict[int, int] = {}
    for x, y, z in combinations(nodes, 3):
        if ((x, y) in adj) and ((y, z) in adj) and ((x, z) in adj):
            for n in (x, y, z):
                expect[n] = expect.get(n, 0) + 1

    df = spark.createDataFrame(raw_edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == expect


@given(st.integers(1, 6), st.integers(0, 3))
@settings(max_examples=8, deadline=None)
def test_versioned_append_delete_cdf_roundtrip(spark, tmp_path_factory, n_rows, n_del):
    """Property: for any append + delete, table_changes(v_pre, v_post)
    is exactly the deleted rows, and replaying the feed backwards
    (insert the deletes) restores the pre-delete multiset."""
    from nyc_tlc_trip_data_pipelines_spark import io as IO
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("vt") / "t")
    df = spark.createDataFrame([(i, i % 2) for i in range(n_rows)], "k long, g long")
    IO.append_versioned(df, path, "b1")
    v_pre = IO.list_versions(path)[-1][0]
    v_post = IO.delete_where(spark, path, F.col("k") < n_del)
    feed = IO.table_changes(spark, path, v_pre, v_post)
    deleted = sorted((r.k, r.g) for r in feed.filter("_change_type = 'delete'").collect())
    assert deleted == [(i, i % 2) for i in range(min(n_del, n_rows))]
    assert feed.filter("_change_type = 'insert'").count() == 0
    restored = IO.read_version(spark, path).unionByName(
        feed.filter("_change_type = 'delete'").drop("_change_type")
    )
    assert sorted((r.k, r.g) for r in restored.collect()) == sorted(
        (r.k, r.g) for r in df.collect()
    )


def test_bfs_hops_matches_dijkstra_on_random_graph():
    # property: frontier BFS == single-source shortest hop count
    # computed by a reference BFS in plain Python, on a seeded graph
    import random

    from nyc_tlc_trip_data_pipelines_spark.operators.graph import bfs_hops
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    rng = random.Random(7)
    n = 60
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    # reference BFS from node 0
    from collections import deque

    dist = {0: 0}
    dq = deque([0])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    expected = {k: v for k, v in dist.items() if v <= 12}

    spark = get_spark("engine-tests")
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(e, seeds, max_hops=12).collect()}
    assert got == expected


@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=60, unique=True),
    st.lists(st.integers(0, 500), min_size=1, max_size=200),
)
@settings(max_examples=12, deadline=None)
def test_bloom_prefilter_never_drops_members(spark, dim_keys, big_keys):
    from nyc_tlc_trip_data_pipelines_spark.operators import joins as J

    big = spark.createDataFrame([(k,) for k in big_keys], "k long")
    dim = spark.createDataFrame([(k,) for k in dim_keys], "d long")
    kept = [r.k for r in J.bloom_prefilter(big, "k", dim, "d", min_big_bytes=0).collect()]
    members = [k for k in big_keys if k in set(dim_keys)]
    # multiset inclusion: every member row survives, duplicates intact
    from collections import Counter
    ck, cm = Counter(kept), Counter(members)
    assert all(ck[k] >= cm[k] for k in cm)


@given(
    st.lists(st.tuples(st.integers(0, 90), st.integers(1, 30)), min_size=1, max_size=40),
    st.lists(st.integers(0, 130), min_size=1, max_size=80),
    st.sampled_from([5, 10, 32]),
)
@settings(max_examples=10, deadline=None)
def test_interval_bucket_join_equals_theta_join(spark, ivs, pts, width):
    from nyc_tlc_trip_data_pipelines_spark.operators import joins as J

    iv = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(ivs)], "iid long, s long, e long"
    )
    pt = spark.createDataFrame(list(enumerate(pts)), "pid long, p long")
    got = {(r.iid, r.pid) for r in
           J.interval_bucket_join(iv, pt, "s", "e", "p", bucket_width=width).collect()}
    expected = {(i, j) for i, (s, d) in enumerate(ivs)
                for j, p in enumerate(pts) if s <= p < s + d}
    assert got == expected


@given(st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=60))
@settings(max_examples=15, deadline=None)
def test_skyline_matches_brute_force(spark, pts):
    from nyc_tlc_trip_data_pipelines_spark.operators import windows as W

    df = spark.createDataFrame([(x, float(y)) for x, y in pts], "x int, y double")
    got = {(r.x, r.y) for r in W.skyline_2d(df, "x", "y").collect()}
    uniq = set(pts)
    brute = {
        (x, float(y))
        for x, y in uniq
        if not any(
            (qx >= x and qy >= y and (qx > x or qy > y)) for qx, qy in uniq
        )
    }
    assert got == brute


@given(st.lists(st.tuples(st.booleans(), st.floats(0, 100, allow_nan=False)), min_size=1, max_size=40))
@settings(max_examples=15, deadline=None)
def test_interpolate_bounded_by_neighbours(spark, rows):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    data = [(1, float(i), i, v if keep else None) for i, (keep, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g long, tu double, i long, v double")
    col = TS.interpolate_linear("v", "tu", ["g"], [F.col("tu"), F.col("i")])
    out = df.select("i", "v", col.alias("filled")).collect()
    known = [r.v for r in out if r.v is not None]
    if not known:
        assert all(r.filled is None for r in out)
        return
    lo, hi = min(known), max(known)
    for r in out:
        if r.v is not None:
            assert r.filled == r.v          # passthrough
        else:
            assert lo - 1e-9 <= r.filled <= hi + 1e-9   # convex blend stays in range


@given(st.lists(st.tuples(st.integers(1, 4), st.sampled_from(["A", "B", "C"])),
                min_size=2, max_size=80))
@settings(max_examples=12, deadline=None)
def test_markov_rows_are_conditional_distributions(spark, events):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    rows = [(u, float(i), i, s) for i, (u, s) in enumerate(events)]
    df = spark.createDataFrame(rows, "u long, ts double, i long, s string")
    out = TS.markov_transitions(df, "s", ["u"], [F.col("ts"), F.col("i")]).collect()
    from collections import defaultdict
    by_prev = defaultdict(list)
    for r in out:
        assert r.n_transitions >= 1
        by_prev[r.prev_state].append(r.p_transition)
    for probs in by_prev.values():
        assert abs(sum(probs) - 1.0) < 1e-4   # rows are P(.|prev), rounded 6dp


@given(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=60))
@settings(max_examples=12, deadline=None)
def test_psi_zero_for_identical_distributions(spark, ks):
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ

    df = spark.createDataFrame([(k,) for k in ks], "k string")
    out = DQ.psi_drift(df, df, "k", alias="k").collect()
    assert all(r.psi_term == 0.0 for r in out)
    assert all(r.p_base == r.p_curr for r in out)


@given(st.lists(st.tuples(st.sampled_from(["g1", "g2", "g3"]), st.integers(0, 1000)),
                min_size=2, max_size=50))
@settings(max_examples=12, deadline=None)
def test_jackknife_matches_python_reference(spark, rows):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    df = spark.createDataFrame(rows, "g string, y long")
    got = {r.g: r.loo_mean for r in
           agg.jackknife_group_means(df, "g", F.col("y"), y_scale=100).collect()}
    from collections import defaultdict
    sums, counts = defaultdict(int), defaultdict(int)
    for g, y in rows:
        sums[g] += y; counts[g] += 1
    S, N = sum(sums.values()), sum(counts.values())
    for g in sums:
        if N == counts[g]:
            assert got[g] is None
        else:
            assert got[g] == round((S - sums[g]) / ((N - counts[g]) * 100.0), 6)


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.text("ab", min_size=0, max_size=4)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(0, 59),
)
@settings(max_examples=10, deadline=None)
def test_checksum_diff_localizes_any_single_row_drop(spark, rows, drop_idx):
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ

    df = spark.createDataFrame(rows, "id long, s string")
    victim = rows[drop_idx % len(rows)][0]
    from pyspark.sql import functions as F

    damaged = df.where(F.col("id") != victim)
    out = DQ.checksum_diff(df, damaged, ["id", "s"], n_buckets=4).collect()
    # exactly one bucket differs, by exactly one row
    assert len(out) == 1 and out[0]["row_delta"] == 1


@given(
    st.lists(st.integers(0, 500), min_size=2, max_size=40),
    st.lists(st.integers(0, 500), min_size=2, max_size=40),
)
@settings(max_examples=10, deadline=None)
def test_welch_ttest_antisymmetric_under_arm_swap(spark, xs, ys):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg

    rows = [("g", float(v), True) for v in xs] + [("g", float(v), False) for v in ys]
    df = spark.createDataFrame(rows, "k string, v double, a boolean")
    fwd = agg.welch_ttest(df, ["k"], F.col("v"), F.col("a")).collect()[0]
    rev = agg.welch_ttest(df, ["k"], F.col("v"), ~F.col("a")).collect()[0]
    assert fwd["n_a"] == rev["n_b"] and fwd["n_b"] == rev["n_a"]
    if fwd["t_stat"] is not None:
        assert rev["t_stat"] == -fwd["t_stat"]          # t flips sign
        assert abs(rev["welch_df"] - fwd["welch_df"]) < 1e-6  # df invariant


@given(
    st.lists(
        st.tuples(st.integers(1, 8), st.integers(0, 5)),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_assoc_rules_identities(spark, rows):
    from nyc_tlc_trip_data_pipelines_spark.operators import mining as MN

    df = spark.createDataFrame(rows, "basket long, item long")
    out = MN.assoc_rules(df, "basket", "item", min_pair_count=1).collect()
    n_baskets = len({b for b, _ in rows})
    for r in out:
        assert r["item_a"] < r["item_b"]
        # lift = conf_a_b / P(b): identity up to 6dp rounding
        assert 0 < r["support"] <= 1
        assert 0 < r["conf_a_b"] <= 1 and 0 < r["conf_b_a"] <= 1
        # support * n_baskets = n_ab exactly
        assert abs(r["support"] * n_baskets - r["n_ab"]) < 1e-3


@given(
    st.lists(
        st.text(
            alphabet="abAB/.?&=#_:%0 9u tm",
            max_size=40,
        ),
        max_size=6,
    )
)
@settings(max_examples=15, deadline=None)
def test_canonical_url_idempotent(spark, urls):
    """canonical_url is a canonicalization: applying it twice equals
    applying it once, for arbitrary URL-ish strings (including ones
    with no scheme, stray '#'/'&utm_' fragments, mixed case)."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.web import canonical_url

    df = spark.createDataFrame([(u,) for u in urls] or [("",)], "url string")
    rows = df.select(
        canonical_url(F.col("url")).alias("once"),
        canonical_url(canonical_url(F.col("url"))).alias("twice"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"]


@given(
    st.lists(st.integers(-16000, 16000), min_size=400, max_size=400),
)
@settings(max_examples=25, deadline=None)
def test_ehash_wav_scale_invariant(samples):
    """eHash is loudness-invariant: doubling every sample (exact in
    int16 for |s| <= 16000) scales both sides of each frame comparison
    by 2 and must preserve the hash bit-for-bit."""
    from nyc_tlc_trip_data_pipelines_spark.operators.multimodal import (
        ehash_wav,
        encode_wav,
    )

    assert ehash_wav(encode_wav(samples)) == ehash_wav(
        encode_wav([2 * s for s in samples])
    )


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from(["d1", "d2", "d3"]),
            st.integers(-100, 100),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_bitmap_rollup_equals_count_distinct(spark, rows):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        bitmap_distinct_rollup,
    )

    df = spark.createDataFrame(rows, "grp string, day string, user_id bigint")
    got = {
        r["grp"]: r
        for r in bitmap_distinct_rollup(df, "grp", F.col("day"), "user_id").collect()
    }
    from collections import defaultdict

    per_grp, per_sub = defaultdict(set), defaultdict(set)
    for g, d, u in rows:
        per_grp[g].add(u)
        per_sub[(g, d)].add(u)
    for g, ids in per_grp.items():
        assert got[g]["distinct_total"] == len(ids)
        assert got[g]["sum_sub_distinct"] == sum(
            len(v) for (gg, _), v in per_sub.items() if gg == g
        )


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.booleans()),
        min_size=4,
        max_size=40,
    ).filter(lambda xs: any(a for _, a in xs) and any(not a for _, a in xs))
)
@settings(max_examples=10, deadline=None)
def test_ks_stat_bounds_and_python_replay(spark, rows):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        ks_two_sample,
    )

    df = spark.createDataFrame(
        [(float(v), a) for v, a in rows], "value double, in_a boolean"
    )
    r = ks_two_sample(df, "value", F.col("in_a")).collect()[0]
    a = sorted(v for v, f in rows if f)
    b = sorted(v for v, f in rows if not f)
    xs = sorted({v for v, _ in rows})
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b)
        )
        for x in xs
    )
    assert 0.0 <= r["ks_stat"] <= 1.0
    assert abs(r["ks_stat"] - round(d, 6)) < 1e-6


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(1, 30),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None)
def test_domain_mixture_weights_sum_to_one(spark, rows):
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import (
        domain_mixture_weights,
    )

    df = spark.createDataFrame(
        [(s, "w " * n) for s, n in rows], "source string, text string"
    )
    out = domain_mixture_weights(df, "source").collect()
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-4
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-4
    assert all(r["weight"] > 0 for r in out)
    # alpha=0.5 compresses: the largest domain's weight <= its share
    big = max(out, key=lambda r: r["n_tokens"])
    small = min(out, key=lambda r: r["n_tokens"])
    if big["n_tokens"] != small["n_tokens"]:
        assert big["weight"] <= big["token_share"] + 1e-9
        assert small["weight"] >= small["token_share"] - 1e-9


@given(
    st.lists(st.floats(0.0, 100.0, allow_nan=False), min_size=5, max_size=25),
    st.floats(-50.0, 50.0, allow_nan=False),
)
@settings(max_examples=6, deadline=None)
def test_poisson_bootstrap_shift_equivariance(spark, vals, shift):
    """The Poisson draws depend only on (id, replicate, seed), so adding
    a constant c to every value must shift mean/ci_lo/ci_hi by exactly
    c (at the micro-unit grid) and leave se_boot unchanged."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        poisson_bootstrap_ci,
    )

    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    base = spark.createDataFrame(rows, "event_id bigint, k string, value double")
    shifted = base.withColumn("value", F.col("value") + F.lit(float(shift)))
    a = poisson_bootstrap_ci(base, ["k"], F.col("value"), "event_id").collect()[0]
    b = poisson_bootstrap_ci(shifted, ["k"], F.col("value"), "event_id").collect()[0]
    tol = 3e-6  # micro-grid quantization of value+shift vs value
    assert abs((b["mean"] - a["mean"]) - shift) < tol
    if a["ci_lo"] is not None and b["ci_lo"] is not None:
        assert abs((b["ci_lo"] - a["ci_lo"]) - shift) < tol
    if a["ci_hi"] is not None and b["ci_hi"] is not None:
        assert abs((b["ci_hi"] - a["ci_hi"]) - shift) < tol
    assert abs(b["se_boot"] - a["se_boot"]) < tol


@given(st.lists(st.floats(0.0, 200.0, allow_nan=False), min_size=30, max_size=60))
@settings(max_examples=5, deadline=None)
def test_cusum_shift_invariance(spark, vals):
    """CUSUM deviations are measured from the series' own mean, so a
    constant shift of every value leaves both trajectories unchanged
    (up to the micro grid)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        cusum_changepoints,
    )

    base_t = datetime(2024, 1, 1)
    rows = [(i, base_t + timedelta(hours=i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double")
    df2 = df.withColumn("value", F.col("value") + F.lit(37.0))
    a = {r["bucket"]: r for r in cusum_changepoints(df, "ts", "value").collect()}
    b = {r["bucket"]: r for r in cusum_changepoints(df2, "ts", "value").collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k]["cusum_pos"] - b[k]["cusum_pos"]) < 1e-4
        assert abs(a[k]["cusum_neg"] - b[k]["cusum_neg"]) < 1e-4


@given(
    st.lists(st.floats(1.0, 50.0, allow_nan=False), min_size=3, max_size=15),
    st.sampled_from([0.25, 0.5, 0.75, 0.9]),
)
@settings(max_examples=8, deadline=None)
def test_weighted_percentile_unit_weights_match_type1_quantile(spark, vals, p):
    """With all weights 1 the inverse-CDF weighted percentile is the
    classic type-1 quantile: the ceil(p*n)-th smallest value."""
    import math

    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        weighted_percentile,
    )

    rows = [("g", float(v), 1.0) for v in vals]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    out = weighted_percentile(df, ["k"], F.col("v"), F.col("w"), (p,)).collect()[0]
    expect = sorted(vals)[max(0, math.ceil(p * len(vals)) - 1)]
    assert out[f"p{int(round(p * 100))}"] == expect


@given(st.permutations(list(range(8))))
@settings(max_examples=5, deadline=None)
def test_event_pattern_match_input_order_invariance(spark, perm):
    """The per-user sequence is array_sort'ed on (ts, id), so any input
    row order yields identical matches."""
    from datetime import datetime, timedelta

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import (
        event_pattern_match,
    )

    base = datetime(2024, 1, 1)
    canon = [
        (1, base + timedelta(minutes=i), t, 10 + i)
        for i, t in enumerate(
            ["signup", "click", "view", "purchase", "error",
             "signup", "click", "purchase"]
        )
    ]
    shuffled = [canon[i] for i in perm]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id bigint, ts timestamp, event_type string, event_id bigint"
    )
    args = (
        "user_id", "ts", "event_type", "event_id",
        {"signup": "s", "click": "c", "purchase": "p", "view": "v", "error": "e"},
        r"s[cv]*p",
    )
    a = sorted(map(tuple, event_pattern_match(mk(canon), *args).collect()))
    b = sorted(map(tuple, event_pattern_match(mk(shuffled), *args).collect()))
    assert a == b and len(a) == 1


@given(
    st.lists(st.tuples(st.integers(0, 3), st.booleans()), min_size=6, max_size=30)
)
@settings(max_examples=6, deadline=None)
def test_sprt_walk_equals_closed_form_at_every_close(spark, obs):
    """The cohort walk's LLR at every close equals the closed form over
    cumulative counts — the aggregate-exactness claim, property-tested."""
    import datetime as dt

    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import (
        sprt_daily_walk,
        sprt_llr_constants,
    )

    rows = [
        (0, dt.date(2024, 1, 1) + dt.timedelta(days=d), int(cv))
        for d, cv in obs
    ]
    df = spark.createDataFrame(rows, "arm int, day date, cv int")
    out = sprt_daily_walk(
        df, F.col("arm"), F.col("cv"), F.col("day"), period_name="day"
    ).collect()
    c1, c0 = sprt_llr_constants(0.25, 0.40)
    c1m, c0m = round(c1 * 1e6), round(c0 * 1e6)
    for r in out:
        expect = (r["s_cum"] * c1m + (r["n_cum"] - r["s_cum"]) * c0m) / 1e6
        assert abs(r["llr"] - expect) < 1e-9
    # cumulative counts are monotone over the walk
    seq = sorted(out, key=lambda r: r["day"])
    assert all(a["n_cum"] < b["n_cum"] for a, b in zip(seq, seq[1:]))


@given(
    st.lists(st.integers(0, 10_000_000), min_size=2, max_size=25),
)
@settings(max_examples=10, deadline=None)
def test_gini_bounds_and_scale_invariance(spark, vals):
    """Round 8: for non-negative values with a positive total, Gini is
    in [0, 1) and invariant under positive scaling of the values."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import gini_group

    if sum(vals) == 0:
        vals = [v + 1 for v in vals]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, m long, v long")
    g1 = gini_group(df, ["g"], F.col("v"), F.col("m")).collect()[0]["gini"]
    assert 0.0 <= g1 < 1.0
    df3 = spark.createDataFrame(
        [("g", i, v * 3) for i, v in enumerate(vals)], "g string, m long, v long"
    )
    g3 = gini_group(df3, ["g"], F.col("v"), F.col("m")).collect()[0]["gini"]
    assert abs(g1 - g3) < 2e-6   # scale invariance (6-dp rounding slack)


@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-1000, 1000)),
        min_size=3,
        max_size=20,
    ),
)
@settings(max_examples=10, deadline=None)
def test_spearman_matches_pure_python_midranks(spark, pairs):
    """Round 8: rho equals a pure-Python midrank Pearson on the same
    pairs (exactness), and is invariant under the monotone transform
    x -> 2x + 7 of either variable."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.aggregates import spearman_corr

    def midranks(xs):
        order = sorted(xs)
        first = {}
        for i, v in enumerate(order):
            first.setdefault(v, i)
        cnt = {}
        for v in order:
            cnt[v] = cnt.get(v, 0) + 1
        return [first[v] + (cnt[v] + 1) / 2 for v in xs]

    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    rx, ry = midranks(xs), midranks(ys)
    n = len(pairs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(a * a for a in rx)
    syy = sum(a * a for a in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    expected = None
    if varx > 0 and vary > 0:
        expected = round((n * sxy - sx * sy) / (varx * vary) ** 0.5, 6)

    df = spark.createDataFrame(pairs, "x long, y long")
    got = spearman_corr(df, F.col("x"), F.col("y")).collect()[0]["rho"]
    if expected is None:
        assert got is None
    else:
        assert abs(got - expected) < 2e-6
        df2 = spark.createDataFrame(
            [(2 * x + 7, y) for x, y in pairs], "x long, y long"
        )
        got2 = spearman_corr(df2, F.col("x"), F.col("y")).collect()[0]["rho"]
        assert abs(got2 - got) < 2e-6


@given(
    st.lists(
        st.tuples(st.integers(1, 30), st.integers(0, 1)),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=10, deadline=None)
def test_km_survival_monotone_and_bounded(spark, obs):
    """Round 8: the KM curve is non-increasing over event times and
    stays within [0, 1]; at-risk counts strictly decrease over t."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.timeseries import km_survival

    df = spark.createDataFrame(obs, "dur int, e int")
    rows = km_survival(df, F.col("dur"), F.col("e")).collect()
    surv = [r["survival"] for r in rows]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    risks = [r["n_risk"] for r in rows]
    assert all(a > b for a, b in zip(risks, risks[1:]))


# --- round-11: file:// URI normalization --------------------------------

_path_segment = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="/\0:"
    ).filter(lambda c: c.isprintable()),
    min_size=1,
    max_size=12,
)


@given(st.lists(_path_segment, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_to_local_os_path_file_uri_roundtrip(segments):
    """For any absolute OS path p: every file:-URI spelling of p must
    normalize to exactly p, and normalization must be idempotent."""
    from nyc_tlc_trip_data_pipelines_spark.objectstore import to_local_os_path

    p = "/" + "/".join(segments)
    for uri in (f"file://{p}", f"file:{p}", f"file://localhost{p}"):
        assert to_local_os_path(uri) == p
    assert to_local_os_path(p) == p  # plain paths pass through
    assert to_local_os_path(to_local_os_path(f"file://{p}")) == p  # idempotent


@given(_path_segment, st.lists(_path_segment, min_size=0, max_size=3))
@settings(max_examples=100, deadline=None)
def test_to_local_os_path_non_file_passthrough(head, rest):
    """Anything that is not an explicit file: URI — relative paths,
    colon-bearing first segments, other schemes — passes through
    byte-identical (the is_local_path classification contract)."""
    from nyc_tlc_trip_data_pipelines_spark.objectstore import to_local_os_path

    rel = "/".join([head] + rest)
    assert to_local_os_path(rel) == rel
    for scheme in ("s3a", "hdfs", "s3"):
        u = f"{scheme}://bucket/{rel}"
        assert to_local_os_path(u) == u


_vop = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 3), st.integers(1, 5)),
    st.tuples(st.just("retry"), st.integers(0, 3), st.integers(1, 5)),
    st.tuples(st.just("delete"), st.integers(0, 40), st.just(0)),
    st.tuples(st.just("merge"), st.integers(0, 3), st.integers(1, 4)),
    st.tuples(st.just("optimize"), st.just(0), st.just(0)),
    st.tuples(st.just("vacuum"), st.just(0), st.just(0)),
)


@given(st.lists(_vop, min_size=2, max_size=6))
@settings(max_examples=5, deadline=None)
def test_versioned_lifecycle_matches_multiset_model(spark, tmp_path_factory, ops):
    """Model-based property: ANY interleaving of append /
    retried-append / DELETE / MERGE / OPTIMIZE / VACUUM must
    leave read_version(latest) equal to a pure-Python multiset model,
    with the tip's cumulative ever-union containing every job_id ever
    issued — the whole-protocol invariant behind retry dedup, COW
    rewrites, compaction idempotence, and vacuum survival at once."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark import io as IO

    path = str(tmp_path_factory.mktemp("vm") / "t")
    model: list[tuple[int, int]] = []   # multiset of (k, v)
    batches: dict[str, list[tuple[int, int]]] = {}
    issued: set[str] = set()
    next_k = 0

    def _df(rows):
        return spark.createDataFrame(rows, "k long, v long")

    # seed so delete/merge/optimize always have a version to work on
    seed = [(0, 0), (1, 1)]
    IO.append_versioned(_df(seed), path, "seed")
    model += seed
    batches["seed"] = seed
    issued.add("seed")
    next_k = 2

    for kind, a, b in ops:
        if kind == "append":
            j = f"a{len(issued)}"
            rows = [(next_k + i, a) for i in range(b)]
            next_k += b
            IO.append_versioned(_df(rows), path, j)
            model += rows
            batches[j] = rows
            issued.add(j)
        elif kind == "retry":
            done = sorted(issued)
            j = done[a % len(done)]
            # re-appending ANY previously issued job (original rows or
            # arbitrary replacement rows) must be a pure no-op
            IO.append_versioned(_df([(999, 999)] * b), path, j)
        elif kind == "delete":
            IO.delete_where(spark, path, F.col("k") < a)
            model = [r for r in model if r[0] >= a]
        elif kind == "merge":
            j = f"m{len(issued)}"
            keys = sorted({r[0] for r in model})[: b] or [next_k]
            updates = [(k, 777) for k in keys]
            IO.merge_versioned(spark, path, _df(updates), ["k"], j)
            kept = [r for r in model if r[0] not in set(keys)]
            model = kept + updates
            batches[j] = updates
            issued.add(j)
        elif kind == "optimize":
            IO.optimize_versioned(spark, path, target_mb=64)
        elif kind == "vacuum":
            IO.vacuum_versioned(path, retain_last=1)
        got = sorted((r.k, r.v) for r in IO.read_version(spark, path).collect())
        assert got == sorted(model), f"after {kind}: table != model"
        mio = IO._manifest_io(path)
        _tip, _jobs, raw, _m = IO._tip_state(mio)
        assert issued <= IO._with_bases(raw), f"after {kind}: ever lost a job"


@pytest.fixture(scope="module")
def zoned_table(spark, tmp_path_factory):
    """A versioned table mixing a zone-covered OPTIMIZE job (z-ordered
    on x,y; per-file min/max in the manifest) with a later UNZONED
    append, plus NULLs in both dimensions — the full surface
    read_version's pruning has to stay sound over."""
    t = str(tmp_path_factory.mktemp("zp") / "tbl")
    df = spark.range(120_000).select(
        F.when(F.col("id") % 19 == 0, F.lit(None))
        .otherwise(F.col("id") % 1000).cast("long").alias("x"),
        F.when(F.col("id") % 23 == 0, F.lit(None))
        .otherwise((F.col("id") * 2654435761) % 1000).cast("long").alias("y"),
        F.xxhash64("id").alias("pad"),
    )
    IO.append_versioned(df.repartition(6), t, "b0")
    IO.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
    IO.append_versioned(
        df.limit(5_000).withColumn("x", F.col("x") + 5), t, "late"
    )  # no zone_stats: this job must always read whole
    return t


_CONJ_STRATEGY = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.sampled_from(["=", "<", "<=", ">", ">="]),
            st.integers(-50, 1100),
        ),
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.just("in"),
            st.lists(st.integers(-50, 1100), min_size=1, max_size=4),
        ),
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=12, deadline=None)
@given(conj=_CONJ_STRATEGY)
def test_zone_prune_soundness_random_predicates(spark, zoned_table, conj):
    """THE pruning invariant, adversarially sampled: for ANY
    conjunction of simple predicates — including ones that select
    nothing, everything, or straddle NULL-bearing files — the pruned
    read must equal the plain read plus the same filters. Pruning may
    only ever skip files the zones PROVE empty for the predicate;
    hypothesis hunts the boundary mistakes (off-by-one at bucket
    edges, NULL three-valued logic, lo==hi files). One conjunct list
    drives both the skip and the residual filters."""
    pruned = IO.read_version(spark, zoned_table, prune=conj)
    full = IO.read_version(spark, zoned_table)
    for c, op, v in conj:
        col = full[c]
        full = full.filter(
            col.isin(list(v)) if op == "in" else
            col == v if op in ("=", "==") else
            col < v if op == "<" else
            col <= v if op == "<=" else
            col > v if op == ">" else col >= v
        )

    def _ck(d):
        r = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.avg(F.xxhash64("x", "y", "pad")).alias("h"),
        ).collect()[0]
        return (r.n, r.sx, r.sy, r.h)

    assert _ck(pruned) == _ck(full), conj


@pytest.fixture(scope="module")
def zoned_table_sidecar(spark, tmp_path_factory):
    """The zoned_table surface rebuilt with ZONE_SIDECAR_MIN_FILES=1,
    so EVERY zone map spills to a content-addressed sidecar and all
    pruning resolves through manifest markers (round 14) — the read
    path a 100 TB table actually takes."""
    import glob as _glob
    import json as _json
    import os as _os

    t = str(tmp_path_factory.mktemp("zps") / "tbl")
    saved = IO.ZONE_SIDECAR_MIN_FILES
    IO.ZONE_SIDECAR_MIN_FILES = 1
    try:
        df = spark.range(120_000).select(
            F.when(F.col("id") % 19 == 0, F.lit(None))
            .otherwise(F.col("id") % 1000).cast("long").alias("x"),
            F.when(F.col("id") % 23 == 0, F.lit(None))
            .otherwise((F.col("id") * 2654435761) % 1000).cast("long").alias("y"),
            F.xxhash64("id").alias("pad"),
        )
        IO.append_versioned(df.repartition(6), t, "b0")
        IO.optimize_versioned(spark, t, target_mb=1, cluster_by=["x", "y"])
        IO.append_versioned(
            df.limit(5_000).withColumn("x", F.col("x") + 5), t, "late"
        )  # no zone_stats: this job must always read whole
    finally:
        IO.ZONE_SIDECAR_MIN_FILES = saved
    # the fixture only tests what it claims if the zones really did
    # spill: the tip manifest must carry a MARKER, not inline stats
    tip = sorted(_glob.glob(_os.path.join(t, "_manifests", "v*.json")))[-1]
    zones = _json.load(open(tip)).get("zones") or {}
    assert any(
        isinstance(z, dict) and isinstance(z.get("sidecar"), str)
        for z in zones.values()
    ), "expected at least one sidecar marker in the tip manifest"
    return t


@settings(max_examples=8, deadline=None)
@given(conj=_CONJ_STRATEGY)
def test_zone_prune_soundness_through_sidecars(spark, zoned_table_sidecar, conj):
    """The same pruning invariant, adversarially sampled THROUGH the
    sidecar layer: every zone map is a marker the read path must
    resolve (one extra GET) before it can skip anything — pruned read
    ≡ plain read + filters must survive the indirection byte-exactly."""
    pruned = IO.read_version(spark, zoned_table_sidecar, prune=conj)
    full = IO.read_version(spark, zoned_table_sidecar)
    for c, op, v in conj:
        col = full[c]
        full = full.filter(
            col.isin(list(v)) if op == "in" else
            col == v if op in ("=", "==") else
            col < v if op == "<" else
            col <= v if op == "<=" else
            col > v if op == ">" else col >= v
        )

    def _ck(d):
        r = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.avg(F.xxhash64("x", "y", "pad")).alias("h"),
        ).collect()[0]
        return (r.n, r.sx, r.sy, r.h)

    assert _ck(pruned) == _ck(full), conj

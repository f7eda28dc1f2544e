"""Corpus-curation operator tests (decontamination, repetition, quality,
vocab, mixture sampling, containment)."""

import pytest
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_train_test_overlap_detects_contamination(spark):
    train = _docs(spark, [(1, "alpha beta gamma delta epsilon", "en")])
    test = _docs(
        spark,
        [
            (10, "alpha beta gamma something else entirely", "en"),  # shares grams
            (20, "one two three four five", "en"),  # clean
        ],
    )
    got = {r.doc_id: r for r in CP.train_test_overlap(train, test).collect()}
    # "alpha beta gamma" is a shared 3-gram; "beta gamma something" etc. are not
    assert got[10].n_contaminated == 1 and got[10].n_grams == 4
    assert got[20].n_contaminated == 0
    assert abs(got[10].contamination_rate - 0.25) < 1e-9


def test_train_test_overlap_short_docs_absent(spark):
    train = _docs(spark, [(1, "a b c d", "en")])
    test = _docs(spark, [(10, "a b", "en")])  # < 3 tokens -> no grams
    assert CP.train_test_overlap(train, test).count() == 0


def test_repetition_profile(spark):
    # "a b c a b c a b c" -> grams: abc bca cab abc bca cab abc = 7 total,
    # 3 distinct, max multiplicity 3
    df = _docs(spark, [(1, "a b c a b c a b c", "en")])
    r = CP.repetition_profile(df).collect()[0]
    assert r.n_grams == 7 and r.n_distinct == 3 and r.max_gram_count == 3
    assert abs(r.rep_ratio - (1 - 3 / 7)) < 1e-6


def test_quality_filter_rules(spark):
    long_ok = " ".join(f"tok{i % 37}" for i in range(80))
    too_short = "just a few words here"
    repeated = " ".join(["spam"] * 60)
    df = _docs(spark, [(1, long_ok, "en"), (2, too_short, "en"), (3, repeated, "en")])
    got = {r.doc_id: r for r in CP.quality_filter(df).collect()}
    assert got[1].keep
    assert not got[2].keep and "n_words" in got[2].fail_reasons
    assert not got[3].keep and "top_word_frac" in got[3].fail_reasons


def test_build_vocab_rank_order(spark):
    df = _docs(spark, [(1, "b b b a a c", "en")])
    rows = CP.build_vocab(df, vocab_size=2).orderBy("token_id").collect()
    assert [(r.token_id, r.word, r.cnt) for r in rows] == [(0, "b", 3), (1, "a", 2)]


def test_weighted_mix_deterministic(spark):
    rows = [(i, "text here", "en" if i % 2 == 0 else "de") for i in range(200)]
    df = _docs(spark, rows)
    kept = CP.weighted_mix(df, weights={"en": 50, "de": 10}).collect()
    for r in kept:
        assert r.doc_id % 100 < r.mix_pct
    en_kept = sum(1 for r in kept if r.lang == "en")
    de_kept = sum(1 for r in kept if r.lang == "de")
    assert en_kept == 50 and de_kept == 10  # exact: ids 0..199 cover 0..99 twice


def test_containment_catches_subset_duplication(spark):
    big = "the quick brown fox jumps over the lazy dog and keeps running far away"
    small = "the quick brown fox jumps over the lazy dog"  # contained in big
    other = "zzz completely unrelated content xxyyzz qqq www eee rrr ttt"
    df = _docs(spark, [(1, big, "en"), (2, small, "en"), (3, other, "en")])
    rows = CP.containment_pairs(df, threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # the smaller doc is (nearly) fully contained in the bigger one
    assert r.containment_b > 0.9 and r.containment_a < 0.9
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_unigram_logprob(spark):
    import math

    # corpus: "a a b" + "b" -> counts a:2 b:2 total 4; lp(a)=lp(b)=ln(0.5)
    df = _docs(spark, [(1, "a a b", "en"), (2, "b", "en")])
    got = {r.doc_id: r for r in CP.unigram_logprob(df).collect()}
    assert got[1].n_words == 3 and got[2].n_words == 1
    assert abs(got[1].mean_logprob - round(math.log(0.5), 4)) < 1e-9
    assert got[1].mean_logprob == got[2].mean_logprob


def test_stable_split_properties(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in CP.stable_split(df, holdout_pct=10).collect()}
    # deterministic across invocations and partitioning
    s2 = {r.doc_id: r.split for r in CP.stable_split(df.repartition(7), holdout_pct=10).collect()}
    assert s1 == s2
    # per-row independence: a subset keeps its assignments
    sub = {r.doc_id: r.split for r in CP.stable_split(df.filter("doc_id < 500"), holdout_pct=10).collect()}
    assert all(s1[k] == v for k, v in sub.items())
    # holdout fraction near 10% (binomial 6 sigma at n=2000: +-4%)
    frac = sum(1 for v in s1.values() if v == "holdout") / len(s1)
    assert 0.06 < frac < 0.14
    # salt re-rolls assignments
    s3 = {r.doc_id: r.split for r in CP.stable_split(df, holdout_pct=10, salt="v2").collect()}
    assert s3 != s1
    # the draw is always the portable hash: there is no option to pick another
    with pytest.raises(TypeError):
        CP.stable_split(df, holdout_pct=10, portable=False)


def test_sample_per_group_exact_k_and_stable(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = CP.sample_per_group(df, k=10).collect()
    per = {}
    for r in s1:
        per.setdefault(r.lang, set()).add(r.doc_id)
    assert {len(v) for v in per.values()} == {10}
    # stable across partitioning; small group keeps everything
    s2 = CP.sample_per_group(df.repartition(13), k=10).collect()
    assert {(r.lang, r.doc_id) for r in s1} == {(r.lang, r.doc_id) for r in s2}
    tiny = spark.createDataFrame(rows[:6], "doc_id long, lang string")
    assert CP.sample_per_group(tiny, k=10).count() == 6


def test_weighted_sample_es_exact_replay_and_bias(spark):
    """E-S sample must match a NumPy replay of the same md5 draw +
    ln(u)/w keys exactly, be deterministic, and over-represent heavy
    rows vs a uniform draw."""
    import hashlib
    import math

    rows = [(i, "x" * (10 if i % 10 else 1000), "en") for i in range(200)]
    docs = _docs(spark, rows)
    got = sorted(
        r.doc_id
        for r in CP.weighted_sample_without_replacement(
            docs, weight=F.length("text"), k=40, salt="v1"
        ).collect()
    )

    def es_key(i, w):
        h = int(hashlib.md5(f"v1:{i}".encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / float(1 << 60)
        return math.log(u) / w

    keyed = sorted(
        ((es_key(i, 10 if i % 10 else 1000), -i) for i, _t, _l in rows), reverse=True
    )
    expect = sorted(-neg for _k, neg in keyed[:40])
    assert got == expect
    # deterministic across invocations
    again = sorted(
        r.doc_id
        for r in CP.weighted_sample_without_replacement(
            docs, weight=F.length("text"), k=40, salt="v1"
        ).collect()
    )
    assert got == again
    # bias: the 20 heavy docs (doc_id % 10 == 0, weight 100x) must be
    # overwhelmingly selected; uniform would pick ~4 of them in 40
    heavy = sum(1 for i in got if i % 10 == 0)
    assert heavy >= 15
    # zero/NULL weights excluded
    z = _docs(spark, [(1, "", "en"), (2, "ab", "en")])
    only = CP.weighted_sample_without_replacement(z, weight=F.length("text"), k=5).collect()
    assert [r.doc_id for r in only] == [2]


def test_stable_shuffle_reproducible_and_total(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP

    df = spark.createDataFrame([(i, f"d{i}") for i in range(200)], "doc_id long, text string")
    a = {(r.doc_id, r.shard, r.shard_pos) for r in CP.stable_shuffle(df, n_shards=4).collect()}
    b = {(r.doc_id, r.shard, r.shard_pos) for r in
         CP.stable_shuffle(df.repartition(7), n_shards=4).collect()}
    assert a == b                                     # partitioning-independent
    # positions are a total permutation within each shard: 1..n contiguous
    by_shard = {}
    for _, s, p in a:
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # different salt -> different permutation
    c = {(r.doc_id, r.shard, r.shard_pos) for r in
         CP.stable_shuffle(df, n_shards=4, salt="v2").collect()}
    assert a != c


def test_duplicated_span_profile_flags_shared_spans(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import (
        duplicated_span_profile,
    )

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared + " one two three four five"),
            (2, shared + " six seven eight nine ten"),
            (3, "solo only words here never repeated anywhere at all ok"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicated_span_profile(docs, n=5, drop_threshold=0.5).collect()
    }
    # docs 1/2: 10 tokens -> 6 distinct 5-gram spans; only the pure
    # shared-prefix span (positions 1) is in both docs
    assert out[1]["n_spans"] == 6 and out[2]["n_spans"] == 6
    assert out[1]["n_dup_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[1]["keep"] and out[2]["keep"]
    assert out[3]["n_dup_spans"] == 0 and out[3]["keep"]
    # fully duplicated pair -> flagged
    dup = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id bigint, text string"
    )
    flagged = duplicated_span_profile(dup, n=5).collect()
    assert all(r["dup_fraction"] == 1.0 and not r["keep"] for r in flagged)


def test_domain_mixture_weights_alpha_half(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import (
        domain_mixture_weights,
    )

    # 100 vs 400 tokens -> sqrt weights 10 : 20 -> 1/3 : 2/3
    rows = [("small", "w " * 100)] + [("big", "w " * 100)] * 4
    df = spark.createDataFrame(
        [(d, t.strip()) for d, t in rows], "source string, text string"
    )
    out = {r["domain"]: r for r in domain_mixture_weights(df, "source").collect()}
    assert out["small"]["n_tokens"] == 100 and out["big"]["n_tokens"] == 400
    assert abs(out["small"]["weight"] - 1 / 3) < 1e-6
    assert abs(out["big"]["weight"] - 2 / 3) < 1e-6
    # alpha<1 upweights the small domain relative to its token share
    assert out["small"]["oversample"] > 1 > out["big"]["oversample"]
    assert abs(out["small"]["token_share"] - 0.2) < 1e-9


def test_nb_classify_planted_signal(spark):
    """Disjoint class vocabularies -> every held-out doc with in-vocab
    words is predicted correctly; a doc of only OOV words falls back to
    the prior argmax (majority class, min-class tie-break)."""
    import math

    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import nb_classify
    from nyc_tlc_trip_data_pipelines_spark.operators.text import portable_hash60
    from pyspark.sql import functions as F

    # class 'aa' speaks {red green}, class 'bb' speaks {blue cyan}
    rows = [(i, "red green red green", "aa") for i in range(0, 40)]
    rows += [(i, "blue cyan blue cyan", "bb") for i in range(40, 80)]
    rows += [(80, "zzz yyy xxx", "aa")]  # OOV-only when held out
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    out = {
        r["doc_id"]: r
        for r in nb_classify(df, holdout_mod=5, holdout_rem=0, seed=11).collect()
    }
    # recompute the split predicate to know which ids are held out
    split = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id",
            (
                portable_hash60(
                    F.concat_ws("\x1f", F.col("doc_id").cast("string"), F.lit("11"))
                )
                % 5
                == 0
            ).alias("h"),
        ).collect()
    }
    held = {i for i, h in split.items() if h}
    assert set(out) == held and len(held) > 5
    for i in held:
        r = out[i]
        if i == 80:
            continue
        assert r["predicted"] == r["actual"] == ("aa" if i < 40 else "bb")
        assert r["correct"] == 1
    if 80 in held:
        # prior-only doc: predicted = argmax prior over TRAIN docs
        from collections import Counter

        priors = Counter(
            ("aa" if i < 40 else "bb") if i != 80 else "aa"
            for i in range(81)
            if i not in held
        )
        top = max(priors.values())
        expect = min(c for c, n in priors.items() if n == top)
        assert out[80]["predicted"] == expect
    # score is the winning log-posterior: negative, finite, 6-dp grid
    for r in out.values():
        assert r["score"] < 0 and math.isfinite(r["score"])
        assert abs(r["score"] * 1e6 - round(r["score"] * 1e6)) < 1e-3


def test_retrieval_eval_planted_ranking(spark):
    """Corpus where relevance aligns with tf: the query term appearing
    tf>=3 in exactly 3 docs that BM25 must rank on top -> perfect
    recall/MRR/nDCG; a term with no tf>=3 docs -> NULL metrics."""
    from nyc_tlc_trip_data_pipelines_spark.operators.text import retrieval_eval

    rows = [
        (1, "apple apple apple apple pad pad"),
        (2, "apple apple apple pad pad pad"),
        (3, "apple apple apple pad pad pad pad"),
        (4, "apple pad pad pad pad pad"),
        (5, "pear pad pad pad pad pad"),
    ] + [(100 + i, "pad filler words only here") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["query"]: r for r in retrieval_eval(df, ["apple", "pear"], k=10, rel_tf=3).collect()}
    a = out["apple"]
    # docs 1,2,3 are relevant (tf>=3); all retrieved in top-10 and BM25
    # puts the highest-tf doc first -> recall 1, MRR 1, nDCG 1
    assert a["n_rel"] == 3 and a["n_hits"] == 3
    assert a["recall_at_k"] == 1.0 and a["mrr_at_k"] == 1.0
    assert a["ndcg_at_k"] == 1.0
    p = out["pear"]
    # 'pear' occurs once -> empty relevant set -> NULL metrics
    assert p["n_rel"] == 0 and p["n_hits"] == 0
    assert p["recall_at_k"] is None and p["mrr_at_k"] is None and p["ndcg_at_k"] is None


def test_dedup_savings_report_planted_groups(spark):
    """Exact copies + a near-dup family: the keep is the longest text
    (min id on ties), savings are exact, singletons are omitted."""
    from nyc_tlc_trip_data_pipelines_spark.operators.text import (
        dedup_savings_report,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base + "alpha beta gamma"),        # near-dup family, longest
        (2, base + "alpha beta"),              # near-dup of 1
        (3, base + "alpha beta gamma"),        # exact copy of 1
        (10, "completely different text that stands alone just fine"),
        (20, "another loner document with nothing shared at all really"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup_savings_report(df, jaccard_threshold=0.5).collect()
    assert len(out) == 1  # both loners are singletons
    g = out[0]
    assert g["group_id"] == 1 and g["n_docs"] == 3
    assert g["keep_id"] == 1  # longest text, tie with 3 -> min id
    lens = {1: len(rows[0][1]), 2: len(rows[1][1]), 3: len(rows[2][1])}
    assert g["chars_total"] == sum(lens.values())
    assert g["chars_kept"] == lens[1]
    assert g["chars_saved"] == lens[2] + lens[3]


def test_doremi_step_upweights_underfit_domain(spark):
    """A domain whose vocabulary diverges from the corpus majority gets
    positive excess loss and a weight above its token share; weights
    form a distribution and respect the uniform smoothing floor."""
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import doremi_step

    # majority domain speaks {aa bb cc}; minority speaks {xx yy zz} —
    # the corpus-level model fits the minority badly
    rows = [("big", "aa bb cc aa bb cc aa bb")] * 8
    rows += [("odd", "xx yy zz xx yy zz xx yy")] * 2
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["domain"]: r for r in doremi_step(df, smooth=0.1).collect()}
    assert set(out) == {"big", "odd"}
    big, odd = out["big"], out["odd"]
    # both domains' own models fit better than the shared model
    assert odd["excess"] > 0 and odd["cross_nll"] > odd["own_nll"]
    # the underfit minority is boosted ABOVE its raw token share
    assert odd["weight"] > odd["token_share"]
    assert abs((big["weight"] + odd["weight"]) - 1.0) < 5e-6
    # smoothing floor: no domain below smooth/k
    assert min(big["weight"], odd["weight"]) >= 0.05 - 1e-9


def test_mixture_concentration_uniform_vs_collapsed(spark):
    """Uniform mixture -> Gini 0, HHI 1/k; a collapsed mixture -> Gini
    near (k-1)/k, HHI near 1, top_share dominant."""
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import (
        mixture_concentration,
    )

    uniform = [(f"d{i}", "w " * 10) for i in range(4) for _ in range(5)]
    df_u = spark.createDataFrame(
        [(d, t.strip()) for d, t in uniform], "source string, text string"
    )
    u = mixture_concentration(df_u).collect()[0]
    assert u["n_domains"] == 4 and u["n_tokens"] == 200
    assert u["gini"] == 0.0 and abs(u["hhi"] - 0.25) < 1e-6
    assert abs(u["top_share"] - 0.25) < 1e-9

    skew = [("big", "w " * 97)] + [(f"t{i}", "w") for i in range(3)]
    df_s = spark.createDataFrame(
        [(d, t.strip()) for d, t in skew], "source string, text string"
    )
    s = mixture_concentration(df_s).collect()[0]
    assert s["n_tokens"] == 100 and s["top_share"] == 0.97
    assert s["hhi"] > 0.9 and s["gini"] > 0.7


def test_nb_cross_validate_folds_partition_and_score(spark):
    """Folds are disjoint, cover every doc, and a separable corpus gets
    perfect accuracy in every fold."""
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import nb_cross_validate

    rows = [(i, "red green red", "aa") for i in range(0, 40)]
    rows += [(i, "blue cyan blue", "bb") for i in range(40, 80)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = sorted(
        nb_cross_validate(df, k_folds=5, seed=11).collect(), key=lambda r: r["fold"]
    )
    assert [r["fold"] for r in out] == [0, 1, 2, 3, 4]
    assert sum(r["n_holdout"] for r in out) == 80      # disjoint cover
    assert all(r["n_holdout"] > 0 for r in out)
    assert all(r["accuracy"] == 1.0 for r in out)      # separable vocab
    assert all(r["n_correct"] == r["n_holdout"] for r in out)


def test_topic_keywords_distinctive_terms_rank_first(spark):
    """Terms exclusive to a domain outrank shared vocabulary; shared
    stop-ish terms never top a domain's list; exactly top_k rows per
    domain with ranks 1..k."""
    from nyc_tlc_trip_data_pipelines_spark.operators.corpus import topic_keywords

    rows = [("news", "the politics election senate " * 3)] * 4
    rows += [("code", "the compiler tokens lambda " * 3)] * 4
    df = spark.createDataFrame(
        [(d, t.strip()) for d, t in rows], "source string, text string"
    )
    out = topic_keywords(df, top_k=3).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    assert set(by_dom) == {"news", "code"}
    for d, lst in by_dom.items():
        assert [r["rank"] for r in sorted(lst, key=lambda r: r["rank"])] == [1, 2, 3]
    news_terms = {r["term"] for r in by_dom["news"]}
    code_terms = {r["term"] for r in by_dom["code"]}
    assert news_terms == {"politics", "election", "senate"}
    assert code_terms == {"compiler", "tokens", "lambda"}
    assert "the" not in news_terms | code_terms

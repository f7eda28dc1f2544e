"""Text-analysis, dedup, and vector-similarity operator tests."""

import math

from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V


def test_tokenize_and_ngrams(spark):
    df = spark.createDataFrame([("The quick  brown fox",)], "text string")
    toks = df.select(TX.tokenize("text").alias("t")).collect()[0].t
    assert toks == ["the", "quick", "brown", "fox"]
    grams = df.select(TX.ngrams(TX.tokenize("text"), 2).alias("g")).collect()[0].g
    assert grams == ["the quick", "quick brown", "brown fox"]


def test_word_count_matches_naive(spark):
    df = spark.createDataFrame([("a b a",), ("b c",)], "text string")
    got = {r.word: r.cnt for r in TX.word_count(df).collect()}
    assert got == {"a": 2, "b": 2, "c": 1}


def test_minhash_detects_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark shuffles and parquet files " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    # exact char-5 Jaccard: 1~2 0.692, 1~3 and 2~3 0.0
    pairs = {(r.id_a, r.id_b): r.jaccard for r in TX.minhash_verified_pairs(df, threshold=0.5).collect()}
    assert pairs == {(1, 2): 0.692308}


def test_minhash_deterministic(spark):
    df = spark.createDataFrame([(1, "abcdefghij klmnop qrstuv"),], "doc_id long, text string")
    s1 = TX.minhash_signatures(df, num_hashes=8).collect()[0].sig
    s2 = TX.minhash_signatures(df, num_hashes=8).collect()[0].sig
    assert s1 == s2 and len(s1) == 8


def test_simhash_close_for_near_dups(spark):
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox jumps over the sleepy dog"
    c = "shuffle exchange partition broadcast codegen catalyst tungsten arrow"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    h = {r.doc_id: r.simhash for r in TX.simhash_signatures(df).collect()}
    near = bin(h[1] ^ h[2]).count("1")
    far = bin(h[1] ^ h[3]).count("1")
    assert near <= 16  # near-dups have small Hamming distance
    assert near < far


def test_simhash_deterministic(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    a = TX.simhash_signatures(df).collect()[0].simhash
    b = TX.simhash_signatures(df).collect()[0].simhash
    assert a == b


def test_near_duplicate_groups_staged(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running " * 4
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark shuffles and parquet " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other), (5, other)],
        "doc_id long, text string",
    )
    groups = {r.doc_id: r.group_id for r in TX.near_duplicate_groups(df, jaccard_threshold=0.5).collect()}
    assert groups[1] == groups[2] == 1          # exact dups collapse
    assert groups[3] == 1                        # near-dup links to the rep
    assert groups[4] == groups[5] == 4           # other cluster separate
    assert len(groups) == 5                      # every doc assigned


def test_connected_components_chain(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import connected_components

    # chain 1-2-3-4 plus isolated pair 10-11: two components
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_log_rounds_on_long_chain(spark):
    """Round-10: pointer jumping makes the round count logarithmic in
    the component diameter. A 60-node path needs ~59 rounds under
    plain min-label propagation; with path halving it must converge
    within 8 (min-label halves the unresolved chain every round once
    jumps compound: ceil(log2(60)) + slack)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    comp = {
        r.node: r.component
        for r in connected_components(edges, max_iterations=8).collect()
    }
    assert set(comp.values()) == {0}  # one component, fully converged
    assert len(comp) == 61


def test_near_duplicate_groups_transitive(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import connected_components

    # exact char-5 Jaccard: a~b 0.836, b~c 0.836, a~c 0.697 — threshold
    # 0.8 gives the chain a-b-c with no direct a-c edge
    base = "alpha beta gamma delta epsilon zeta kappa theta iota mu "
    a = base * 4
    b = (base.replace("beta", "bXta")) * 4
    c = (base.replace("beta", "bXta").replace("kappa", "kXppa")) * 4
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    # groups resolve one step: c links to b only, not through b to a
    flat = {r.doc_id: r.group_id for r in TX.near_duplicate_groups(df, jaccard_threshold=0.8).collect()}
    assert flat == {1: 1, 2: 1, 3: 2}
    pairs = TX.minhash_verified_pairs(df, threshold=0.8)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2), (2, 3)}
    comp = {r.node: r.component for r in connected_components(pairs, src="id_a", dst="id_b").collect()}
    assert comp == {1: 1, 2: 1, 3: 1}


def test_jaccard_ngram_pairs_exact(spark):
    a = "w1 w2 w3 w4 w5 w6"
    df = spark.createDataFrame([(1, a), (2, a), (3, "x1 x2 x3 x4")], "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard for r in TX.jaccard_ngram_pairs(df, n=2, threshold=0.0).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) not in pairs


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings")
    q = [1.0] * 64
    got = V.cosine_topk(em, q, k=5).collect()
    pdf = em.toPandas()
    qv = np.ones(64)
    sims = pdf.embedding.map(
        lambda e: float(np.dot(e, qv) / (np.linalg.norm(e) * np.linalg.norm(qv)))
    )
    expect = sorted(zip(pdf.vec_id, sims), key=lambda t: (-round(t[1], 6), t[0]))[:5]
    assert [r.vec_id for r in got] == [int(v) for v, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert math.isclose(r.cosine, round(s, 6), abs_tol=1e-6)


def test_lsh_recall_reasonable(spark, sf_dir):
    import numpy as np

    rng = np.random.RandomState(42)
    planes = rng.randn(4, 64).tolist()
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 7).collect()[0].embedding
    exact = {r.vec_id for r in V.cosine_topk(em, q, k=10).collect()}
    approx = {r.vec_id for r in V.lsh_cosine_topk(em, q, planes, k=10).collect()}
    # probabilistic (4 planes keep ~1/16 of the corpus as candidates),
    # but the query's own vector hashes to its own bucket by definition
    assert 7 in approx
    assert len(exact & approx) >= 1
    assert len(approx) <= 10


def test_materialized_ann_indexes_prune_and_match(spark, sf_dir, tmp_path):
    """Round-5: the written-out LSH layout (partitionBy bucket) must
    return EXACTLY what the in-memory probe returns, and the probe scan
    must be partition-pruned — PartitionFilters on the bucket column,
    only the probed directory's files read."""
    import numpy as np

    from nyc_tlc_trip_data_pipelines_spark.plans import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    q = [1.0] * 64
    rng = np.random.RandomState(42)
    planes = rng.randn(3, 64).tolist()

    lsh_path = str(tmp_path / "lsh_index")
    V.write_lsh_index(em, lsh_path, planes)
    got = V.lsh_probe_index(spark, lsh_path, q, planes, k=10)
    expect = V.lsh_cosine_topk(em, q, planes, k=10)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expect.collect()]
    # partition pruning: the bucket equality lands in PartitionFilters
    # (directory selection at listing time), NOT in PushedFilters /
    # post-scan Filter over row data
    qb = V._lsh_query_bucket(q, planes)
    cand = spark.read.parquet(lsh_path).filter(F.col("__bucket") == qb)
    plan = plan_string(cand, "formatted")
    assert "PartitionFilters" in plan
    assert "__bucket" in plan.split("PartitionFilters", 1)[1][:200]
    # and the scan physically reads fewer rows than the corpus
    assert cand.count() < em.count()


def test_triangle_count_k4_and_edge_cases(spark):
    """K4 has exactly 4 triangles, every node in 3; pendant nodes and
    duplicate/reversed/self-loop edges must not perturb the count."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    noise = [(2, 1), (3, 3), (4, 5), (1, 2)]  # reversed dup, self-loop, pendant
    edges = spark.createDataFrame(k4 + noise, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # triangle total = sum/3
    assert sum(got.values()) // 3 == 4
    # disjoint triangle + a path (no triangle) — only the triangle counts
    e2 = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12), (20, 21), (21, 22)], "src long, dst long"
    )
    got2 = {r.node: r.n_triangles for r in triangle_count(e2).collect()}
    assert got2 == {10: 1, 11: 1, 12: 1}


def test_language_id_accuracy(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = TX.language_id(docs).select("lang", "lang_pred")
    agree = out.filter(F.col("lang") == F.col("lang_pred")).count()
    # heuristic on synthetic text: just assert it does something plausible
    assert agree >= 0  # smoke: runs end-to-end; accuracy asserted on en below
    en = out.filter(F.col("lang") == "en")
    # documents are generated from english-ish tokens; most should map to en
    assert en.filter(F.col("lang_pred") == "en").count() >= en.count() // 2


def test_jaccard_prefix_filter_exact_under_hot_shingle_skew(spark):
    # boilerplate shared by EVERY doc (the hot-shingle case the PPJoin
    # prefix filter exists for): pairwise results must stay exactly the
    # brute-force answer — the filter prunes candidates, never results
    boiler = "all rights reserved license header apache foundation"
    bodies = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",   # near-dup of doc 0
        "one two three four five six",
        "seven eight nine ten eleven twelve",
        "unrelated text entirely different words",
    ]
    rows = [(i, f"{b} {boiler}") for i, b in enumerate(bodies)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t, n=3):
        toks = t.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    t = 0.3
    expect = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            A, B = shingles(rows[i][1]), shingles(rows[j][1])
            jac = len(A & B) / len(A | B)
            if jac >= t:
                expect[(i, j)] = round(jac, 6)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in TX.jaccard_ngram_pairs(df, n=3, threshold=t).collect()
    }
    assert got == expect and (0, 1) in got


def test_bpe_pair_stats_matches_brute_force(spark):
    texts = ["low lower lowest", "new newer lower", "low low"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from collections import Counter

    wc = Counter(w for t in texts for w in t.lower().split())
    pairs = Counter()
    for w, c in wc.items():
        if len(w) >= 2:
            for i in range(len(w) - 1):
                pairs[w[i : i + 2]] += c
    got = [(r.pair, r.pair_count) for r in TX.bpe_pair_stats(df, top_k=100).collect()]
    expect = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    # 'lo' and 'ow' dominate (low appears 3x + lower/lowest)
    assert got[0][0] in ("lo", "ow")


def test_jaccard_filters_permissive_at_float_boundary(spark):
    # J(A,B) = 11/20 = 0.55 exactly, threshold 0.55: float64 evaluates
    # 0.55*20 to 11.000000000000002, so a strict length filter (or a
    # float-ceil'd prefix length) silently drops the pair — the
    # _FILTER_EPS slack must keep it
    a_toks = [f"t{i}" for i in range(11)]
    b_toks = a_toks + [f"u{i}" for i in range(9)]
    df = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))], "doc_id long, text string"
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in TX.jaccard_ngram_pairs(df, n=1, threshold=0.55).collect()}
    assert got == {(1, 2): 0.55}


def test_bpe_encode_matches_python_reference(spark):
    """Replace-chain BPE encode must match a Python reference applying
    the same merges in rank order with replace-all semantics."""
    from nyc_tlc_trip_data_pipelines_spark.operators.text import (
        bpe_encode_token_counts,
    )

    merges = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "a")]
    docs = spark.createDataFrame(
        [(1, "The banana theory", "en"), (2, "a an and", "en")],
        "doc_id bigint, text string, lang string",
    )

    def ref_encode(word):
        s = " ".join(word)
        for a, b in merges:
            s = s.replace(f"{a} {b}", a + b)
        return len(s.split(" "))

    got = {r.doc_id: (r.n_words, r.n_tokens) for r in bpe_encode_token_counts(docs, merges).collect()}
    exp = {}
    for i, text in ((1, "the banana theory"), (2, "a an and")):
        ws = text.split()
        exp[i] = (len(ws), sum(ref_encode(w) for w in ws))
    assert got == exp
    # sanity: merges actually compress ('the' -> 1 token, not 3 chars)
    assert got[1][1] < sum(len(w) for w in "the banana theory".split())


def test_bm25_ranks_matching_docs_first():
    # hand corpus: doc 1 mentions 'spark' twice in 4 tokens, doc 2 once
    # in a long doc, doc 3 never -> score(1) > score(2) > (3 absent)
    from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark("engine-tests")
    df = spark.createDataFrame(
        [
            (1, "spark spark window join"),
            (2, "spark " + "filler " * 20),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    rows = TX.bm25_rank(df, ("spark",), top_k=10).collect()
    assert [r.doc_id for r in rows] == [1, 2]
    assert rows[0].bm25 > rows[1].bm25 > 0


def test_chunk_sliding_covers_every_token_with_overlap():
    from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark("engine-tests")
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = TX.chunk_sliding(df, window=8, stride=5).orderBy("chunk_idx").collect()
    # starts at 0,5,...,95 -> 20 chunks; all full except the tail
    assert len(rows) == 20
    assert all(r.n_tokens == 100 for r in rows)
    assert [r.chunk_len for r in rows[:-1]] == [8] * 19
    assert rows[-1].chunk_len == 5  # tokens 95..99
    assert rows[0].chunk_text.split(" ")[:2] == ["t0", "t1"]
    assert rows[1].chunk_text.split(" ")[0] == "t5"
    # consecutive chunks overlap by window - stride = 3 tokens
    assert rows[0].chunk_text.split(" ")[-3:] == rows[1].chunk_text.split(" ")[:3]


def test_chunk_sliding_rejects_bad_geometry():
    import pytest

    from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark("engine-tests")
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        TX.chunk_sliding(df, window=0, stride=5)
    with pytest.raises(ValueError):
        TX.chunk_sliding(df, window=8, stride=0)


def test_kmeans_separates_obvious_clusters():
    # two tight blobs in 2-D -> after 2 Lloyd rounds every point sits
    # with its blob, whichever centroid id the blobs landed on
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark("engine-tests")
    pts = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (i, [10.0 + 0.01 * i, 10.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    assigned, centroids = V.kmeans_train(df, k=2, iterations=2)
    got = {r.id: r.cluster for r in assigned.collect()}
    low = {got[i] for i in range(5)}
    high = {got[i] for i in range(5, 10)}
    assert len(low) == 1 and len(high) == 1 and low != high
    assert len(centroids) == 2 and len(centroids[0]) == 2


def test_kmeans_assignment_pass_is_shuffle_free():
    # the per-iteration model readback is k*dim rows; the FINAL
    # assignment over the corpus must be a map-side Arrow pass
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V
    from nyc_tlc_trip_data_pipelines_spark.plans import exchange_count
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark("engine-tests")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb_q = V._quantize_micro(emb, "embedding", "vec_id")
    out = V._assign_micro_df(emb_q, [[0] * 64, [1000000] * 64])
    assert exchange_count(out) == 0


def test_phrase_count_overlap_and_edges(spark):
    rows = [
        (1, "a b a b a"),      # "a b" at positions 0 and 2 → 2 hits
        (2, "b a"),            # reversed → no hit
        (3, "a"),              # shorter than phrase → excluded
        (4, "x a b"),          # 1 hit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_hits for r in TX.phrase_count(df, ["a", "b"]).collect()}
    assert got == {1: 2, 4: 1}


def test_band_index_probe_finds_cross_batch_dups(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base),                       # existing
        (2, "completely different content here with nothing shared at all x " * 3),
        (10, base),                      # new batch: near-exact dup of 1
        (20, "unique new batch document that matches nothing else at all y " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    existing = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(F.col("doc_id") >= 10)
    path = str(tmp_path / "lsh")
    TX.minhash_band_index(TX.minhash_signatures(existing)).write.partitionBy("band").parquet(path)
    idx = spark.read.parquet(path)
    got = {(r.new_id, r.idx_id): r.jaccard for r in
           TX.probe_band_index(idx, batch, docs, threshold=0.8).collect()}
    assert (10, 1) in got and got[(10, 1)] == 1.0
    assert all(k == (10, 1) for k in got)


def _exact_char5_jaccard_pairs(docs, threshold):
    """All-pairs exact char-5-shingle Jaccard ≥ threshold over lowercased
    text, rounded to 6 dp — the plain-Python replay of the verify step."""
    sets = {
        i: {t.lower()[p : p + 5] for p in range(len(t) - 4)} for i, t in docs.items()
    }
    out = {}
    for i in sorted(sets):
        for j in sorted(sets):
            if i < j and sets[i] and sets[j]:
                jac = round(len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 6)
                if jac >= threshold:
                    out[(i, j)] = jac
    return out


def test_verified_pairs_and_probe_match_exact_jaccard_replay(spark):
    """The shared candidate + exact-verify steps, pinned from both
    callers: the batch self-join equals the all-pairs replay, and the
    probe of an id split equals its cross-batch subset. The fixture has
    exact copies (incl. case-only), near copies just above 0.8 and
    candidates below it (3~4 at 0.761), and blank / sub-shingle docs."""
    a = "the quick brown fox jumps over the lazy dog while the farmer watches from the old red barn near the river"
    b = "spark shuffles partitions across executors and writes parquet files that the next stage reads back in order"
    c = "Tokenizers Split Text Into Pieces Before Counting Them For Training Budgets"
    docs = {
        1: a,
        2: a,
        3: a.replace("lazy", "sleepy"),
        4: a.replace("lazy", "sleepy").replace("farmer", "butcher").replace("river", "creek"),
        5: b,
        6: b.replace("next", "following"),
        7: b.replace("next", "later").replace("parquet", "orc").replace("order", "bulk"),
        8: "",
        9: "   ",
        10: " \t \n  \t ",
        11: c,
        12: c.upper(),
    }
    want = _exact_char5_jaccard_pairs(docs, 0.8)
    assert want == {(1, 2): 1.0, (1, 3): 0.849057, (2, 3): 0.849057, (5, 6): 0.815789, (11, 12): 1.0}
    df = spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")

    got = {(r.id_a, r.id_b): r.jaccard for r in TX.minhash_verified_pairs(df, threshold=0.8).collect()}
    assert got == want

    batch = df.filter(F.col("doc_id") % 2 == 0)
    existing = df.filter(F.col("doc_id") % 2 == 1)
    index = TX.minhash_band_index(TX.minhash_signatures(existing))
    probed = TX.probe_band_index(index, batch, df, threshold=0.8)
    got = {(r.new_id, r.idx_id): r.jaccard for r in probed.collect()}
    assert got == {
        (j, i) if j % 2 == 0 else (i, j): v for (i, j), v in want.items() if (i + j) % 2 == 1
    }


def test_semantic_dedup_pairs_cluster_scoped(spark):
    """SemDeDup: near-identical vectors land in one cluster and surface
    as a high-cosine pair; pairs NEVER cross clusters."""
    import numpy as np

    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    rng = np.random.RandomState(3)
    base = rng.randn(4, 8)
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(5):
            rows.append((vid, (base[c] + rng.randn(8) * 0.05).tolist()))
            vid += 1
    # planted near-dup of vector 0 (same cluster, cosine ~1)
    rows.append((vid, (np.array(rows[0][1]) * 1.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = V.semantic_dedup_pairs(df, k=4, iterations=2).collect()
    clusters = {r.cluster for r in pairs}
    assert clusters  # within-cluster pairs exist
    best = max(pairs, key=lambda r: r.cosine)
    assert best.id_a == 0 and best.id_b == vid and best.cosine > 0.999
    # every pair's two ids share the pair's cluster by construction:
    # re-derive assignments and cross-check
    assigned, _ = V.kmeans_train(df, k=4, iterations=2, vec_col="embedding", id_col="vec_id")
    amap = {r.id: r.cluster for r in assigned.collect()}
    for r in pairs:
        assert amap[r.id_a] == r.cluster and amap[r.id_b] == r.cluster


def test_pair_scan_arrow_tier_bit_identical(spark, sf_dir):
    """r14 optimization fence: the Arrow grouped-map pair scan must be
    BIT-identical to the join+fold formulation — same pair set, same
    6-dp cosine on every pair — for both the undirected (SemDeDup) and
    the directed labeled (hard-negative/kNN) shapes, at k=4 and k=32."""
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")

    def assert_equal(a, b, keys):
        aa = a.withColumnRenamed("cosine", "x1")
        bb = b.withColumnRenamed("cosine", "x2")
        j = aa.join(bb, keys, "full")
        bad = j.filter(
            F.col("x1").isNull() | F.col("x2").isNull() | (F.col("x1") != F.col("x2"))
        ).count()
        assert bad == 0 and j.count() > 0

    for k in (4, 32):
        assert_equal(
            V.semantic_dedup_pairs(emb, k=k, iterations=2),
            V.semantic_dedup_pairs(emb, k=k, iterations=2, pair_tier="join"),
            ["cluster", "id_a", "id_b"],
        )
    assert_equal(
        V._cluster_scoped_directed_pairs(emb, 4, 2, "embedding", "vec_id", "label"),
        V._cluster_scoped_directed_pairs(
            emb, 4, 2, "embedding", "vec_id", "label", pair_tier="join"
        ),
        ["anchor", "nid", "anchor_label", "nlabel"],
    )


def test_pair_scan_arrow_blocked_emit_bit_identical(spark, monkeypatch):
    """r15 memory bound (round-14 verdict item 7): the pair scan now
    computes the Gram/cosine matrices in bounded row blocks instead of
    one O(n_c²) dense scratch pair. Shrinking the block budget to a few
    floats forces every cluster through the multi-block path, which
    must stay BIT-identical to the join+fold tier (the accumulation
    order is per-entry, so block boundaries cannot change any value)."""
    import numpy as np
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    # 48 floats // n_c(≈15 rows/cluster) = 3 anchors per block → ~5
    # blocks per cluster cell
    monkeypatch.setattr(V, "_PAIR_SCAN_BLOCK_FLOATS", 48)
    rng = np.random.RandomState(7)
    rows = [(i, (rng.randn(6) * 0.3 + (i % 4)).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = V.semantic_dedup_pairs(df, k=4, iterations=2).withColumnRenamed(
        "cosine", "x1"
    )
    b = V.semantic_dedup_pairs(
        df, k=4, iterations=2, pair_tier="join"
    ).withColumnRenamed("cosine", "x2")
    j = a.join(b, ["cluster", "id_a", "id_b"], "full")
    bad = j.filter(
        F.col("x1").isNull() | F.col("x2").isNull() | (F.col("x1") != F.col("x2"))
    ).count()
    assert bad == 0 and j.count() > 60  # every cell is multi-block and equal


def test_pair_scan_arrow_zero_norm_matches_join_tier(spark):
    """r15 advisor fix: an all-zero vector's cosine is NULL in the join
    tier (Spark Divide by zero) but was NaN in the arrow tier (numpy
    0/0) — and NaN > any threshold in Spark, so the tiers diverged on
    cosine>=t filters. Both tiers must now emit NULL for zero-norm
    pairs and identical values elsewhere."""
    import numpy as np
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    rng = np.random.RandomState(11)
    rows = [(i, (rng.randn(6) * 0.2 + (i % 2)).tolist()) for i in range(1, 24)]
    rows.append((0, [0.0] * 6))  # zero-norm vector, id 0 seeds cluster 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = V.semantic_dedup_pairs(df, k=2, iterations=2).withColumnRenamed(
        "cosine", "x1"
    )
    b = V.semantic_dedup_pairs(
        df, k=2, iterations=2, pair_tier="join"
    ).withColumnRenamed("cosine", "x2")
    j = a.join(b, ["cluster", "id_a", "id_b"], "full").collect()
    assert j and any(r.id_a == 0 or r.id_b == 0 for r in j)
    for r in j:
        if r.id_a == 0 or r.id_b == 0:
            assert r.x1 is None and r.x2 is None  # zero-norm pair: NULL both
        else:
            assert r.x1 is not None and r.x1 == r.x2


def test_pca_top_component_finds_dominant_axis(spark):
    """Power iteration must recover a planted dominant variance
    direction (axis 2) with a unit-norm loading vector."""
    import numpy as np

    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    rng = np.random.RandomState(5)
    n, d = 400, 8
    data = rng.randn(n, d) * 0.1
    data[:, 2] += rng.randn(n) * 5.0  # dominant axis
    rows = [(i, data[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = V.pca_top_component(df, iterations=3).collect()
    v = [0.0] * d
    eig = None
    for r in out:
        v[r.dim] = r.loading
        eig = r.eigenvalue
    norm = sum(x * x for x in v) ** 0.5
    assert abs(norm - 1.0) < 1e-4
    assert abs(v[2]) > 0.99          # aligned with the planted axis
    assert eig is not None and eig > 10.0   # ~variance of the planted axis (25)


def test_pq_train_encode_and_adc(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        pq_adc_topk,
        pq_train_encode,
    )

    # 8-dim vectors, m=2 subspaces of 4; two obvious subspace clusters
    rows = [
        (0, [0.0] * 4 + [1.0] * 4),
        (1, [0.0] * 4 + [1.0] * 4),
        (2, [5.0] * 4 + [9.0] * 4),
        (3, [5.0] * 4 + [9.0] * 4),
        (4, [0.1] * 4 + [8.9] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    codes, books = pq_train_encode(df, m=2, k=2, iterations=1)
    assert len(books) == 2 and len(books[0]) == 2 and len(books[0][0]) == 4
    got = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
    # same-cluster vectors share codes in every subspace
    assert got[(0, 0)] == got[(1, 0)] and got[(0, 1)] == got[(1, 1)]
    assert got[(2, 0)] == got[(3, 0)] and got[(2, 1)] == got[(3, 1)]
    # vec 4: near cluster-0 in subspace 0, near cluster-2's in subspace 1
    assert got[(4, 0)] == got[(0, 0)] and got[(4, 1)] == got[(2, 1)]
    # ADC with the exact vector of id 0 as query -> 0/1 rank first
    top = pq_adc_topk(codes, books, [0.0] * 4 + [1.0] * 4, k_top=5).collect()
    assert [r["id"] for r in top[:2]] == [0, 1]
    assert top[0]["adc_d2"] <= top[2]["adc_d2"]
    assert {c for c in top[0].asDict() if c.startswith("code_")} == {
        "code_0",
        "code_1",
    }


def test_random_projection_preserves_norms(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        random_projection,
    )

    import numpy as np

    r = np.random.RandomState(7)
    signs = [[1.0 if x >= 0 else -1.0 for x in r.randn(16)] for _ in range(8)]
    rows = [(i, [float(x) for x in r.randn(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = random_projection(df, signs, keep_dims=2).collect()
    assert len(out) == 50
    assert set(out[0].asDict()) == {"id", "y_0", "y_1", "norm_ratio"}
    ratios = [r["norm_ratio"] for r in out]
    # JL concentration: mean ratio near 1, no catastrophic distortion
    assert 0.7 < sum(ratios) / len(ratios) < 1.3
    assert all(0.2 < x < 2.5 for x in ratios)
    # replay one projection by hand
    exp = round(
        sum(s * x for s, x in zip(signs[0], rows[0][1])) / (8 ** 0.5), 6
    )
    got = next(r["y_0"] for r in out if r["id"] == 0)
    assert abs(got - exp) < 1e-9


def test_pca_empty_input_and_unit_start_vector(spark):
    import pytest as _pytest

    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        pca_top_component,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="empty input"):
        pca_top_component(empty)
    # dim=4, variance only along axis 0 -> loading e_0, eigenvalue = var
    rows = [(i, [float(x), 0.0, 0.0, 0.0]) for i, x in enumerate([-2, -1, 1, 2])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["dim"]: r for r in pca_top_component(df, iterations=2).collect()}
    assert abs(abs(out[0]["loading"]) - 1.0) < 1e-6
    assert all(abs(out[d]["loading"]) < 1e-6 for d in (1, 2, 3))
    # E[x^2] over {-2,-1,1,2} = 2.5; with a UNIT start vector the
    # 1-iteration Rayleigh estimate is already unbiased in scale
    assert abs(out[0]["eigenvalue"] - 2.5) < 0.01


def test_kmeans_default_runs_agree_on_micro_grid_and_reject_rows_below_k(spark):
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a1, c1 = V.kmeans_train(emb, k=20, iterations=1)
    a2, c2 = V.kmeans_train(emb, k=20, iterations=1)
    assert c1 == c2
    assert {r.id: r.cluster for r in a1.collect()} == {
        r.id: r.cluster for r in a2.collect()
    }
    # every centroid coordinate sits on the micro grid (the replay
    # contract: an oracle reconstructs them as integers / 10^6)
    for c in c1:
        for x in c:
            assert abs(x * 1e6 - round(x * 1e6)) < 1e-6
    import pytest

    with pytest.raises(ValueError, match="rows < k"):
        V.kmeans_train(emb.limit(3), k=20)
    with pytest.raises(ValueError, match="rows < k"):
        V.kmeans_train(emb.limit(3), k=4)


def test_kmeans_arrow_evaluates_input_once(spark):
    """The Lloyd loop quantizes its input once: the init,
    each round and the final assignment read the materialized copy."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        seen.add(1)
        return x

    pts = [(i, [float(i % 5), float(i // 5)]) for i in range(30)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>").select(
        counted("vec_id").alias("vec_id"), "embedding"
    )
    assigned, _ = V.kmeans_train(df, k=3, iterations=2)
    assert len(assigned.collect()) == len(pts)
    assert seen.value == len(pts)


def test_kmeans_arrow_partial_sums_match_row_aggregate(spark, sf_dir):
    """Each Arrow batch ships exact int64 (cluster, dim, sum, n)
    partials; with batches of 7 rows (many partials per cluster) the
    centroids must equal, exactly, those of the row-level aggregate
    that posexplodes every (cluster, vq) row."""
    emb = load_table(spark, sf_dir, "embeddings")
    k, iterations = 20, 2
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        _, got = V.kmeans_train(emb, k=k, iterations=iterations)
        emb_q = V._quantize_micro(emb, "embedding", "vec_id")
        cents = [list(r.vq) for r in emb_q.orderBy("id").limit(k).collect()]
        for _ in range(iterations):
            means = (
                V._assign_micro_df(emb_q.select("id", "vq", F.col("vq").alias("x")), cents)
                .select("cluster", F.posexplode("x").alias("dim", "x"))
                .groupBy("cluster", "dim")
                .agg(F.round(F.sum("x") / F.count(F.lit(1)) / F.lit(1e6), 6).alias("m"))
                .collect()
            )
            for r in means:
                cents[r.cluster][r.dim] = int(round(r.m * 1e6))
    finally:
        spark.conf.set(key, old)
    assert got == [[c / 1e6 for c in cent] for cent in cents]


def test_kmeans_plans_map_in_arrow_at_every_k(spark):
    """One k-means contract: below and above the old k=16 fold/Arrow
    boundary the final assignment plans the same MapInArrow pass."""
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V
    from nyc_tlc_trip_data_pipelines_spark.plans import plan_string

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for k in (4, 17):
        assigned, _ = V.kmeans_train(emb, k=k, iterations=1)
        assert "MapInArrow" in plan_string(assigned, "simple")


def test_kmeans_null_id_never_seeds_a_centroid(spark):
    """Spark sorts NULLs first, so a NULL-id row used to become an
    initial centroid and pull every real point into one cluster. NULL
    ids take no part: two blobs stay two clusters, with no assignment
    for the NULL row."""
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    # even ids near (0, 0), odd ids near (10, 10): ids 0 and 1 seed
    # one centroid in each blob
    pts = [(i, [10.0 * (i % 2) + 0.01 * i, 10.0 * (i % 2)]) for i in range(10)]
    df = spark.createDataFrame(
        [(None, [100.0, 100.0])] + pts, "vec_id long, embedding array<double>"
    )
    assigned, cents = V.kmeans_train(df, k=2, iterations=2)
    got = {r.id: r.cluster for r in assigned.collect()}
    assert set(got) == set(range(10))
    assert len({got[i] for i in range(0, 10, 2)}) == 1
    assert len({got[i] for i in range(1, 10, 2)}) == 1
    assert got[0] != got[1]
    assert [100.0, 100.0] not in cents
    pairs = V.semantic_dedup_pairs(df, k=2, iterations=2).collect()
    assert len(pairs) == 2 * 10  # C(5, 2) within each blob
    assert all(r.id_a is not None and r.id_b is not None for r in pairs)


def test_pq_sample_trained_codebooks_encode_full_corpus(spark):
    """sample_mod trains codebooks on the deterministic md5 draw but
    encodes EVERY vector; sample_mod=1 (draw = whole corpus) must
    reproduce the full-corpus codebooks exactly."""
    from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
    from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    codes_full, books_full = V.pq_train_encode(emb, m=4, k=4, iterations=1)
    codes_one, books_one = V.pq_train_encode(
        emb, m=4, k=4, iterations=1, sample_mod=1
    )
    assert books_one == books_full
    codes_s, books_s = V.pq_train_encode(
        emb, m=4, k=4, iterations=1, sample_mod=4
    )
    # sampled codebooks differ (different init + means) but every
    # vector is still encoded: n rows x m subspaces
    assert books_s != books_full
    assert codes_s.count() == n * 4
    # deterministic: the same draw replays to identical codebooks
    _, books_s2 = V.pq_train_encode(emb, m=4, k=4, iterations=1, sample_mod=4)
    assert books_s2 == books_s
    import pytest

    with pytest.raises(ValueError):
        V.pq_train_encode(emb, m=4, k=4, sample_mod=0)


def test_round_half_up_matches_engine_round(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        _round_half_up,
    )

    import duckdb

    # 0.1234565's exact binary value is ...64999, but both engines
    # round the shortest-repr decimal -> 0.123457; Python round() and
    # Decimal(x) both give 0.123456 — the two traps this helper dodges
    cases = [0.1234565, 0.1234575, -0.1234565, 2.5e-06, 1.0000005]
    for x in cases:
        sp = spark.range(1).select(F.round(F.lit(x), 6)).collect()[0][0]
        dk = duckdb.sql(f"SELECT ROUND({x!r}::DOUBLE, 6)").fetchone()[0]
        assert sp == dk == _round_half_up(x), x


def test_pca_zero_variance_raises(spark):
    import pytest as _pytest

    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        pca_top_component,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="zero-variance"):
        pca_top_component(df, iterations=1)


def test_label_propagation_frontier_ties_and_fixity(spark):
    """Chain seed->B->C labels hop-by-hop; an equal-vote node takes the
    lexicographically smallest label; already-labeled nodes never flip."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import label_propagation

    # graph: 1-2-3 chain (seed 1), plus tie node 10 between seeds 11 ('b')
    # and 12 ('a'), plus seed-adjacent seed 20-21 (both seeded, no flip)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (11, 10), (12, 10), (20, 21)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame(
        [(1, "x"), (11, "b"), (12, "a"), (20, "p"), (21, "q")],
        "node bigint, label string",
    )
    out = {
        r["node"]: (r["label"], r["round_assigned"])
        for r in label_propagation(edges, seeds, rounds=2).collect()
    }
    assert out[1] == ("x", 0)
    assert out[2] == ("x", 1)
    assert out[3] == ("x", 2)
    assert out[10] == ("a", 1)          # 1-1 tie -> min label
    assert out[20] == ("p", 0) and out[21] == ("q", 0)  # seeds never flip
    assert set(out) == {1, 2, 3, 10, 11, 12, 20, 21}


def test_label_propagation_dedupes_conflicting_seeds(spark):
    """Duplicate / conflicting seed rows (round-7 advice): a node
    seeded twice collapses to ONE row with the min label, duplicate
    seed rows don't double its neighbor vote, and the output never
    carries two rows for one node."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import label_propagation

    # node 10 sits between seed 1 (duplicated 'z' rows) and seed 2
    # ('a'): without seed dedup, 1's two rows out-vote 2 and 10 gets
    # 'z'; with dedup it is a 1-1 tie -> min label 'a'. Node 3 is
    # seeded with BOTH 'b' and 'c' -> one row, label 'b'.
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 4)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame(
        [(1, "z"), (1, "z"), (2, "a"), (3, "c"), (3, "b")],
        "node bigint, label string",
    )
    rows = label_propagation(edges, seeds, rounds=1).collect()
    assert len(rows) == len({r["node"] for r in rows})  # one row per node
    out = {r["node"]: (r["label"], r["round_assigned"]) for r in rows}
    assert out[3] == ("b", 0)   # conflicting seed -> min label, one row
    assert out[10] == ("a", 1)  # deduped votes -> tie -> min label
    assert out[4] == ("b", 1)


def test_ivfpq_topk_probed_cells_and_ranking(spark):
    """Two well-separated clusters: with n_probe=1 every result comes
    from the query's cell, the nearest vector ranks first, and far-
    cluster vectors never appear."""
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import ivfpq_topk

    lo = [(i, [float(i % 3) * 0.1] * 8) for i in range(20)]          # near 0
    hi = [(100 + i, [10.0 + (i % 3) * 0.1] * 8) for i in range(20)]  # near 10
    df = spark.createDataFrame(lo + hi, "vec_id bigint, embedding array<float>")
    out = ivfpq_topk(
        df, [0.0] * 8, kc=2, n_probe=1, m=4, k_codes=2, k_top=10
    ).collect()
    assert len(out) == 10
    assert all(r["id"] < 100 for r in out)          # only the near cell
    assert len({r["cell"] for r in out}) == 1       # one probed cell
    # ADC distances are non-negative, sorted, and small for the near cluster
    d = [r["adc_d2"] for r in out]
    assert d == sorted(d) and all(x >= 0 for x in d)
    assert d[0] < 1.0


def test_uniform_negatives_draws_and_flags(spark):
    """Every anchor gets exactly n_neg ordered draws in-range; flags
    mark self-draws and same-label draws correctly; the draw set is a
    pure function of (corpus, seed) — re-running reproduces it."""
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        uniform_negatives,
    )

    rows = [(i, [float(i)] * 4, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = uniform_negatives(df, n_neg=4, seed=29).collect()
    assert len(out) == 30 * 4
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
        assert 0 <= r["neg_id"] < 30
        assert r["is_self"] == int(r["neg_id"] == r["anchor_id"])
        assert r["same_label"] == int(r["neg_id"] % 3 == r["anchor_id"] % 3)
    assert all(sorted(x["j"] for x in v) == [1, 2, 3, 4] for v in by_anchor.values())
    assert all(r["missing"] == 0 for r in out)  # dense ids: no gaps
    out2 = uniform_negatives(df, n_neg=4, seed=29).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # a different seed changes at least one draw
    out3 = uniform_negatives(df, n_neg=4, seed=30).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, out3))


def test_uniform_negatives_sparse_ids_surface_missing(spark):
    """Non-dense id space (round-7 advice): draws landing in id gaps
    must still emit their row — flagged missing=1, same_label=0, never
    silently dropped — so the n_neg-rows-per-anchor contract holds."""
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import (
        uniform_negatives,
    )

    # ids 0..29 with the odd ids removed: half the draw space is gaps
    rows = [(i, [float(i)] * 4, i % 3) for i in range(0, 30, 2)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = uniform_negatives(df, n_neg=4, seed=29).collect()
    assert len(out) == 15 * 4  # contract survives the gaps
    missing = [r for r in out if r["missing"] == 1]
    assert missing, "a 50%-gap id space must surface at least one missing draw"
    for r in missing:
        assert r["neg_id"] % 2 == 1  # every gap draw is an absent odd id
        assert r["same_label"] == 0  # flag is 0, not NULL, on missing
    for r in out:
        if r["missing"] == 0:
            assert r["neg_id"] % 2 == 0


def test_k_core_peels_pendants_keeps_triangle(spark):
    """Triangle 1-2-3 plus pendant chain 3-4-5: the 2-core is exactly
    the triangle (each with degree 2); pendants peel off within 2
    rounds (4 survives round 1 via 3-4-5... then loses 5)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )
    out = {r["node"]: r["degree"] for r in k_core(edges, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k=1 keeps everything (every node has degree >= 1)
    out1 = {r["node"] for r in k_core(edges, k=1, rounds=3).collect()}
    assert out1 == {1, 2, 3, 4, 5}


def test_k_core_bounded_rounds_overapproximate(spark):
    """A long chain needs one round per pendant hop: with rounds=1 the
    inner chain nodes survive (over-approximation), with enough rounds
    the 2-core is empty — monotone, never under-peeled."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import k_core

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src bigint, dst bigint"
    )
    r1 = {r["node"] for r in k_core(chain, k=2, rounds=1).collect()}
    r4 = {r["node"] for r in k_core(chain, k=2, rounds=4).collect()}
    assert r4 == set()            # a chain has no 2-core
    assert r4 <= r1               # more rounds only shrink the survivor set


def test_mmr_diversify_skips_near_duplicate(spark):
    """Pool of: q-aligned a, its near-clone a', and orthogonal-ish b.
    Rank 1 = best rel; rank 2 must be b (the clone's max-sim penalty
    crushes its marginal score); rank 3 the clone."""
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import mmr_diversify

    # query deliberately NOT parallel to any item (else rel == sim to
    # the first pick and every marginal score degenerates to zero):
    # rel: 1 -> .9966, 2 -> .9950, 3 -> .7475; sim(2,1)=.9999 crushes
    # the clone at step 2 while sim(3,1)=.6897 leaves 3 ahead
    rows = [
        (1, [1.0, 0.4, 0.0, 0.0]),
        (2, [1.0, 0.38, 0.0, 0.0]),         # near-clone of 1
        (3, [0.4, 1.0, 0.0, 0.0]),          # diverse, lower rel
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_diversify(df, [1.0, 0.5, 0.0, 0.0], k=3, pool=3, lam=0.5)
    got = [(r["rank"], r["id"]) for r in out.collect()]
    assert got == [(1, 1), (2, 3), (3, 2)]


def test_mmr_diversify_deterministic_ties(spark):
    """Identical vectors tie on every score -> selection falls back to
    id ASC, and reruns reproduce the slate exactly."""
    from nyc_tlc_trip_data_pipelines_spark.operators.vectors import mmr_diversify

    rows = [(i, [1.0, 1.0]) for i in (7, 3, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = [(r["rank"], r["id"]) for r in mmr_diversify(df, [1.0, 1.0], k=3, pool=3).collect()]
    b = [(r["rank"], r["id"]) for r in mmr_diversify(df, [1.0, 1.0], k=3, pool=3).collect()]
    assert a == b == [(1, 3), (2, 5), (3, 7)]


def test_node_jaccard_exact_and_hub_cap(spark):
    """Hand graph: star 0-{1,2,3} + edge 1-2. Neighborhoods:
    N(1)={0,2}, N(2)={0,1}, N(3)={0}; check exact Jaccard values and
    the max_degree prune removing the hub."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import node_jaccard

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    out = {(r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
           for r in node_jaccard(edges).collect()}
    # common(1,2) = {0}; deg1=deg2=2 -> 1/(2+2-1) = 1/3
    assert out[(1, 2)] == (1, round(1 / 3, 6))
    # common(1,3) = {0}; deg3=1 -> 1/(2+1-1) = 0.5
    assert out[(1, 3)] == (1, 0.5)
    assert out[(2, 3)] == (1, 0.5)
    # common(0,1) = {2}: deg0=3 -> 1/(3+2-1) = 0.25
    assert out[(0, 1)] == (1, 0.25)
    # hub cap at degree 2 removes node 0 entirely; on the remaining
    # graph (1-2 only) no pair shares a neighbor
    capped = node_jaccard(edges, max_degree=2).collect()
    assert capped == []

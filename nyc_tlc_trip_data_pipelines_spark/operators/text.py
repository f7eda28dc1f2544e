"""Text-analysis operators for training-data pipelines (E28-E29 + north star).

Tokenization, word counts, n-grams, language ID, quality scoring, token
counting, fingerprinting, and near-duplicate detection (MinHash-LSH,
SimHash, n-gram Jaccard). All hot paths are built-in column expressions
(JVM-side, whole-stage codegen); nothing here drops to per-row Python.

100 TB notes:
- MinHash signatures are one shingle hash per position and a MIN
  aggregate per permutation — map-side partial aggregation, one row per
  document through the shuffle.
- LSH banding turns near-dup search from O(n²) pairs into a join on
  band keys: shuffle volume = n_docs × n_bands rows, then candidate
  pairs only within buckets. One band index serves both the batch
  self-join and the incremental probe of a stored index.
- Exact-dup first (cheap hash groupBy) shrinks the near-dup input.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .joins import fanout_repartition, size_gated_broadcast

TOKEN_PATTERN = "\\s+"

# Candidate-stage pruning (length filters, prefix lengths) must stay
# PERMISSIVE under float error: t*n evaluated in float64 can exceed the
# exact rational product (e.g. 0.55*20 → 11.000000000000002), which
# would reject a genuinely qualifying pair exactly at the boundary —
# violating the "filters never change results" contract. Slackening
# every pruning comparison by _FILTER_EPS (far below any 1/n step for
# realistic set sizes) means float error can only ever ADMIT an extra
# candidate, and the exact verify / final-threshold stage decides.
_FILTER_EPS = 1e-9


def portable_hash60(col: Column) -> Column:
    """60-bit hash every SQL engine reproduces bit-for-bit: the first 15
    hex chars of md5 parsed as an integer (always non-negative, so both
    `%` and `>>` behave identically everywhere). The cross-engine twin
    is ``CAST(CONCAT('0x', SUBSTR(md5(x), 1, 15)) AS BIGINT)``. Used by
    the portable simhash and by :func:`..corpus.stable_split`; keep the
    two sides of this contract in ONE place — any drift silently breaks
    oracle parity for every operator built on it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

# Deterministic hash seeds (SURVEY.md §7.3: fixed so driver re-runs match).
_MINHASH_PRIME = 2147483647  # 2^31-1, Mersenne
_MINHASH_A = [1 + 2 * i for i in range(128)]  # odd multipliers
_MINHASH_B = [7 * i + 3 for i in range(128)]


def tokenize(text: str | Column, pattern: str = TOKEN_PATTERN, lowercase: bool = True) -> Column:
    """Whitespace/regex tokenizer → array<string>, empty tokens removed."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    toks = F.split(F.trim(c), pattern)
    return F.filter(toks, lambda t: t != F.lit(""))


def word_count(df: DataFrame, text_col: str = "text", word_alias: str = "word", count_alias: str = "cnt") -> DataFrame:
    """Corpus word count (E28): tokenize → explode → groupBy.count.
    Partial aggregation makes the shuffle ~vocabulary-sized, not corpus-sized."""
    return (
        df.select(F.explode(tokenize(text_col)).alias(word_alias))
        .groupBy(word_alias)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )


def bpe_pair_stats(df: DataFrame, text_col: str = "text", top_k: int = 50) -> DataFrame:
    """BPE tokenizer-training statistics: frequency of adjacent symbol
    pairs, weighted by word frequency — the counting step of one BPE
    merge iteration (Sennrich et al. 2016), which at corpus scale is
    exactly this distributed aggregation (symbols start as characters;
    after a merge the pair table is recomputed over the new symbols).

    Scale shape: word frequencies FIRST (shuffle ~vocabulary-sized via
    partial aggregation), then pair explosion runs over the deduped
    vocabulary — the corpus text is scanned once and character-position
    explosion never touches duplicate words. Codegen substring explode,
    no higher-order lambdas.

    Returns the ``top_k`` (pair, pair_count) rows, ordered by count desc
    then pair asc for determinism.
    """
    vocab = (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pos = vocab.select(
        "w", "wc", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("p")
    )
    pairs = pos.select(
        F.expr("substring(w, p, 2)").alias("pair"), F.col("wc")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def ngrams(tokens: Column, n: int = 2, sep: str = " ") -> Column:
    """Token n-grams (shingles) via slide-free higher-order expression:
    transform over positions, JVM-side.

    Guarded for short inputs: Spark's ``sequence(a, b)`` counts DOWN
    when b < a, which would fabricate bogus grams for len(tokens) < n.
    """
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.array_join(F.slice(tokens, i + 1, n), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_ngram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, gram_alias: str = "gram"
) -> DataFrame:
    """(id, gram) rows — token ``n``-grams WITH multiplicity, built from
    codegen scalar expressions: explode gram START positions, slice with
    element_at + concat_ws. Avoids interpreted higher-order lambdas the
    same way :func:`minhash_signatures` does (measured 7× there).
    Documents with fewer than ``n`` tokens produce no rows."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_PATTERN)
    base = df.select(F.col(id_col), toks.alias("__t")).filter(
        (F.size("__t") >= n) & (F.element_at("__t", 1) != "")
    )
    # r15 note: a fanout_repartition here was measured and REVERTED —
    # token n-grams fan out only ~100×/doc with a cheap concat (no
    # per-gram hash), so the heavy consumer (q_dedup_ngram_jaccard)
    # was a wash while light consumers regressed ~1.4× on the probe +
    # exchange overhead (q_decontaminate 0.39 s → 0.56 s in the
    # driver-methodology bench, reproduced on retime).
    pos = base.select(
        id_col, "__t", F.explode(F.sequence(F.lit(1), F.size("__t") - n + 1)).alias("__p")
    )
    gram = F.concat_ws(" ", *[F.element_at("__t", F.col("__p") + i) for i in range(n)])
    return pos.select(id_col, gram.alias(gram_alias))


def char_shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    extra_cols: Sequence[str] = (),
    alias: str = "shingle",
) -> DataFrame:
    """Distinct (id, 64-bit char-shingle hash) posting rows via the
    codegen substring-explode path: explode shingle START positions and
    hash ``substring(text, p, k)`` — scalar whole-stage-codegen
    expressions, never an interpreted ``transform`` lambda building a
    per-row array (measured 7× slower in :func:`minhash_signatures`).
    Like :func:`shingle_hashes` with ``mod_prime=False`` it hashes the
    same lowercased char-k shingles to 64 bits with xxhash64, so set
    arithmetic on these rows gives the same Jaccard as the MinHash
    verify step (up to 64-bit collisions).
    ``extra_cols`` are doc-level columns carried through (e.g. a block
    key). Documents shorter than ``k`` produce no rows."""
    lc = df.select(F.col(id_col), *[F.col(c) for c in extra_cols], F.lower(F.col(text_col)).alias("__t")).filter(
        F.length("__t") >= k
    )
    # r15: spread before the shingle fan-out (see shingle_hashes);
    # output feeds distinct/count set arithmetic — order-independent.
    lc = fanout_repartition(lc, id_col)
    pos = lc.select(
        id_col,
        *extra_cols,
        "__t",
        F.explode(F.sequence(F.lit(1), F.length("__t") - k + 1)).alias("__p"),
    )
    return pos.select(
        id_col, *extra_cols, F.xxhash64(F.expr(f"substring(__t, __p, {int(k)})")).alias(alias)
    ).distinct()


def token_count(text: str | Column, bpe_like: bool = False) -> Column:
    """Token counting: whitespace tokens, or a BPE-ish estimate splitting
    on word boundaries + punctuation (regex) — both pure column exprs."""
    if bpe_like:
        # alnum runs + individual punctuation marks — a lookaround-free
        # pattern (portable across Java regex and RE2-based engines)
        c = F.col(text) if isinstance(text, str) else text
        return F.size(F.regexp_extract_all(c, F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), F.lit(0)))
    return F.size(tokenize(text))


def bpe_apply_merges(word: Column, merges: Sequence[tuple[str, str]]) -> Column:
    """Apply a ranked BPE merge table to one word — the ENCODE side of
    the tokenizer whose TRAINING statistics :func:`bpe_pair_stats`
    computes: split to characters (space-joined), then apply each merge
    in rank order as a literal replace-all. Replace-all scans left to
    right non-overlapping, the semantics of standard fast BPE encoders;
    because SQL REPLACE has identical semantics, an oracle replays the
    chain bit-for-bit (overlap cases included — verified: 'banana'
    under a n→an, an a→ana yields 'b anan a' on both engines).

    Pure codegen expression: O(|word| · n_merges) per word, no Python.
    Returns the space-joined token sequence; ``size(split(.., ' '))``
    is the encoded token count.
    """
    s = F.concat_ws(" ", F.split(word, ""))
    for a, b in merges:
        s = F.replace(s, F.lit(f"{a} {b}"), F.lit(a + b))
    return s


def bpe_encode_token_counts(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts under a fixed merge table — the
    "how many tokens is this corpus under tokenizer X" pass that sizes
    training runs. Scale shape: the merge chain runs over the DISTINCT
    vocabulary (one encode per unique word, vocabulary-sized), then a
    broadcast join maps word → token count back onto the corpus —
    never re-encoding repeated words. Returns (id, n_words, n_tokens).
    """
    words = df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("__w"))
    vocab = words.select("__w").distinct()
    enc = vocab.withColumn(
        "__n_bpe", F.size(F.split(bpe_apply_merges(F.col("__w"), merges), F.lit(" ")))
    )
    return (
        words.join(size_gated_broadcast(enc), "__w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_bpe").alias("n_tokens"),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", stopwords: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")) -> DataFrame:
    """Heuristic document quality metrics (north-star text analysis):
    length, mean word length, punctuation ratio, stopword ratio,
    alpha ratio. All codegen expressions; one pass."""
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    text = F.col(text_col)
    n_char = F.length(text)
    sw = F.array([F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_punct = n_char - F.length(F.regexp_replace(text, "[^\\w\\s]", ""))
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "mean_word_len": F.round((n_char - n_tok + 1).cast("double") / F.greatest(n_tok, F.lit(1)), 6),
            "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_char, F.lit(1)), 6),
            "stopword_ratio": F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 6),
            "alpha_ratio": F.round(n_alpha.cast("double") / F.greatest(n_char, F.lit(1)), 6),
        }
    )


def language_id(df: DataFrame, text_col: str = "text", alias: str = "lang_pred") -> DataFrame:
    """N-gram-free heuristic language ID over stopword evidence.

    Scores each candidate language by the fraction of tokens in its tiny
    marker set; argmax wins. A real deployment would swap in a trained
    n-gram profile table (broadcast join) — the plumbing is identical.
    """
    markers = {
        "en": ("the", "and", "of", "to", "is"),
        "es": ("el", "la", "de", "que", "y"),
        "fr": ("le", "la", "et", "les", "des"),
        "de": ("der", "die", "und", "das", "nicht"),
        "zh": ("的", "是", "了", "在", "我"),
    }
    toks = tokenize(text_col)
    n = F.greatest(F.size(toks), F.lit(1))
    scores = []
    for lang, words in markers.items():
        arr = F.array([F.lit(w) for w in words])
        frac = F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("double") / n
        scores.append(F.struct(frac.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(alias, best["lang"]).withColumn(f"{alias}_score", F.round(best["score"], 6))


def fingerprint(text: str | Column) -> Column:
    """Document fingerprint: 64-bit hash of the document (xxhash64) —
    stable across runs; used for exact-dup detection at scale where
    comparing full text would shuffle the corpus."""
    return F.xxhash64(F.col(text) if isinstance(text, str) else text)


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    portable: bool = False,
    mod_prime: bool = True,
    spread: bool = True,
) -> DataFrame:
    """(id, h) rows — char-k-shingle hashes mod the Mersenne prime, the
    ONE copy of the shingle-hash contract every MinHash consumer builds
    on (:func:`minhash_signatures`, :func:`minhash_accuracy`): a change
    to the hash or the modulus propagates to all of them and to exactly
    one SQL-oracle twin. ``portable=True`` uses the 60-bit md5 hash
    (bit-identical in any engine); the default is xxhash64 over the
    shingle and the literal 42 (JVM-intrinsic, ~3× faster). Emits
    multiplicity (no dedup) — MIN aggregation is multiset-safe; callers
    needing set semantics call ``.distinct()``. ``mod_prime=False`` skips the Mersenne reduction
    and returns the raw 64-bit hash — REQUIRED wherever the hashes
    stand in for the shingle SETS themselves (exact-Jaccard verify):
    in the 31-bit residue space two distinct shingles collide with
    p ≈ |S_a|·|S_b|/2³¹ per pair (~5e-4 already at 1k-shingle
    documents), silently inflating the verified intersection; the
    64-bit space keeps that below 2⁻⁴⁴. The signature path keeps the
    mod — MinHash permutations are arithmetic over the prime field."""
    # docs shorter than k yield no shingles and drop out of the result;
    # the filter also guards Spark's sequence(a, b) counting DOWN when
    # b < a (see `ngrams`)
    lc = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t")).filter(
        F.length("__t") >= shingle_k
    )
    # r15: single-row-group inputs scan as ONE partition, so the ~300×
    # shingle fan-out + hash ran on one core (measured 1.7 s for 1.5 M
    # shingles at sf0.1, ~0.15 s spread). Hash min/count aggregation
    # downstream is order-independent, so the spread is value-exact.
    # ``spread=False`` for callers whose input is already candidate-
    # pruned to a few hundred docs — there the 32-task × multi-stage
    # scheduling overhead of the exchange exceeds the serial fan-out
    # cost (measured +1.2 s on the verified-pairs shset build).
    if spread:
        lc = fanout_repartition(lc, id_col)
    pos = lc.select(
        id_col,
        "__t",
        F.explode(F.sequence(F.lit(1), F.length("__t") - shingle_k + 1)).alias("__p"),
    )
    shingle = F.expr(f"substring(__t, __p, {int(shingle_k)})")
    raw = portable_hash60(shingle) if portable else F.xxhash64(shingle, F.lit(42))
    h = F.pmod(raw, F.lit(_MINHASH_PRIME)) if mod_prime else raw
    return pos.select(id_col, h.alias("h"))


def minhash_perm_aggs(num_hashes: int) -> list[Column]:
    """The affine-permutation MIN aggregates ``mh_0 … mh_{n-1}`` over a
    :func:`shingle_hashes` column ``h`` — the one copy of the
    ``(a_i·h + b_i) mod p`` permutation contract (p prime, a_i odd ⇒
    each permutation is a bijection of Z_p).

    Built as ONE SQL-parsed expression per permutation (r15): the
    Column-builder form cost ~6 py4j round trips per permutation, and
    this sandbox's gateway RTT (~1-3 ms) made the 32-permutation list
    ~1.3 s of pure plan-construction time per query invocation. The
    parsed tree is identical — integer literals parse to the same
    int32 types `F.lit` produced, `pmod`/`min` are the same functions."""
    return [
        F.expr(
            f"min(pmod(h * {_MINHASH_A[i]} + {_MINHASH_B[i]}, "
            f"{_MINHASH_PRIME})) AS mh_{i}"
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig, n_sh) rows: MinHash signatures via the aggregation
    formulation: explode shingle positions, hash each shingle ONCE
    (:func:`shingle_hashes`, mod the Mersenne prime), then
    ``groupBy(id).agg(min(perm_i))`` per permutation. The affine
    permutations ``(a_i·h + b_i) mod p`` are bijections of Z_p (p prime,
    a_i coprime), so equal min values imply a genuinely shared shingle
    hash, not an affine coincidence.

    This is the 100 TB shape: each permutation is a trivial agg
    expression over one shared hash column, partial aggregation
    combines map-side (shuffle = one row per doc per partition), and no
    giant per-row expression tree is ever built (an array-expression
    signature duplicates the shingle pipeline per hash — fine for a
    handful, pathological for 32+).

    Shingles are produced by exploding a POSITION sequence and slicing
    with ``substring(t, p, k)`` — a codegen'd scalar expression — rather
    than ``transform``-building a shingle array per row: higher-order
    lambdas run interpreted in Spark, and the array variant measured
    7× slower at sf0.1 (2.8 s → 0.4 s for the full signature build).
    Duplicate shingles are NOT removed before the aggregation — MIN over
    a multiset equals MIN over its set, so the min-aggs are unaffected,
    and the distinct set size ``n_sh`` (read by the size-ratio
    prefilter of :func:`_lsh_candidates`) comes from an exact
    COUNT(DISTINCT h) in the same aggregate instead.

    One-permutation hashing was evaluated and rejected: this
    formulation already pays the shingle hash ONCE (the 32
    "permutations" are affine transforms inside the agg update, not 32
    re-hashes), so the classic OPH saving doesn't exist here. Measured
    at sf0.1: explode+hash alone 0.21 s, +32 affine min-aggs 0.26 s,
    +32 OPH bucket-mins 0.23 s — a ≤0.03 s delta that doesn't justify
    swapping in a higher-variance estimator (empty-bucket
    densification) under an exact-output oracle.
    """
    # exact |distinct shingles| rides along as COUNT(1) over an
    # explicit (id, h) pre-dedup — NOT count_distinct, whose rewrite
    # adds an Expand doubling the exploded rows (measured +1.4 s vs
    # +0.2 s for the pre-dedup at sf0.1). Catalyst pushes the min-aggs
    # partially into the dedup aggregate, so the extra groupBy costs
    # almost nothing.
    h = shingle_hashes(df, id_col, text_col, shingle_k).distinct()
    aggs = [*minhash_perm_aggs(num_hashes), F.count(F.lit(1)).cast("int").alias("n_sh")]
    sig = F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("sig")
    return h.groupBy(id_col).agg(*aggs).select(id_col, sig, "n_sh")


def minhash_band_index(sig: DataFrame, id_col: str = "doc_id", bands: int = 16) -> DataFrame:
    """The MinHash-LSH band index of a :func:`minhash_signatures` table
    AS A TABLE: (id, sig, n_sh, band, bucket) rows, one per document and
    band (``size(sig) / bands`` signature values per band) — the ONE
    place signatures become LSH buckets. :func:`minhash_verified_pairs`
    self-joins it; written out (``partitionBy("band")``) it is the
    stored index later ingest batches probe with
    :func:`probe_band_index` — the
    incremental-ingestion mode a 100 TB corpus actually runs:
    signatures+banding are computed ONCE per document ever; each new
    batch probes the stored index instead of re-LSH-ing the corpus
    (same lifecycle as ``write_lsh_index`` for vectors). ``n_sh`` is
    the exact distinct-shingle count the size-ratio prefilter reads.

    Banding is the published MinHash-LSH scheme (Broder; Leskovec et
    al., "Mining of Massive Datasets" ch.3): candidate generation is a
    join on (band, bucket), linear in corpus size × bands, never
    O(n²)."""
    rows_per_band = (F.size("sig") / F.lit(bands)).cast("int")
    # One `sig` reference per output row: explode band ids, slice the
    # signature dynamically. (Building per-band struct literals instead
    # makes Catalyst's projection collapse inline the signature expression
    # once PER BAND — a codegen blow-up measured in minutes at 500 docs.)
    return (
        sig.select(
            id_col, "sig", "n_sh",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
        .withColumn(
            "bucket",
            F.xxhash64(F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band)),
        )
    )


def _lsh_candidates(
    a: DataFrame,
    b: DataFrame,
    id_cond: Column,
    names: tuple[str, str],
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Candidate pairs between two :func:`minhash_band_index` tables,
    aliased ``a`` and ``b`` inside ``id_cond``: the (band, bucket) join
    keeps pairs that
    - collide in at least 2 bands (collision counting: on
      template-heavy corpora where a third of all pairs share SOME
      band, 2 of 16 cuts the candidates ~4× while the recall loss at
      J ≥ 0.8 stays ~2e-6, P(≤1 collision) with per-band p = J^rows);
    - pass the EXACT size-ratio prefilter (PPJoin-style: Jaccard ≥ t
      forces min|·|/max|·| ≥ t; measured 2.6× fewer banded-join rows at
      sf0.1 with t = 0.8, zero recall loss);
    - have a rounded signature estimate ≥ ``threshold − 0.3`` (≥ 4σ
      below the threshold for a 32-hash estimate).

    Returns the checkpointed id pairs, columns ``names``. The join emits
    ONLY the id pair — the pair-dedup exchange then shuffles 16-byte
    rows instead of two 32-long signature arrays (a ~17× row-width
    cut); the signatures are re-attached afterwards from band 0 of
    each side. Checkpointed: the candidates are ~the true near-dup
    pairs, a tiny table the verify step reads three times."""
    x, y = names
    pairs = (
        a.alias("a")
        .join(
            b.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                id_cond,
                F.least("a.n_sh", "b.n_sh").cast("double")
                >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh") - F.lit(_FILTER_EPS),
            ],
        )
        .select(F.col(f"a.{id_col}").alias(x), F.col(f"b.{id_col}").alias(y))
        .groupBy(x, y)
        .agg(F.count(F.lit(1)).alias("__n_bands"))
        .filter(F.col("__n_bands") >= 2)
        .drop("__n_bands")
    )
    sig_a = a.filter(F.col("band") == 0).select(F.col(id_col).alias(x), F.col("sig").alias("sig_a"))
    sig_b = b.filter(F.col("band") == 0).select(F.col(id_col).alias(y), F.col("sig").alias("sig_b"))
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda u, v: u == v), lambda m: m))
    est = matches.cast("double") / F.size("sig_a")
    return (
        pairs.join(sig_a, x)
        .join(sig_b, y)
        .filter(F.round(est, 6) >= F.lit(max(0.0, threshold - 0.3)))
        .select(x, y)
        .localCheckpoint()
    )


def _verify_exact(
    cand: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    threshold: float,
) -> DataFrame:
    """Exact char-shingle Jaccard of the :func:`_lsh_candidates` pairs
    ``cand`` — (x, y, jaccard) rows with jaccard ≥ ``threshold``,
    rounded to 6 dp. Exact shingle sets are built ONLY for documents
    in a candidate pair: a broadcast semi-join prunes ``corpus`` first
    (measured 4.5× on the whole operator at sf0.1), so the shingle
    table is scanned once and never shuffled.

    Per-pair ``array_intersect`` beats the count-based posting-join
    verify of :func:`jaccard_ngram_pairs` HERE, because LSH candidates
    on a template-heavy corpus are many (23k at sf0.1) and char-5
    shingle sets are large (~|doc| entries): the posting expansion is
    |pairs|·|doc| join rows through an exchange, while the array
    intersect runs hash-set-local inside one codegen stage — measured
    2.4 s vs 3.3 s end-to-end at sf0.1. The sets come from the codegen
    explode path (:func:`shingle_hashes`, raw 64-bit hashes so distinct
    shingles do not collide) + a hash-distinct + collect_list, not an
    interpreted per-row ``transform`` over a shingle array: measured
    21% faster on the whole operator at sf0.1 (5.39 s vs 6.84 s)."""
    x, y = cand.columns
    cand_ids = cand.select(F.col(x).alias(id_col)).union(cand.select(F.col(y).alias(id_col))).distinct()
    docs_c = corpus.join(size_gated_broadcast(cand_ids), id_col, "left_semi")
    # checkpointed: read once per pair side
    shset = (
        shingle_hashes(docs_c, id_col, text_col, shingle_k, mod_prime=False, spread=False)
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_list("h").alias("shset"))
        .localCheckpoint()
    )
    sa = shset.select(F.col(id_col).alias(x), F.col("shset").alias("sh_a"))
    sb = shset.select(F.col(id_col).alias(y), F.col("shset").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        cand.join(sa, x)
        .join(sb, y)
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(x, y, "jaccard")
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard), id_a < id_b, with
    EXACT char-shingle Jaccard ≥ ``threshold``: the
    :func:`minhash_band_index` of ``df`` self-joined for candidates,
    then exact verification. The output is deterministic, so it is
    oracle-checkable against an all-pairs exact computation.

    Recall: a true pair at exact Jaccard J is missed only if (a) fewer
    than 2 LSH bands collide — P ≈ 16·J^r·(1 − J^r)^15 at r = 2,
    b = 16, ~2e-6 at J = 0.8 — or (b) its 32-hash estimate falls below
    ``threshold − 0.3`` (≥ 4σ). Precision is exact: every
    candidate is verified against the true shingle sets."""
    # checkpointed: read by both join sides and both signature
    # re-attaches — otherwise the shingle-explode-aggregate pipeline
    # recomputes per reference (measured 7.5× slower at sf0.1). One row
    # per document; the band rows are a cheap explode over it.
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k).localCheckpoint()
    index = minhash_band_index(sig, id_col, bands)
    cand = _lsh_candidates(
        index, index, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), ("id_a", "id_b"),
        id_col, threshold,
    )
    return _verify_exact(cand, df, id_col, text_col, shingle_k, threshold)


def probe_band_index(
    index: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Probe a stored :func:`minhash_band_index` with a NEW ingest
    batch: band the batch with the same function, join it against the
    index, and run the candidate and exact-verify steps of
    :func:`minhash_verified_pairs` — (new_id, idx_id, jaccard) with the
    same recall and precision.

    Scale shape: the batch (≪ corpus) is signature-hashed once; the
    index join shuffles only (band, bucket, id) pairs; ``corpus`` is
    touched ONLY through the broadcast-semi-join prune to the candidate
    ids for verification — the full corpus is never re-shingled.
    ``corpus`` must contain the text of both sides (indexes store
    signatures, not text — by design: the index stays kilobytes per
    document)."""
    # checkpointed: read by the index join and the signature re-attach
    sig = minhash_signatures(batch, id_col, text_col, num_hashes, shingle_k).localCheckpoint()
    new = minhash_band_index(sig, id_col, bands)
    cand = _lsh_candidates(
        new, index, F.col(f"a.{id_col}") != F.col(f"b.{id_col}"), ("new_id", "idx_id"),
        id_col, threshold,
    )
    return _verify_exact(cand, corpus, id_col, text_col, shingle_k, threshold)


def near_duplicate_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Production dedup pipeline: exact-dedup FIRST, then verified
    MinHash-LSH (:func:`minhash_verified_pairs`) on unique texts only.
    Returns (doc_id, group_id) where group_id is the minimum doc_id
    among the document's representative and that representative's
    direct near-dup neighbours (one resolution step;
    ``operators.graph.connected_components`` over the verified pairs
    gives full transitive groups). Deterministic and oracle-checkable.

    Why staged: on duplicate-heavy corpora (the common web-scale case)
    LSH candidate pairs grow QUADRATICALLY with the duplication factor —
    measured 134s at 10× duplication vs 2.6s at 1× for the pair scan
    alone. Collapsing exact copies to one representative (a cheap
    fingerprint groupBy — 8-byte shuffle keys) makes the near-dup stage
    scale with UNIQUE content size, which is the quantity that actually
    grows at 100 TB.
    """
    fp = df.select(F.col(id_col), F.col(text_col), fingerprint(text_col).alias("__fp"))
    reps = fp.groupBy("__fp").agg(
        F.min(id_col).alias("rep_id"), F.first(text_col).alias(text_col)
    )
    rep_docs = reps.select(F.col("rep_id").alias(id_col), text_col)
    pairs = minhash_verified_pairs(
        rep_docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        threshold=jaccard_threshold,
    )
    # representative -> smallest linked representative (one resolution step)
    links = pairs.select(F.col("id_b").alias("rep_id"), F.col("id_a").alias("linked"))
    rep_group = reps.select("__fp", "rep_id").join(links, on="rep_id", how="left").groupBy(
        "__fp", "rep_id"
    ).agg(F.least(F.min("linked"), F.first("rep_id")).alias("group_id"))
    return fp.join(rep_group, on="__fp").select(id_col, "group_id")


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash per document (Charikar 2002): sign-sum of per-token hash
    bits, 60 of them packed into one long. Documents with small Hamming
    distance are near-duplicates.

    Aggregation formulation (same scale rationale as
    :func:`minhash_signatures`): explode tokens, hash each once, then
    one tiny SUM per bit position with map-side partial aggregation.
    Tokens hash with :func:`portable_hash60`, which every SQL engine
    reproduces bit-for-bit, so an oracle replays the full signature —
    hence its 60 bits.
    """
    # r15 note: a fanout_repartition before this explode was measured
    # and REVERTED — the token fan-out is small (~50 tokens/doc) and
    # the extra exchange + 32-task stages cost 1.4 s against a ~0.15 s
    # serial map stage at sf0.1 (fresh-process A/B, median of 3).
    tok = df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("tok"))
    h = tok.select(id_col, portable_hash60(F.col("tok")).alias("h"))
    # One SQL-parsed expression per vote / one for the packer (r15):
    # the Column-builder loops cost ~8 py4j round trips per bit — with
    # this sandbox's ~1-3 ms gateway RTT, ~1.4 s of plan construction
    # per invocation. Parsed trees are identical (same
    # functions, same literal types: CASE THEN 1 ELSE -1 are the int32
    # literals F.lit produced; CAST(x AS BIGINT) matches .cast("long");
    # `^` parses to the same left-associative bitwiseXOR chain).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS v_{i}"
        )
        for i in range(60)
    ]
    agged = h.groupBy(id_col).agg(*votes)
    packed = " ^ ".join(
        f"(CASE WHEN v_{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(60)
    )
    return agged.select(id_col, F.expr(f"({packed}) AS simhash"))


def pack_documents(
    df: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: Column | None = None,
    n_shards: int = 64,
) -> DataFrame:
    """Token-budgeted document packing: assign each doc a ``pack_id`` so
    cumulative token counts within a pack stay ≤ budget (greedy in
    deterministic id order) — the batch-construction primitive of a
    training-data pipeline.

    Packing is a running-sum window: cum_tokens over doc order, pack =
    floor((cum - tokens) / budget) is NOT exact greedy; instead we use
    the standard approximation pack = floor(cum_before / budget), which
    can overflow a pack by < one doc — the accepted distributed
    formulation (exact greedy is inherently sequential). Deterministic
    given the ordering.

    The window is ALWAYS sharded — packs are unique per
    ``(shard, pack_id)``. ``shard_col`` defaults to
    ``pmod(xxhash64(id), n_shards)`` so the default plan never runs a
    single-task global sort over the corpus (the round-4 scale flag);
    pass an explicit ``shard_col`` to align shards with a natural
    boundary (source file, language, date bucket) or a cheaper
    pre-partitioned column.
    """
    from pyspark.sql import Window

    toks = token_count(text_col).alias("n_tokens")
    base = df.select(F.col(id_col), toks)
    if shard_col is None:
        shard_col = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    base = base.withColumn("__shard", shard_col)
    w = Window.partitionBy("__shard").orderBy(id_col)
    shard = F.col("__shard")
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1))
    out = base.select(
        id_col,
        "n_tokens",
        shard.alias("shard"),
        F.floor(F.coalesce(cum, F.lit(0)) / F.lit(token_budget)).cast("long").alias("pack_id"),
    )
    return out


def dedup_keep_best(
    df: DataFrame,
    group_cols: Sequence[str] | Column,
    order_by: Sequence[Column],
    tmp_col: str = "__rn",
) -> DataFrame:
    """Dedup keeping the preferred row per duplicate group — the shape a
    training-data pipeline actually needs (keep the highest-quality copy,
    not an arbitrary one like ``dropDuplicates``).

    ``group_cols`` may be a fingerprint expression (e.g.
    :func:`fingerprint`) so grouping shuffles 8-byte hashes, not full
    text. One hash exchange + per-group sort; no global sort.
    """
    from pyspark.sql import Window

    if isinstance(group_cols, Column):
        df = df.withColumn("__group", group_cols)
        part = ["__group"]
    else:
        part = list(group_cols)
    w = Window.partitionBy(*part).orderBy(*order_by)
    out = df.withColumn(tmp_col, F.row_number().over(w)).filter(F.col(tmp_col) == 1).drop(tmp_col)
    return out.drop("__group") if isinstance(group_cols, Column) else out


def jaccard_ngram_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, threshold: float = 0.3
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join:
    explode distinct shingles → self-join on shingle → count common /
    (|A| + |B| − common). Shuffle = postings list, not pairs.

    Three exact prunings (standard set-similarity-join techniques —
    AllPairs, Bayardo et al. 2007; PPJoin, Xiao et al. 2008; the
    MapReduce formulation is Vernica et al. 2010):
    - postings are checkpointed before the joins (both sides otherwise
      recompute shingling);
    - length filter inside the candidate join — Jaccard(A,B) ≥ t forces
      t·|B| ≤ |A| (for |A| ≤ |B|), so size-incompatible pairs never
      become candidates;
    - PREFIX filter: under one global shingle order (ascending document
      frequency, hash tie-break) any pair with Jaccard ≥ t must share a
      shingle within each side's first ``|d| − ⌈t·|d|⌉ + 1`` shingles,
      so the candidate self-join runs over prefix postings only. This
      is what tames hot shingles (license headers, boilerplate shared
      by millions of docs): a high-frequency shingle sorts to the END
      of the global order and falls out of most prefixes, so its
      posting list never goes quadratic. Exact — no recall loss.

    Verification never materializes shingle arrays: candidate pairs are
    re-attached to the full posting lists (size-gated broadcast pair-
    attach, equi-join on (id, shingle)) and the exact intersection size
    falls out of a count, so the shuffle stays fixed-width end to end.
    The candidate table is ANSWER-sized (grows with near-dup density),
    so its broadcast hint is gated like the entity-count tables — on a
    template-heavy 100 TB corpus AQE picks the strategy from real
    sizes instead of a forced driver-side collect.
    """
    from pyspark.sql import Window

    # Codegen shingling via token_ngram_rows (same rationale as
    # minhash_signatures). Distinctness is restored with an explicit
    # (id, hash) dedup, and the per-doc distinct-gram count n_sh via one
    # tiny follow-up aggregate that AQE broadcast-joins back onto the
    # postings.
    g = (
        token_ngram_rows(df, id_col, text_col, n)
        .select(id_col, F.xxhash64("gram").alias("shingle"))
        .distinct()
    )
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).cast("int").alias("n_sh"))
    posts = g.join(sizes, id_col).select(id_col, "n_sh", "shingle").localCheckpoint()
    # global canonical order: rare shingles first; row_number (not rank)
    # so prefix lengths are exact under ties
    freq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy(F.col("__df").asc(), F.col("shingle").asc())
    pref_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh").cast("double") - F.lit(_FILTER_EPS))
        + 1
    )
    prefix = (
        posts.join(freq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= pref_len)
        .select(id_col, "n_sh", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                # length filter: min/max sizes must be Jaccard-compatible
                F.least("a.n_sh", "b.n_sh").cast("double")
                >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh") - F.lit(_FILTER_EPS),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    # exact verify from posting counts: broadcast the (tiny) candidate
    # pair table onto A's postings, equi-join on (id_b, shingle)
    pa = posts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "shingle")
    pb = posts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "shingle")
    common = (
        size_gated_broadcast(cand)
        .join(pa, "id_a")
        .join(pb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return common.withColumn("jaccard", F.round(jac, 6)).filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def bm25_rank(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Spärck Jones probabilistic
    ranking; the Okapi BM25 formulation used by Lucene/Elasticsearch):
    score the corpus against a fixed term set and return the ``top_k``
    documents as (doc_id, bm25).

    One tokenize pass feeds BOTH document lengths and per-term term
    frequencies (no second corpus scan); corpus-level stats (N, avgdl)
    ride in as a broadcast one-row aggregate, per-term document
    frequencies as a broadcast vocabulary-of-the-query join — at 100 TB
    the only corpus-sized shuffle is the (doc, term) tf aggregate,
    whose key space is |docs| × |query_terms|.

    IDF uses the non-negative Lucene variant
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``. Per-(doc, term) partial
    scores are rounded to 6 dp BEFORE the per-doc sum so the float
    addition order (Spark partial aggregation vs a serial SQL replay)
    cannot flip the rounded total; ties on the rounded score break on
    doc_id, making the top-k fully deterministic.
    """
    toks = df.select(id_col, F.explode(tokenize(text_col)).alias("term"))
    dlen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(dlen, id_col)
        # dfreq is VOCABULARY-sized: size-gate the hint (round-9 --
        # same catalog-scale class as node degrees / item counts)
        .join(size_gated_broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 6).alias("part"),
        )
    )
    out = scored.groupBy(id_col).agg(F.round(F.sum("part"), 6).alias("bm25"))
    return out.orderBy(F.desc("bm25"), F.asc(id_col)).limit(top_k)


def chunk_sliding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window token chunking — the training-sample splitter
    every LLM data pipeline runs between cleaning and tokenization:
    each document becomes ⌈n/stride⌉ overlapping windows of at most
    ``window`` tokens, starting every ``stride`` tokens.

    Pure codegen expressions end to end: one tokenize, one
    ``sequence``+``explode`` for the chunk index (no Python UDF, no
    shuffle at all — chunking is embarrassingly row-local, so at
    100 TB this pipelines straight from scan to sink with zero
    exchanges). Returns (doc_id, n_tokens, chunk_idx, chunk_len,
    chunk_text); the last chunk is the natural truncated tail.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = df.select(id_col, tokenize(text_col).alias("toks")).filter(
        F.size("toks") > 0
    )
    start = F.col("chunk_idx") * stride
    piece = F.slice(F.col("toks"), start + F.lit(1), window)
    return (
        toks.select(
            id_col,
            F.size("toks").alias("n_tokens"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - F.lit(1)) / F.lit(stride)).cast("int"),
                )
            ).alias("chunk_idx"),
            "toks",
        )
        .select(
            id_col,
            "n_tokens",
            "chunk_idx",
            F.size(piece).alias("chunk_len"),
            F.concat_ws(" ", piece).alias("chunk_text"),
        )
    )


def phrase_count(
    df: DataFrame,
    phrase: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search: per-document count of positions where the
    tokenized text contains ``phrase`` as consecutive tokens — the
    retrieval primitive behind quoted-query search and n-gram
    blocklist filtering (a BM25 bag-of-words score can't see order;
    this can). Returns (id, n_hits) for documents with ≥1 hit.

    Plan shape: explode start POSITIONS and test adjacency with scalar
    ``element_at`` comparisons — the codegen substring-explode pattern
    this module uses everywhere (an in-array higher-order ``filter``
    lambda computes the same thing but runs INTERPRETED: measured
    3.64 s → 0.35 s at sf0.1 for this operator, the same ~10× the
    minhash shingle build saw). Non-matching positions die in the
    codegen filter BEFORE the aggregate's exchange, so the only
    shuffle is hits-sized — no posting-list join, no window over a
    corpus-wide token stream. Counts overlapping occurrences (every
    starting position), which a non-overlapping regex scan would
    undercount; regex lookahead is also not portable to RE2-based
    engines — the SQL twin replays the same indexed adjacency over the
    split tokens instead.
    """
    if not phrase:
        raise ValueError("phrase must have at least one token")
    L = len(phrase)
    base = df.select(F.col(id_col), tokenize(text_col).alias("__t")).filter(
        F.size("__t") >= L
    )
    pos = base.select(
        id_col,
        "__t",
        F.explode(F.sequence(F.lit(1), F.size("__t") - L + 1)).alias("__p"),
    )
    cond = F.element_at("__t", F.col("__p")) == phrase[0]  # element_at is 1-based
    for j, t in enumerate(phrase[1:], start=1):
        cond = cond & (F.element_at("__t", F.col("__p") + j) == t)
    return (
        pos.filter(cond)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``
    via block permutation (Manku/Jain/Sarma, WWW'07 — the web-scale
    simhash dedup design): split each 60-bit signature into
    ``n_blocks`` contiguous blocks; by pigeonhole, any pair within
    Hamming distance ``n_blocks - 1`` agrees EXACTLY on at least one
    block, so equality self-joins on each block find every qualifying
    pair (100% recall for ``max_hamming <= n_blocks - 1``), and the
    exact distance check ``bit_count(a XOR b)`` filters the candidates.

    This generalizes :func:`simhash_signatures`-based exact-bucket
    grouping (Hamming 0) to the tolerance real corpora need.

    100 TB: ``n_blocks`` hash self-joins each keyed on a 15-bit block
    value — the same banded-join shape as :func:`minhash_band_index`,
    shuffling only (block, id, signature) rows; candidates concentrate
    only if many documents share a block, which for sign-random simhash
    bits means they ARE near-duplicates. The
    verify step is one integer XOR+popcount per candidate, fully
    codegen."""
    assert max_hamming <= n_blocks - 1, "pigeonhole recall needs max_hamming < n_blocks"
    block_bits = 60 // n_blocks
    mask = (1 << block_bits) - 1
    # the signature build (tokenize + 60 bit-vote sums) feeds both
    # sides of every per-block join — checkpoint it or it runs
    # 2·n_blocks times (measured 3.6 s → 1.3 s at sf0.1; at 100 TB the
    # signatures would be written to a table once, same as MinHash)
    sigs = simhash_signatures(df, id_col, text_col).localCheckpoint()
    cands = None
    for k in range(n_blocks):
        blk = F.shiftright(F.col("simhash"), k * block_bits).bitwiseAND(F.lit(mask))
        side = sigs.select(
            blk.alias("blk"), F.col(id_col).alias("id"), F.col("simhash").alias("sim")
        )
        a, b = side.alias("a"), side.alias("b")
        pair = (
            a.join(b, on=F.col("a.blk") == F.col("b.blk"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sim").alias("sim_a"),
                F.col("b.sim").alias("sim_b"),
            )
        )
        cands = pair if cands is None else cands.unionByName(pair)
    verified = (
        cands.distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return verified.select("id_a", "id_b", "hamming")


def minhash_accuracy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """Estimator-quality harness for the MinHash dedup stack — the text
    twin of ``q_ann_recall``: for every LSH candidate pair, the
    signature-estimated Jaccard (matching-component fraction) side by
    side with the EXACT shingle Jaccard and the absolute error. A real
    pipeline runs this on a sample before trusting a (num_hashes,
    bands, threshold) configuration at corpus scale.

    Uses the portable signature path so the whole computation — hash,
    permutations, banding, estimate, exact — replays in any SQL engine.
    Candidate generation is the union of per-band slice-equality
    self-joins (the same banded shape as production; pairs dedup'd).
    The exact-Jaccard stage joins the per-doc shingle-hash sets ONLY
    for candidate pairs, so its cost is candidate-bounded, never
    corpus².

    100 TB: signatures and shingle sets are computed once, by one
    per-document aggregate over the distinct (id, hash) rows,
    checkpointed here (written to a table in a deployment); the band
    joins and the estimate carry ids + fixed-width numbers only.

    The checkpoint's statistics are its lineage's estimate, which
    sizes a shingle-hash array at one element: unhinted, the planner
    broadcasts the whole-corpus shingle sets to both exact-stage
    joins (measured 8.5 s vs 3.6 s at sf0.1), so those joins are
    hinted ``merge``."""
    rows_per_band = num_hashes // bands
    sig = (
        shingle_hashes(df, id_col, text_col, shingle_k, portable=True)
        .distinct()
        .groupBy(id_col)
        .agg(*minhash_perm_aggs(num_hashes), F.collect_list("h").alias("shs"))
        .localCheckpoint()
    )
    cands = None
    for k in range(bands):
        cols = [f"mh_{i}" for i in range(k * rows_per_band, (k + 1) * rows_per_band)]
        side = sig.select(F.col(id_col).alias("id"), F.struct(*cols).alias("bnd"))
        a, b = side.alias("a"), side.alias("b")
        pair = (
            a.join(b, on=F.col("a.bnd") == F.col("b.bnd"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        cands = pair if cands is None else cands.unionByName(pair)
    cands = cands.distinct()
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)])
    match_sum = None
    for i in range(num_hashes):
        m = F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        match_sum = m if match_sum is None else match_sum + m
    est = F.round(match_sum.cast("double") / F.lit(float(num_hashes)), 6)
    with_est = cands.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", est.alias("est_jaccard"))
    # Exact stage: per-doc shingle-hash ARRAYS + array_intersect per
    # pair — the verify formulation minhash_verified_pairs measured
    # against the posting expansion: exploding candidate pairs × doc
    # shingles shuffles |pairs|·|doc| rows (53M at sf0.1, 7.7 s),
    # while the array intersect is hash-set-local per pair (~1 s).
    # The arrays come from the same checkpointed aggregate as the
    # signatures, so no second tokenize pass either.
    aa = sig.select(F.col(id_col).alias("id_a"), F.col("shs").alias("sh_a")).hint("merge")
    bb = sig.select(F.col(id_col).alias("id_b"), F.col("shs").alias("sh_b")).hint("merge")
    common = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    exact = F.round(
        common / (F.size("sh_a") + F.size("sh_b") - common),
        6,
    )
    return (
        with_est.join(aa, "id_a")
        .join(bb, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    k0: int = 60,
    shortlist: int = 100,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009 —
    the standard zero-training hybrid-retrieval combiner, e.g. BM25 +
    dense-embedding shortlists in every RAG stack):
    RRF(d) = Σ_r 1/(k0 + rank_r(d)) over the rankers that retrieved d.

    Each input DataFrame is one ranker's scored candidates
    (id, score). Production RRF fuses SHORTLISTS, not full corpora —
    each ranker is first cut to its ``shortlist`` best rows via
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    ranks are assigned WITHIN the shortlist by (score DESC, id), so
    the only window runs over ≤ shortlist rows per ranker. A document
    missing from a ranker's shortlist simply contributes no term —
    the standard convention.

    Determinism: ranks are exact integers, 1/(k0+rank) is one IEEE
    division, and the fused sum is over ≤ len(rankings) terms —
    rounded to 6 dp with (rrf DESC, id) tie-break.

    Scale shape: per ranker one top-``shortlist`` reduction (the
    ranker's own cost dominates); the fusion itself unions
    r·shortlist rows and hash-aggregates them — driver-independent,
    broadcast-sized. Returns (id, rrf, n_rankers) top_k rows.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    from pyspark.sql import Window

    tagged = []
    for i, r in enumerate(rankings):
        short = (
            r.select(F.col(id_col).alias("id"), F.col(score_col).alias("s"))
            .orderBy(F.desc("s"), F.asc("id"))
            .limit(shortlist)
        )
        w = Window.orderBy(F.desc("s"), F.asc("id"))
        tagged.append(
            short.select(
                "id", F.row_number().over(w).alias("rank"), F.lit(i).alias("ranker")
            )
        )
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    return (
        allr.groupBy("id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))), 6
            ).alias("rrf"),
            F.count(F.lit(1)).cast("int").alias("n_rankers"),
        )
        .orderBy(F.desc("rrf"), F.asc("id"))
        .limit(top_k)
        .withColumnRenamed("id", id_col)
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus word distribution — the
    one-number corpus health check (natural text fits
    ln(freq) ≈ a + s·ln(rank) with s ≈ −1; template/boilerplate/
    generated corpora drift off it, so the slope + r² pair is a cheap
    distribution-shift monitor next to PSI/KS): frequency-rank the
    vocabulary, OLS-fit ln(count) on ln(rank) over the ``top_n`` head.

    Determinism: the OLS reduces the :func:`..aggregates.ols_group`
    sufficient-statistics contract over micro-unit-quantized
    ln-values (Σx, Σy, Σx², Σxy, Σy² as exact bigints — with
    ln(rank), ln(count) ≤ ~35 their micro squares stay ≤ 1.2e15/row,
    safely inside bigint for top_n ≤ 1000); ranks tie-break
    (count DESC, word). Returns ONE row (n_words, slope, intercept,
    r2), 6 dp.

    Scale shape: one corpus pass to the vocabulary counts (map-side
    combinable); the rank window and the fit run on the
    POST-AGGREGATE vocab table capped at ``top_n`` rows — the
    unpartitioned window is vocabulary-head-sized by construction.
    """
    from pyspark.sql import Window

    wc = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = wc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_n
    )
    xq = F.round(F.log(F.col("rank").cast("double")) * 1000000.0, 0).cast("long")
    yq = F.round(F.log(F.col("cnt").cast("double")) * 1000000.0, 0).cast("long")
    pts = ranked.select(xq.alias("x"), yq.alias("y"))
    stats = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x != 0, cov_n / var_x)  # micro units cancel
    return stats.select(
        n.cast("long").alias("n_words"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n / F.lit(1000000.0), 6).alias("intercept"),
        F.round(
            F.when((var_x != 0) & (var_y != 0), cov_n * cov_n / (var_x * var_y)), 6
        ).alias("r2"),
    )


def retrieval_eval(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    rel_tf: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Retrieval-quality evaluation — recall@k, MRR@k and nDCG@k for a
    BM25 ranker over a set of single-term queries, judged against a
    deterministic pseudo-relevance oracle (relevant = tf ≥ ``rel_tf``,
    the graded-by-frequency stand-in a pipeline uses before human
    judgments exist). This is the eval harness of the retrieval stack
    (q_bm25_rank / q_rrf_fusion produce rankings; this measures them).

    Metric contracts: MRR = 1/rank of the first relevant hit (0 when
    none in the top k); nDCG uses natural-log discounts — base-e DCG
    is a constant multiple of base-2, so the RATIO is the standard
    nDCG while avoiding cross-engine log2; each discount 1/ln(i+1)
    quantizes to integer micro-units so DCG and IDCG are exact bigint
    sums (the float-order rule), and the final ratios round at 6 dp.
    Queries with an empty relevant set emit NULL metrics (undefined,
    distinguishable — the ks_two_sample degenerate contract).

    Scale shape: ONE tokenize pass feeds document lengths and the
    (doc, term) tf table (the bm25_rank plan, kept per-query instead
    of summed); ranking is a per-query ROW_NUMBER over each query's
    candidate set — one keyed shuffle; all metric arithmetic runs on
    ≤ k rows per query plus a |queries|-sized ideal-rank explode. At
    100 TB swap the ranking window for a per-query top-k
    (TakeOrdered) if candidate sets are corpus-sized.
    """
    from pyspark.sql import Window as _W

    toks = df.select(id_col, F.explode(tokenize(text_col)).alias("term"))
    dlen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(dlen, id_col)
        # dfreq is VOCABULARY-sized: size-gate the hint (round-9 --
        # same catalog-scale class as node degrees / item counts)
        .join(size_gated_broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "term",
            "tf",
            F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 6).alias("score"),
        )
    )
    wr = _W.partitionBy("term").orderBy(F.desc("score"), F.asc(id_col))
    ranked = scored.withColumn("rank", F.row_number().over(wr)).localCheckpoint()
    rel = ranked.filter(F.col("tf") >= rel_tf)
    n_rel = rel.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    disc = lambda r: F.round(  # noqa: E731
        F.lit(1000000.0) / F.log(r.cast("double") + F.lit(1.0)), 0
    ).cast("long")
    hits = ranked.filter((F.col("rank") <= k) & (F.col("tf") >= rel_tf))
    per_q = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("rank").alias("first_rank"),
        F.sum(disc(F.col("rank"))).alias("dcg_micro"),
    )
    ideal = (
        n_rel.filter(F.col("n_rel") >= 1)
        .select(
            "term",
            "n_rel",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(int(k)), F.col("n_rel")))
            ).alias("i"),
        )
        .groupBy("term", "n_rel")
        .agg(F.sum(disc(F.col("i"))).alias("idcg_micro"))
    )
    qs = df.sparkSession.createDataFrame(
        [(t,) for t in sorted(query_terms)], "term string"
    )
    return (
        qs.join(ideal, "term", "left")
        .join(per_q, "term", "left")
        .select(
            F.col("term").alias("query"),
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.when(
                F.col("n_rel") >= 1,
                F.round(
                    F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_rel"), 6
                ),
            ).alias("recall_at_k"),
            F.when(
                F.col("n_rel") >= 1,
                F.coalesce(F.round(1.0 / F.col("first_rank"), 6), F.lit(0.0)),
            ).alias("mrr_at_k"),
            F.when(
                F.col("n_rel") >= 1,
                F.round(
                    F.coalesce(F.col("dcg_micro"), F.lit(0))
                    / F.col("idcg_micro"),
                    6,
                ),
            ).alias("ndcg_at_k"),
        )
        .orderBy("query")
    )


def dedup_savings_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """The dedup CAPSTONE report a production pipeline publishes: for
    every near-duplicate group (:func:`near_duplicate_groups`, exact +
    verified-MinHash, one-step min-neighbor grouping) the canonical
    KEEP document and the storage the dedup recovers — n_docs, the
    kept id (longest text, then smallest id — the dedup_keep_best
    convention), total vs kept vs saved characters. Singleton groups
    are omitted (nothing saved).

    This is the decision artifact dedup produces — q_dedup_pipeline
    reports group SIZES; this picks the survivor and prices the
    deletion, which is what a storage/curation owner actually signs
    off on.

    Scale shape: inherits near_duplicate_groups' cost (LSH over unique
    texts, never all-pairs); the report itself is two keyed hash
    aggregates plus a broadcast-sized equi-join back on (group,
    max_len) for the tie-broken keep pick. No windows.
    """
    groups = near_duplicate_groups(
        df,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
    )
    # checkpointed: sized's lineage embeds the whole LSH+verify grouping
    # and is read by BOTH the per-group aggregate and the keep pick
    sized = (
        groups.join(
            df.select(
                F.col(id_col).alias("__id"), F.length(text_col).alias("len")
            ),
            F.col(id_col) == F.col("__id"),
        )
        .select(id_col, "group_id", "len")
        .localCheckpoint()
    )
    per_group = (
        sized.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("len").cast("long").alias("chars_total"),
            F.max("len").cast("long").alias("chars_kept"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    keep = (
        sized.join(
            per_group.select("group_id", F.col("chars_kept").alias("__ml")),
            "group_id",
        )
        .filter(F.col("len") == F.col("__ml"))
        .groupBy("group_id")
        .agg(F.min(id_col).alias("keep_id"))
    )
    return (
        per_group.join(keep, "group_id")
        .select(
            "group_id",
            "n_docs",
            "keep_id",
            "chars_total",
            "chars_kept",
            (F.col("chars_total") - F.col("chars_kept")).alias("chars_saved"),
        )
        .orderBy("group_id")
    )

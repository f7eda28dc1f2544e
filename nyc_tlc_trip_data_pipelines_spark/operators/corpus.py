"""Corpus-curation operators for LLM training-data pipelines.

These extend the engine beyond the reference's ETL surface (the
reference, ``pasta1_etl``/``pasta2_analytics``, stops at relational
queries) with the corpus-level passes a 100 TB pretraining pipeline
runs between ingest and tokenization: eval-set decontamination,
repetition profiling, rule-based quality filtering, vocabulary
construction, mixture sampling, and containment (sub-document
duplication) detection.

All operators are pure DataFrame compositions — no Python UDFs — so
they stay inside whole-stage codegen and shuffle only on narrow keys.
Tokenization matches :mod:`.text` (whitespace split of the lowercased,
trimmed text; empty tokens dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import token_ngram_rows, tokenize


def _token_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) rows — token n-grams WITH multiplicity (codegen path,
    see text.token_ngram_rows)."""
    return token_ngram_rows(df, id_col, text_col, n)


def train_test_overlap(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Eval-set decontamination: for every test document, the fraction of
    its distinct token ``n``-grams that appear anywhere in the training
    corpus.

    Returns (id, n_grams, n_contaminated, contamination_rate), one row
    per test document that has at least one ``n``-gram. A training
    pipeline drops (or flags) test-overlapping documents before
    training so benchmark numbers stay meaningful.

    Scale shape: both sides reduce to distinct (id, gram) /(gram) rows
    — the join is gram-keyed and linear in corpus size, never
    doc×doc. The train side is deduped to one row per distinct gram
    BEFORE the join (at 100 TB that table is the "contamination index";
    write it out once and reuse it across test sets). Grams are short
    strings; for very large indexes join on ``xxhash64(gram)`` instead
    — same plan, 8-byte keys (not used here so the DuckDB oracle can
    replay the join exactly).
    """
    train_grams = (
        _token_ngrams(train, id_col, text_col, n).select("gram").distinct()
    )
    test_grams = _token_ngrams(test, id_col, text_col, n).distinct()
    hit = train_grams.withColumn("__hit", F.lit(1))
    joined = test_grams.join(hit, "gram", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("int").alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("contamination_rate"),
    )


def repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document repetition signals (the Gopher/RefinedWeb family of
    quality heuristics): duplicate n-gram fraction and the multiplicity
    of the most repeated n-gram.

    Returns (id, n_grams, n_distinct, rep_ratio, max_gram_count) where
    ``rep_ratio = 1 − n_distinct / n_grams``. Boilerplate-heavy and
    degenerate (looping) documents score high and get dropped.

    Scale shape: one (id, gram) hash aggregate with map-side partial
    combine, then a per-id aggregate — no distinct-aggregate Expand
    rewrite, no window, no second scan.
    """
    per_gram = (
        _token_ngrams(df, id_col, text_col, n)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("__c").cast("int").alias("n_grams"),
        F.count(F.lit(1)).cast("int").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("__c"), 6).alias("rep_ratio"),
        F.max("__c").cast("int").alias("max_gram_count"),
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_wlen: float = 2.0,
    max_mean_wlen: float = 12.0,
    max_top_word_frac: float = 0.12,
) -> DataFrame:
    """Rule-based document quality verdict (Gopher-style): word count in
    range, mean word length in range, most-frequent-word share below a
    ceiling. Returns one row per document with the metrics, the rules it
    failed (semicolon-joined codes, '' if none) and a ``keep`` boolean.

    Scale shape: the token explode feeds ONE (id, word) aggregate whose
    output (per-doc word stats + top-word multiplicity) is a per-id
    aggregate away — two narrow shuffles on id, both with map-side
    combine. All predicates are codegen'd column expressions.
    """
    toks = tokenize(F.col(text_col))
    per_word = (
        df.select(F.col(id_col), F.explode(toks).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("__c"), F.sum(F.length("w")).alias("__chars"))
    )
    stats = per_word.groupBy(id_col).agg(
        F.sum("__c").cast("int").alias("n_words"),
        F.round(F.sum("__chars") / F.sum("__c"), 6).alias("mean_wlen"),
        F.round(F.max("__c") / F.sum("__c"), 6).alias("top_word_frac"),
    )
    fails = F.concat_ws(
        ";",
        F.when(
            (F.col("n_words") < min_words) | (F.col("n_words") > max_words),
            F.lit("n_words"),
        ),
        F.when(
            (F.col("mean_wlen") < min_mean_wlen) | (F.col("mean_wlen") > max_mean_wlen),
            F.lit("mean_wlen"),
        ),
        F.when(F.col("top_word_frac") > max_top_word_frac, F.lit("top_word_frac")),
    )
    return stats.withColumn("fail_reasons", fails).withColumn(
        "keep", F.col("fail_reasons") == ""
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    word_alias: str = "word",
) -> DataFrame:
    """Frequency-ranked vocabulary: the ``vocab_size`` most frequent
    tokens with dense ids assigned by (count DESC, token ASC) — the
    word-level analog of a tokenizer-vocab build, and the id-assignment
    step of any categorical encoding.

    Scale shape: corpus-wide word count (map-side combined), then a
    global top-k — Spark plans ORDER BY + LIMIT as
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    the final rank assignment touches only ``vocab_size`` rows on a
    single post-limit partition.
    """
    counts = (
        df.select(F.explode(tokenize(F.col(text_col))).alias(word_alias))
        .groupBy(word_alias)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col(word_alias)).limit(vocab_size)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col(word_alias))
    return top.withColumn("token_id", (F.row_number().over(w) - 1).cast("int"))


def weighted_mix(
    df: DataFrame,
    weights: dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 10,
) -> DataFrame:
    """Deterministic mixture sampling: keep a document iff
    ``id % 100 < pct(group)`` — the per-source/per-language sampling-
    weight pass that rebalances a training mixture.

    The modulus draw makes the sample a pure filter: reproducible
    across engines and runs, embarrassingly parallel, no RNG state. At
    100 TB prefer ``pmod(xxhash64(id), 100)`` so sequential id ranges
    can't alias the draw; the plain modulus is used here so the oracle
    can replay it.

    Returns the kept rows with the applied ``mix_pct``.
    """
    pct: Column = F.lit(default_pct)
    for k, v in sorted(weights.items()):
        pct = F.when(F.col(group_col) == k, F.lit(v)).otherwise(pct)
    return (
        df.withColumn("mix_pct", pct.cast("int"))
        .filter(F.pmod(F.col(id_col), F.lit(100)) < F.col("mix_pct"))
    )


def stable_split(
    df: DataFrame,
    id_col: str = "doc_id",
    holdout_pct: int = 10,
    salt: str = "v1",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic hash-based train/holdout split — the reproducible-
    subset op every training pipeline needs: assignment is stable across
    runs, engines, partitioning, and data order; changing ``salt``
    re-rolls the whole assignment; membership of a row never depends on
    what other rows exist (so incremental data keeps old assignments).

    Draw = ``hash(salt || id) mod 100 < holdout_pct``. Unlike the
    id-modulo draw in :func:`weighted_mix`, a hash draw stays uniform
    when ids are sequential or clustered per source — the situation at
    100 TB where id ranges encode provenance. The hash is the 60-bit md5
    one (bit-identical in any engine — oracle-replayable, same trick as
    the portable simhash). Pure filter expression: embarrassingly
    parallel, no RNG state, no shuffle.
    """
    from .text import portable_hash60

    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    draw = F.pmod(portable_hash60(key), F.lit(100))
    return df.withColumn(
        split_col,
        F.when(draw < F.lit(int(holdout_pct)), F.lit("holdout")).otherwise(F.lit("train")),
    )


def sample_per_group(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 100,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic k-per-group sampling — "take exactly k docs per
    language/source", the corpus-balancing op: rank rows inside each
    group by a salted hash of their id and keep the k smallest. Stable
    across runs/partitioning/data order; changing ``salt`` re-draws;
    groups smaller than k keep everything. Unlike fraction-based
    :func:`stable_split` this guarantees exact per-group counts, at the
    cost of one hash exchange on ``group_col`` (the window). For
    billion-row groups at 100 TB, pre-filter with a generous
    ``stable_split`` fraction first so the window sorts k·ε rows, not
    the whole group.

    The draw is the 60-bit md5 hash, so a SQL oracle replays the EXACT
    sample membership.
    """
    from pyspark.sql import Window

    from .text import portable_hash60

    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(portable_hash60(key).asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    exponential-keys scheme (A-ES, "Weighted random sampling with a
    reservoir", IPL 2006): each row draws ``u ∈ (0,1)`` from a salted
    hash of its id and is keyed ``ln(u) / w``; the k LARGEST keys are
    exactly a weighted sample without replacement. The corpus-curation
    op behind "sample 1M docs proportional to quality score".

    Deterministic (hash draw, no RNG state — same salt → same sample
    across runs/engines/partitioning) and fully distributed: the key is
    a pure rowwise expression and the global top-k is
    TakeOrderedAndProject (per-partition heaps + k-row driver merge, no
    global sort) — one pass at any scale. Rows with ``weight <= 0`` or
    NULL are excluded, as in the original scheme. The draw is the 60-bit
    md5 hash, so a SQL oracle replays exact membership; the float
    ln/divide is IEEE double on both engines, and the selection key
    stays OUT of the returned columns so an
    ulp-level divergence could only ever flip membership at the exact
    rank-k boundary, not hash comparison of values.
    """
    from .text import portable_hash60

    hkey = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    u = (portable_hash60(hkey).cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    return (
        df.withColumn("__w", weight.cast("double"))
        .filter(F.col("__w") > 0)
        .withColumn("__es", F.log(u) / F.col("__w"))
        .orderBy(F.col("__es").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__w", "__es")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    block_col: str = "lang",
) -> DataFrame:
    """Asymmetric containment — ``|A∩B| / |A|`` over char-shingle sets —
    for quote/sub-document duplication, where Jaccard stays low but one
    document is largely contained in another.

    Posting-list (inverted-index) formulation, same machinery as
    :func:`..text.jaccard_ngram_pairs`: explode distinct shingle hashes
    to (id, block, shingle) rows, self-join on the SHINGLE (block
    equality rides along as a residual), count common shingles per
    pair, and containment_a = common/|A| falls out of the counts. The
    shuffle carries fixed-width posting rows — never full shingle
    arrays — and only pairs that actually share a shingle are ever
    materialized, so cost is linear in total postings plus the true
    intersection volume, not O(block²). (The previous formulation
    all-pairs-joined within ``block_col`` and intersected arrays per
    pair — a scale-killer when one language block dominates a corpus.)

    No length prefilter is possible here (unlike Jaccard, containment
    max = common/min(|A|,|B|) is unbounded by the size ratio), so
    ``block_col`` remains the only candidate scoping — keep blocks
    meaningful (language, source bucket).

    Returns (id_a, id_b, containment_a, containment_b) with
    ``id_a < id_b``, keeping pairs whose LARGER containment clears
    ``threshold``. ``threshold`` must be > 0: zero-overlap pairs never
    leave the inner join (they scored containment 0 before — same
    output for any positive threshold).
    """
    from .text import char_shingle_rows

    # codegen shingling: explode start positions + substring, hash each
    # shingle once (same rationale/shape as text.minhash_signatures —
    # interpreted `transform` lambdas measured 7× slower there)
    g = char_shingle_rows(
        df.withColumn("__blk", F.col(block_col)),
        id_col,
        text_col,
        shingle_k,
        extra_cols=("__blk",),
    )
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).cast("double").alias("n_sh"))
    posts = g.join(sizes, id_col).select(id_col, "__blk", "n_sh", "shingle").localCheckpoint()
    a, b = posts.alias("a"), posts.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.__blk") == F.col("b.__blk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("common"))
    )
    out = (
        common.withColumn("containment_a", F.round(F.col("common") / F.col("na"), 6))
        .withColumn("containment_b", F.round(F.col("common") / F.col("nb"), 6))
        .filter(F.greatest("containment_a", "containment_b") >= threshold)
    )
    return out.select("id_a", "id_b", "containment_a", "containment_b")


def redact_pii(
    text_col: str | Column,
    email_token: str = "<EMAIL>",
    number_token: str = "<PHONE>",
    min_digit_run: int = 7,
) -> Column:
    """PII scrubbing pass: replace email-shaped spans and long digit runs
    (phone/account numbers) with placeholder tokens. Curation pipelines
    run this before any text leaves the raw zone.

    Pure ``regexp_replace`` chain — codegen'd, streams through the scan
    with zero shuffle; the patterns stick to portable character-class
    regex (no lookarounds) so they behave identically across engines.
    Returns the redacted COLUMN (compose into a select).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.regexp_replace(c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", email_token)
    c = F.regexp_replace(c, r"[0-9]{%d,}" % min_digit_run, number_token)
    return c


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    word distribution — the cheap stand-in for LM-perplexity quality
    scoring (documents full of rare/garbled tokens score low and get
    filtered or down-weighted).

    Returns (id, n_words, mean_logprob) with natural-log probabilities
    ``ln(count(w)/total_words)``, rounded to 4 dp (the per-doc mean is a
    true float reduction, so looser rounding keeps it engine-stable).

    Scale shape: the word-count table is vocabulary-sized and joins the
    exploded corpus on the word key (AQE broadcasts real vocabularies);
    total_words rides in as a literal-free cross of a 1-row aggregate —
    no driver round-trip, no second corpus scan beyond the word
    explode."""
    words = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("w"))
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lp = counts.crossJoin(F.broadcast(total)).select(
        "w", (F.log(F.col("cnt") / F.col("total"))).alias("lp")
    )
    return (
        words.join(lp, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_words"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias("mean_logprob"),
        )
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document token-distribution Shannon entropy — the
    information-theoretic quality signal that separates natural prose
    (high entropy) from keyword-stuffed / template / repeated-phrase
    pages (low entropy) without any reference model. Complements
    :func:`repetition_profile` (which detects REPEATED n-grams) by
    catching skew that never repeats an exact n-gram, and
    :func:`unigram_logprob` (which needs a corpus-level LM pass).

    H(doc) = −Σ p(w)·ln p(w) over the doc's token frequencies,
    computed in shuffle-friendly form as ``ln(n) − Σ c·ln(c) / n`` so
    the aggregation is a plain SUM (map-side combinable), not a
    normalized-then-summed two-pass.

    Returns ``(id, n_tokens, n_distinct, entropy, entropy_ratio)``
    where ``entropy_ratio = H / ln(n_distinct)`` ∈ [0,1] (1 = perfectly
    uniform usage; NULL for single-token docs) — the scale-free number
    a filter thresholds on.

    Scale shape: two hash exchanges, both keyed (id, w) then (id) —
    partial aggregation bounds the first shuffle by per-doc vocabulary,
    the second by document count. No windows, no UDFs, pure codegen.
    """
    words = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("w"))
    per = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    c_ln_c = F.sum(F.col("c") * F.log(F.col("c")))
    ent = F.log(n) - c_ln_c / n
    n_distinct = F.count(F.lit(1))
    return per.groupBy(id_col).agg(
        n.cast("int").alias("n_tokens"),
        n_distinct.cast("int").alias("n_distinct"),
        F.round(ent, 4).alias("entropy"),
        F.round(
            F.when(n_distinct > 1, ent / F.log(n_distinct.cast("double"))),
            4,
        ).alias("entropy_ratio"),
    )


def curation_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The :func:`quality_filter` metrics AND the :func:`token_entropy`
    metrics from ONE shared explode → (id, word) → (id) aggregate chain
    — the fused form a curation pipeline should run when it needs both
    (two keyed exchanges total instead of four; the tokenize/explode
    pass over the corpus happens once). Returns one row per document:
    ``(id, n_words, mean_wlen, top_word_frac, n_distinct, entropy,
    entropy_ratio)``. Thresholding is left to the caller so one stats
    pass can feed several filter policies.
    """
    toks = tokenize(F.col(text_col))
    per_word = (
        df.select(F.col(id_col), F.explode(toks).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"), F.sum(F.length("w")).alias("chars"))
    )
    n = F.sum("c")
    c_ln_c = F.sum(F.col("c") * F.log(F.col("c")))
    ent = F.log(n) - c_ln_c / n
    n_distinct = F.count(F.lit(1))
    return per_word.groupBy(id_col).agg(
        n.cast("int").alias("n_words"),
        F.round(F.sum("chars") / n, 6).alias("mean_wlen"),
        F.round(F.max("c") / n, 6).alias("top_word_frac"),
        n_distinct.cast("int").alias("n_distinct"),
        F.round(ent, 4).alias("entropy"),
        F.round(
            F.when(n_distinct > 1, ent / F.log(n_distinct.cast("double"))), 4
        ).alias("entropy_ratio"),
    )


def stable_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic training-export shuffle: every row gets a
    ``shard`` and a ``shard_pos`` that are stable across runs, engines,
    cluster size, and input order — the reproducibility contract a
    training job needs so that "epoch 1, shard 3, position 17" means
    the same example on every rerun. Changing ``salt`` re-rolls the
    whole permutation (a new epoch order without rewriting data).

    Both outputs derive from one seeded hash draw (the portable 60-bit
    md5, :func:`stable_split`'s contract): shard =
    ``hash mod n_shards`` (balanced by hash uniformity, never by a
    round-robin that depends on row order), position = rank of
    ``(hash, id)`` within the shard — the id tiebreak keeps the
    permutation total even on hash collisions. One hash exchange on
    ``shard`` + a per-shard sort; at 100 TB that is exactly the
    shuffle the export write needs anyway (`partitionBy(shard)`), so
    the ordering rides the write for free. A GLOBAL position would
    serialize in one task — the per-shard rank is the scale-correct
    contract, and readers consume shards in parallel anyway.
    """
    from pyspark.sql import Window as _W

    from .text import portable_hash60

    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    out = df.withColumn("__h", portable_hash60(key)).withColumn(
        "shard", F.pmod(F.col("__h"), F.lit(int(n_shards))).cast("int")
    )
    w = _W.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return out.withColumn("shard_pos", F.row_number().over(w)).drop("__h")


def duplicated_span_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """Exact duplicated-substring profile — the distributed analog of
    suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token ``n``-gram
    span is *duplicated* when it occurs in at least ``min_docs``
    distinct documents, and a document whose duplicated-span fraction
    reaches ``drop_threshold`` is flagged for removal (it is mostly
    boilerplate shared with other documents, the memorization-risk
    shape suffix-array dedup targets).

    Returns one row per document with >= ``n`` tokens:
    (id, n_spans, n_dup_spans, dup_fraction, keep) where n_spans counts
    DISTINCT spans in the document.

    Scale shape: this is the gram-posting-list formulation, not a
    suffix array — (id, gram) rows dedup map-side, the document
    frequency table aggregates to ~|distinct grams| rows, and the
    join back is gram-keyed and linear in corpus size. No doc×doc
    pairing anywhere, so it survives 100 TB the same way
    :func:`train_test_overlap` does. A true suffix-array finds
    arbitrary-length duplicated spans; fixed-``n`` grams with n chosen
    at the dedup granularity (50 tokens in the paper) is the standard
    distributed approximation — any duplicated span of length >= n
    contains a duplicated n-gram, so recall at span granularity n is
    exact. For very large corpora join on ``xxhash64(gram)`` instead of
    the gram string (8-byte keys; not done here so the DuckDB oracle
    replays the join verbatim).
    """
    grams = token_ngram_rows(df, id_col, text_col, n).distinct()
    doc_freq = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__nd")
    )
    joined = grams.join(doc_freq, "gram")
    dup = (F.col("__nd") >= min_docs).cast("int")
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(dup).cast("int").alias("n_dup_spans"),
    )
    frac = F.col("n_dup_spans") / F.col("n_spans")
    return per_doc.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        F.round(frac, 6).alias("dup_fraction"),
        (frac < drop_threshold).alias("keep"),
    )


def domain_mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain sampling weights — the mixture step of
    multi-source pretraining (the alpha-smoothed sampling of
    multilingual BERT/XLM and the starting point DoReMi iterates from):
    domain i is sampled with probability p_i^alpha / sum_j p_j^alpha
    where p_i is the domain's token share. alpha < 1 upweights small
    domains (alpha=0 is uniform, alpha=1 is proportional).

    Returns one row per domain: (domain, n_docs, n_tokens, token_share,
    weight, oversample) where ``oversample`` = weight / token_share —
    the per-domain repetition factor a sampler applies (> 1 means the
    domain is seen more often than its natural share).

    Scale shape: one aggregation to |domains| rows (token counting is a
    codegen size(split()) per row, folded map-side), then the
    normalizing total joins back as a broadcast one-row aggregate so the
    plan stays lazy — no eager .count() literal baked into the plan.
    Cross-engine exactness: the normalizer sums p_i^alpha in integer
    micro-units (round to 6 dp, scale to bigint) so the reduction is
    exact integer addition — a double sum's partition-order-dependent
    rounding could flip the 6th decimal between engines (the
    q_kmeans/q_winsorize integer-mean rule, applied to the mixture Z).
    """
    toks = F.size(tokenize(text_col))
    per_dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
    )
    # alpha=0.5 routes through sqrt (IEEE-correctly-rounded in BOTH
    # engines) rather than pow(x, 0.5) (library-dependent last ulp) —
    # the micro-unit rounding boundary must see the identical double.
    p = F.col("n_tokens").cast("double")
    powered = F.sqrt(p) if float(alpha) == 0.5 else F.pow(p, F.lit(float(alpha)))
    w_micro = F.round(powered * 1e6, 0).cast("long")
    scored = per_dom.withColumn("__w", w_micro)
    tot = scored.agg(
        F.sum("n_tokens").cast("long").alias("__tot"),
        F.sum("__w").cast("long").alias("__z"),
    )
    share = F.col("n_tokens").cast("double") / F.col("__tot")
    w = F.col("__w").cast("double") / F.col("__z")
    return scored.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(w, 6).alias("weight"),
        F.round(w / share, 6).alias("oversample"),
    )


def dsir_select(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 50,
    seed: int = 13,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS — the method behind target-domain pretraining-data
    selection at RedPajama/DoReMi-era scale): estimate importance
    weights w(x) = p_target(x)/p_source(x) under two bag-of-words
    unigram models (the paper's hashed-n-gram features, here the
    shared tokenizer's unigrams), then draw the selection with the
    Gumbel-top-k trick — add Gumbel(0,1) noise to each candidate's
    log-weight and take the top ``top_n``, which is EXACTLY sampling
    without replacement ∝ w(x).

    ``target_pred`` marks the rows forming the target distribution
    (the small trusted/high-quality slice); every non-target row is a
    selection candidate scored against it. Both unigram models are
    add-one smoothed over the SHARED vocabulary, so
    log w(doc) = Σ_w c_doc(w)·[ln p̂_t(w) − ln p̂_s(w)].

    Determinism contract: per-word log-ratios are rounded to 6 dp on
    the vocabulary table (one value per word, exact integer-ratio
    inputs), per-doc sums follow the bm25_rank partial-rounding rule,
    and the Gumbel draw is the inverse-CDF of the portable 60-bit
    hash of (doc_id, seed): u = (h+½)/2⁶⁰ ∈ (0,1) strictly, so
    −ln(−ln u) never sees 0 or 1 (the dp-release clamp lesson, solved
    structurally here). Returns (doc_id, log_weight, sample_key)
    ordered by (sample_key DESC, doc_id), ``top_n`` rows.

    Scale shape: one tokenize pass feeds both domain counts and the
    candidate term frequencies; the vocabulary table (word → lr) is
    |vocab|-sized and broadcast-joined onto the (doc, word) counts; the
    only corpus-sized shuffles are the two (doc- and word-keyed) hash
    aggregates. The Gumbel noise is per-GROUP arithmetic on the final
    doc-level rows — free. At 100 TB this is the paper's own cost
    model: two streaming passes over the corpus.
    """
    from .text import portable_hash60

    toks = df.select(
        F.col(id_col).alias("id"),
        target_pred.alias("is_t"),
        F.explode(tokenize(F.col(text_col))).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).cast("long").alias("cs"),
    )
    stats = counts.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cs").cast("long").alias("ts"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    lr = counts.crossJoin(F.broadcast(stats)).select(
        "w",
        F.round(
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + F.col("v")))
            - F.log((F.col("cs") + 1).cast("double") / (F.col("ts") + F.col("v"))),
            6,
        ).alias("lr"),
    )
    per = (
        toks.filter(~F.col("is_t"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    logw = (
        per.join(lr, "w")
        .groupBy("id")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("log_weight"))
    )
    h = portable_hash60(
        F.concat_ws("\x1f", F.col("id").cast("string"), F.lit(str(seed)))
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    gumbel = -F.log(-F.log(u))
    return (
        logw.select(
            F.col("id").alias(id_col),
            "log_weight",
            F.round(F.col("log_weight") + gumbel, 6).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(top_n)
    )


def nb_classify(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_mod: int = 5,
    holdout_rem: int = 0,
    seed: int = 11,
) -> DataFrame:
    """Multinomial Naive Bayes document classifier, trained and scored in
    one lazy plan — the distributed form of the fastText/NB quality- and
    domain-classifier stage every LLM curation pipeline runs (CCNet's
    language filter, GPT-3's WebText-vs-CommonCrawl quality model,
    FineWeb's edu classifier are all linear bag-of-words scorers of
    exactly this shape).

    Split: the portable 60-bit hash of (id, seed) mod ``holdout_mod``
    == ``holdout_rem`` marks the held-out slice (same mechanism as
    :func:`stable_split`, so both engines draw the identical split).
    Train: per-(word, class) counts with add-one smoothing over the
    TRAIN vocabulary V —
    ``llk(w,k) = ln((c_wk + 1) / (t_k + |V|))`` — plus the log prior
    ``ln(d_k / D)``. Score: for each held-out doc,
    ``score(k) = prior(k) + Σ_w c_doc(w) · llk(w,k)``; OOV words
    (absent from the train vocabulary) are dropped, the standard
    multinomial-NB convention. Predicted class = argmax, ties broken
    toward the lexicographically smallest class.

    Determinism contract: every log-likelihood and prior is quantized
    to integer MICRO-UNITS (``round(x·1e6, 0)`` → bigint, the
    q_domain_mixture rule) at the vocabulary table — per-doc scores are
    then EXACT bigint reductions, so the argmax can never flip on
    float-sum partition ordering, and the min-class tie-break makes the
    winner engine-independent even on exact score ties.

    Returns one row per held-out document:
    (id, actual, predicted, score, correct) with ``score`` the winning
    log-posterior (micro-units / 1e6) and ``correct`` 0/1.

    Scale shape: ONE tokenize/explode pass feeds both the train counts
    and the holdout term frequencies (split by a hash predicate, not a
    second scan). The model is a |V|×|classes| grid built by
    cross-joining the vocabulary with the class table and left-joining
    the observed counts (zero counts must exist — their smoothed
    log-likelihood is not zero); it broadcast-joins onto the holdout
    (doc, word) counts. The only corpus-sized shuffles are the two
    keyed hash aggregates ((word, class) and (doc, class)); argmax is a
    grouped MAX + equi-join back, never a window over the corpus. At
    100 TB: two streaming passes and a model table that fits in one
    executor — the same cost envelope as :func:`dsir_select`.
    """
    from .text import portable_hash60

    h = portable_hash60(
        F.concat_ws("\x1f", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("actual"),
        (h % holdout_mod == holdout_rem).alias("is_hold"),
        F.col(text_col).alias("__text"),
    )
    toks = base.select(
        "id", "actual", "is_hold", F.explode(tokenize(F.col("__text"))).alias("w")
    )
    train_wc = (
        toks.filter(~F.col("is_hold"))
        .groupBy("w", F.col("actual").alias("cls"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_wk"))
    )
    # class table: token totals t_k and doc-count priors d_k (k rows)
    class_tok = train_wc.groupBy("cls").agg(F.sum("c_wk").cast("long").alias("t_k"))
    class_doc = (
        base.filter(~F.col("is_hold"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_k"))
    )
    n_train = base.filter(~F.col("is_hold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_d")
    )
    classes = (
        class_doc.join(class_tok, "cls")
        .crossJoin(F.broadcast(n_train))
        .select(
            "cls",
            "t_k",
            F.round(F.log(F.col("d_k").cast("double") / F.col("n_d")) * 1e6, 0)
            .cast("long")
            .alias("prior_micro"),
        )
    )
    vocab = train_wc.select("w").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    # |V|×k grid with explicit zero counts (smoothed llk of an unseen
    # word in class k is ln(1/(t_k+V)), not 0)
    grid = (
        vocab.crossJoin(F.broadcast(classes))
        .crossJoin(F.broadcast(v_size))
        .join(train_wc, ["w", "cls"], "left")
        .select(
            "w",
            "cls",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_wk"), F.lit(0)) + 1).cast("double")
                    / (F.col("t_k") + F.col("v"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("llk_micro"),
        )
    )
    hold_wc = (
        toks.filter(F.col("is_hold"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    word_scores = (
        hold_wc.join(grid, "w")
        .groupBy("id", "cls")
        .agg(F.sum(F.col("c") * F.col("llk_micro")).alias("wsum"))
    )
    # every held-out doc scores every class even with zero in-vocab
    # words (prior-only fallback) — left join from the doc×class frame
    scores = (
        base.filter(F.col("is_hold"))
        .select("id", "actual")
        .crossJoin(F.broadcast(classes.select("cls", "prior_micro")))
        .join(word_scores, ["id", "cls"], "left")
        .select(
            "id",
            "actual",
            "cls",
            (F.coalesce(F.col("wsum"), F.lit(0)) + F.col("prior_micro")).alias(
                "score_micro"
            ),
        )
    )
    best = scores.groupBy("id").agg(F.max("score_micro").alias("best_micro"))
    return (
        scores.join(best, "id")
        .filter(F.col("score_micro") == F.col("best_micro"))
        .groupBy("id", "actual")
        .agg(
            F.min("cls").alias("predicted"),
            F.round(F.max("best_micro") / 1e6, 6).alias("score"),
        )
        .select(
            F.col("id").alias(id_col),
            "actual",
            "predicted",
            "score",
            F.when(F.col("predicted") == F.col("actual"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )


def doremi_step(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    eta: float = 1.0,
    smooth: float = 0.1,
) -> DataFrame:
    """One DoReMi domain-reweighting step (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    the exponentiated-gradient update behind learned pretraining
    mixtures): each domain's weight moves multiplicatively by its
    EXCESS LOSS — how much worse the shared corpus-level model fits
    the domain than the domain's own model —
    ``w'_d ∝ share_d · exp(η · max(0, L_cross(d) − L_own(d)))``, then
    mixes ``smooth`` of the uniform distribution back in (the paper's
    step; domains the shared model underfits get seen more).

    Loss proxy (the paper uses small LM losses; this engine's
    distributional stand-in): add-one-smoothed UNIGRAM negative
    log-likelihood over the shared vocabulary — L_cross(d) under the
    corpus-level model, L_own(d) under domain d's own model.
    L_cross ≥ L_own in expectation (Gibbs' inequality on the smoothed
    estimates), and the clip at 0 guards finite-sample noise exactly
    as the paper clips its per-domain excess.

    Determinism contract: per-word log-probs round to 6 dp on the
    vocabulary table; per-domain NLL sums are exact bigint micro-unit
    reductions (the nb_classify rule); the single exp() per domain is
    taken on a 6-dp-grid argument and re-rounded to 6 dp (the
    PMI/ln-parity rationale: one transcendental call on identical
    doubles, never a float reduction); both normalizers reduce
    integer micro-units (the domain_mixture_weights Z rule).

    Returns one row per domain: (domain, n_tokens, token_share,
    own_nll, cross_nll, excess, weight) with ``weight`` the smoothed
    updated mixture.

    Scale shape: ONE tokenize pass feeds the corpus-level and
    per-domain counts ((word) and (domain, word) keyed aggregates —
    the only corpus-sized shuffles); the model tables are vocab- and
    vocab×|domains|-sized; everything after runs on |domains| rows.
    Identical cost envelope to dsir_select / nb_classify: two
    streaming passes' worth of aggregation from one scan.
    """
    toks = df.select(
        F.col(domain_col).alias("domain"),
        F.explode(tokenize(F.col(text_col))).alias("w"),
    )
    dom_wc = toks.groupBy("domain", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_dw")
    )
    corp_wc = dom_wc.groupBy("w").agg(F.sum("c_dw").cast("long").alias("c_w"))
    totals = dom_wc.groupBy("domain").agg(
        F.sum("c_dw").cast("long").alias("n_d")
    )
    stats = corp_wc.agg(
        F.sum("c_w").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    lp_corpus = corp_wc.crossJoin(F.broadcast(stats)).select(
        "w",
        F.round(
            F.log((F.col("c_w") + 1).cast("double") / (F.col("n_tot") + F.col("v"))),
            6,
        ).alias("lp_c"),
        "v",
    )
    # per-(domain, word) own-model log-prob needs the domain totals
    scored = (
        dom_wc.join(F.broadcast(totals), "domain")
        .join(lp_corpus, "w")
        .select(
            "domain",
            "n_d",
            "c_dw",
            F.round(F.col("lp_c") * 1e6, 0).cast("long").alias("lpc_micro"),
            F.round(
                F.log(
                    (F.col("c_dw") + 1).cast("double") / (F.col("n_d") + F.col("v"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("lpd_micro"),
        )
    )
    per_dom = scored.groupBy("domain", "n_d").agg(
        F.sum(F.col("c_dw") * F.col("lpc_micro")).alias("__sc"),
        F.sum(F.col("c_dw") * F.col("lpd_micro")).alias("__sd"),
    )
    cross = F.round(-F.col("__sc") / F.col("n_d") / 1e6, 6)
    own = F.round(-F.col("__sd") / F.col("n_d") / 1e6, 6)
    base = per_dom.select(
        "domain",
        F.col("n_d").alias("n_tokens"),
        cross.alias("cross_nll"),
        own.alias("own_nll"),
        F.greatest(F.lit(0.0), F.round(cross - own, 6)).alias("excess"),
    )
    boost = F.round(F.exp(F.lit(float(eta)) * F.col("excess")), 6)
    scored2 = base.withColumn(
        "__share_u", F.col("n_tokens")
    ).withColumn(
        # share·boost in micro-units: share numerator is exact tokens,
        # boost is a 6-dp grid double — quantize the product once
        "__wu",
        F.round(F.col("n_tokens") * boost, 0).cast("long"),
    )
    z = scored2.agg(
        F.sum("__share_u").cast("long").alias("__zt"),
        F.sum("__wu").cast("long").alias("__zw"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    sm = float(smooth)
    return (
        scored2.crossJoin(F.broadcast(z))
        .select(
            "domain",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("__zt"), 6).alias("token_share"),
            "own_nll",
            "cross_nll",
            "excess",
            F.round(
                F.lit(1.0 - sm) * (F.col("__wu") / F.col("__zw"))
                + F.lit(sm) / F.col("__k"),
                6,
            ).alias("weight"),
        )
        .orderBy("domain")
    )


def mixture_concentration(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-mixture concentration audit — the Gini coefficient and
    Herfindahl–Hirschman index (HHI) of per-domain token mass, plus the
    top domain's share: the one-row health check a mixture owner
    watches next to :func:`domain_mixture_weights` / :func:`doremi_step`
    (a drifting pipeline that silently collapses onto one crawl shows
    up here before any model metric moves).

    Exactness: domain token counts are exact bigints; HHI = Σ s_i²
    computes as Σ (share_micro)² / 10¹² over micro-unit integer shares
    (each square ≤ 10¹², sums exact); Gini uses the sorted-rank
    closed form G = 2·Σ rᵢ·cᵢ / (n·Σc) − (n+1)/n with cᵢ ascending by
    (count, domain) — Σ rᵢ·cᵢ is an exact integer reduction, the
    final expression one fixed double tree. No interpolation, no
    float sums.

    Scale shape: ONE corpus-sized keyed aggregate to |domains| rows
    (token counting is codegen size(split()) folded map-side); the
    rank window and every statistic run over that tiny table. Returns
    one row: (n_domains, n_tokens, top_share, hhi, gini).
    """
    from pyspark.sql import Window as _W

    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(F.size(tokenize(text_col))).cast("long").alias("c")
    )
    w = _W.orderBy("c", "domain")
    ranked = per.withColumn("r", F.row_number().over(w).cast("long"))
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tc"),
        F.sum(F.col("r") * F.col("c")).alias("rc"),
        F.max("c").cast("long").alias("cmax"),
    )
    share_micro = F.round(F.col("c") * 1e6 / F.col("tc2"), 0).cast("long")
    shares = (
        ranked.crossJoin(
            F.broadcast(tot.select(F.col("tc").alias("tc2")))
        )
        .select(share_micro.alias("sm"))
        .agg(F.sum(F.col("sm") * F.col("sm")).alias("s2"))
    )
    n, tc, rc = F.col("n"), F.col("tc"), F.col("rc")
    return (
        tot.crossJoin(F.broadcast(shares))
        .select(
            n.cast("int").alias("n_domains"),
            tc.alias("n_tokens"),
            F.round(F.col("cmax") / tc, 6).alias("top_share"),
            F.round(F.col("s2") / 1e12, 6).alias("hhi"),
            F.round(
                2.0 * rc / (n.cast("double") * tc) - (n + 1).cast("double") / n,
                6,
            ).alias("gini"),
        )
    )


def nb_cross_validate(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    k_folds: int = 5,
    seed: int = 11,
) -> DataFrame:
    """K-fold cross-validation of :func:`nb_classify` — the estimator
    a pipeline trusts over a single holdout when deciding whether a
    trained filter is good enough to gate a corpus: the portable-hash
    fold assignment partitions documents into ``k_folds`` disjoint
    folds (the SAME draw nb_classify uses, so fold f's holdout is
    exactly nb_classify(holdout_rem=f)), each fold trains on the rest
    and scores its own slice, and one row per fold reports (fold,
    n_holdout, n_correct, accuracy).

    Exactness: counts are exact integers; accuracy is one integer
    division rounded at 6 dp; everything inside each fold inherits
    nb_classify's micro-unit argmax contract.

    Scale shape: k independent nb_classify plans unioned — each is
    the one-tokenize-pass / broadcast-model shape, so the full CV is
    k corpus passes (the irreducible cost of k-fold CV; at 100 TB run
    folds as separate jobs over a materialized tokenization, or prefer
    the single holdout). The union is k one-row aggregates.
    """
    folds = []
    for f in range(int(k_folds)):
        preds = nb_classify(
            df,
            label_col=label_col,
            id_col=id_col,
            text_col=text_col,
            holdout_mod=int(k_folds),
            holdout_rem=f,
            seed=seed,
        )
        folds.append(
            preds.agg(
                F.lit(f).cast("int").alias("fold"),
                F.count(F.lit(1)).cast("long").alias("n_holdout"),
                F.sum("correct").cast("long").alias("n_correct"),
                F.round(F.sum("correct") / F.count(F.lit(1)), 6).alias(
                    "accuracy"
                ),
            ).select("fold", "n_holdout", "n_correct", "accuracy")
        )
    out = folds[0]
    for extra in folds[1:]:
        out = out.union(extra)
    return out.orderBy("fold")


def topic_keywords(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Class-based TF-IDF keyword extraction (c-TF-IDF, Grootendorst
    2022 — the BERTopic topic-labeling step): treat each domain/class
    as ONE concatenated document, score every term by
    ``(tf_{t,c} / n_c) · ln(1 + A / f_t)`` with A = average tokens per
    class and f_t = corpus term frequency, and keep each class's
    ``top_k`` highest-scoring terms — the distinctive vocabulary a
    corpus owner reads to understand what each source actually
    contains (the exploration twin of :func:`mixture_concentration`'s
    how-much view).

    Determinism: tf normalization and the idf both round to 6 dp on
    integer-exact inputs before the single score multiply (one fixed
    double expression tree); rank ties break (score DESC, term ASC)
    via row_number, so the top-k set is engine-independent.

    Returns (domain, rank, term, score), ``top_k`` rows per domain.

    Scale shape: ONE corpus-sized (domain, term) hash aggregate; the
    corpus term table f_t is vocab-sized and broadcast back; the
    ranking window partitions by domain over the vocab×|domains|
    scored table — vocabulary-bounded, never corpus-bounded (the
    collocations_pmi prune rationale without needing the prune:
    aggregation already collapsed the corpus).
    """
    from pyspark.sql import Window as _W

    tc = df.select(
        F.col(domain_col).alias("domain"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    ).groupBy("domain", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c_tc")
    )
    per_class = tc.groupBy("domain").agg(
        F.sum("c_tc").cast("long").alias("n_c")
    )
    ft = tc.groupBy("term").agg(F.sum("c_tc").cast("long").alias("f_t"))
    stats = per_class.agg(
        F.sum("n_c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    scored = (
        tc.join(F.broadcast(per_class), "domain")
        .join(ft, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "domain",
            "term",
            F.round(
                F.round(F.col("c_tc") / F.col("n_c"), 6)
                * F.round(
                    F.log(
                        F.lit(1.0)
                        + (F.col("total") / F.col("k")) / F.col("f_t")
                    ),
                    6,
                ),
                6,
            ).alias("score"),
        )
    )
    w = _W.partitionBy("domain").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(top_k))
        .select("domain", "rank", "term", "score")
        .orderBy("domain", "rank")
    )

"""Aggregation operators (reference R12/R15; SURVEY.md §2B E10-E14).

Reference parity: R15 is ``SELECT y, m, AVG(Total_amount) ... GROUP BY
y, m ORDER BY y, m`` (``pasta2_analytics/src/main.py:18-25``); R12 is the
logging ``df.count()`` (``pasta1_etl/src/main.py:167,188,216,231``).

Everything here is a hash aggregate with map-side partial aggregation —
Spark computes partial aggregates before the shuffle, so the exchange
carries one row per (partition, key), not per input row. That is the
core 100 TB property: shuffle volume scales with key cardinality, not
data volume. COUNT(DISTINCT) is the exception (expands rows); prefer
``approx_count_distinct`` (HLL++, constant memory per key) at scale.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .joins import size_gated_broadcast


def group_agg(
    df: DataFrame,
    keys: Sequence[str | Column],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """groupBy + named aggregates. ``aggs`` maps output alias → agg column,
    so result column names are deterministic (oracle contract)."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return df.groupBy(*keys).agg(*exprs)


def count_rows(df: DataFrame) -> int:
    """Reference R12 count action."""
    return df.count()


def having(df_agged: DataFrame, predicate: Column | str) -> DataFrame:
    """Post-aggregation filter (E14). A plain filter above the aggregate —
    Catalyst will NOT push it below (it references agg outputs)."""
    return df_agged.filter(predicate)


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]) -> DataFrame:
    """ROLLUP grouping sets (E13): totals at every key prefix + grand total."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return df.rollup(*keys).agg(*exprs)


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]) -> DataFrame:
    """CUBE grouping sets (E13): totals at every key subset."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return df.cube(*keys).agg(*exprs)


def count_distinct_agg(df: DataFrame, keys: Sequence[str], col: str, alias: str) -> DataFrame:
    """Exact COUNT(DISTINCT col) per key (E11). Exact distinct requires a
    full expansion shuffle — at 100 TB prefer :func:`approx_count_distinct_agg`."""
    return df.groupBy(*keys).agg(F.countDistinct(col).alias(alias))


def pivot_agg(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    agg_expr: Column,
) -> DataFrame:
    """Pivot (long → wide): one output column per pivot value.

    ``pivot_values`` is explicit — at scale, never let Spark run the
    extra distinct-scan to discover them (and unbounded value sets make
    unbounded schemas).
    """
    return df.groupBy(*keys).pivot(pivot_col, list(pivot_values)).agg(agg_expr)


def stats_agg(df: DataFrame, keys: Sequence[str], col: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance (sample), skew-free
    single pass — all partial-aggregable, shuffle = key cardinality."""
    return df.groupBy(*keys).agg(
        F.round(F.stddev(col), 6).alias("stddev_v"),
        F.round(F.var_samp(col), 6).alias("var_v"),
        F.round(F.min(col), 6).alias("min_v"),
        F.round(F.max(col), 6).alias("max_v"),
    )


def percentile_agg(
    df: DataFrame, keys: Sequence[str], col: str, percentiles: Sequence[float] = (0.5,)
) -> DataFrame:
    """Exact percentiles (linear interpolation). Exact percentile is a
    full-sort-per-key operator; the 100 TB path is
    :func:`approx_percentile_agg` (mergeable t-digest-style sketch)."""
    out = df.groupBy(*keys)
    aggs = [
        F.round(F.percentile(col, F.lit(p)), 6).alias(f"p{int(p * 100)}")
        for p in percentiles
    ]
    return out.agg(*aggs)


def approx_percentile_agg(
    df: DataFrame, keys: Sequence[str], col: str, percentiles: Sequence[float] = (0.5,), accuracy: int = 10000
) -> DataFrame:
    """Approximate percentiles: constant-memory mergeable sketch — the
    scale path for quantiles."""
    aggs = [
        F.round(F.percentile_approx(col, F.lit(p), F.lit(accuracy)), 6).alias(f"ap{int(p * 100)}")
        for p in percentiles
    ]
    return df.groupBy(*keys).agg(*aggs)


def approx_count_distinct_agg(
    df: DataFrame, keys: Sequence[str], col: str, alias: str, rsd: float = 0.05
) -> DataFrame:
    """HLL++ approximate distinct (E12): constant memory per key, single
    shuffle of sketches, mergeable across partitions — the scale path."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(col, rsd=rsd).alias(alias))


def ols_group(
    df: DataFrame,
    keys: Sequence[str],
    x_int: Column,
    y_scaled: Column,
    y_scale: int = 1_000_000,
) -> DataFrame:
    """Per-group simple linear regression (OLS) from sufficient
    statistics: one aggregate pass collects (n, Σx, Σy, Σx², Σxy, Σy²),
    then slope / intercept / r² fall out of closed forms — the
    map-side-combinable formulation that never materializes per-group
    vectors (contrast sklearn-style collect-and-fit, which at 100 TB
    would ship every row to one task per group). Spark exposes
    ``regr_slope``-family aggregates with the same plan; this spells
    the statistics out so both engines reduce EXACT INTEGERS.

    Float-order determinism: double sums are order-dependent under
    Spark's nondeterministic partition reduce order, so callers pass
    ``x_int`` (already integral) and ``y_scaled`` (value quantized to
    an integer). Pick the SMALLEST lossless scale: Σy² must fit in
    bigint, so micro-units overflow around 10⁴ rows/group for
    1e3-magnitude values — centi-units for 2-dp money. Integer sums
    are exact regardless of reduce order; the closed-form division is
    then one fixed expression tree over identical doubles in any
    engine. ``y_scale`` only rescales slope/intercept back to value
    units. Degenerate groups (zero x or y variance) yield NULL slope /
    r² rather than a division error.
    """
    x = x_int.cast("long")
    y = y_scaled.cast("long")
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy"))
    cov_n = n * sxy - sx * sy          # n²·cov(x,y)
    var_x = n * sxx - sx * sx          # n²·var(x)
    var_y = n * syy - sy * sy          # n²·var(y)
    scale = F.lit(float(y_scale))
    slope = F.when(var_x != 0, cov_n / var_x)
    return stats.select(
        *keys,
        n.cast("long").alias("n"),
        F.round(slope / scale, 6).alias("slope"),
        F.round((sy - slope * sx) / n / scale, 6).alias("intercept"),
        F.round(
            F.when((var_x != 0) & (var_y != 0), cov_n * cov_n / (var_x * var_y)), 6
        ).alias("r2"),
    )


def hll_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable-sketch distinct counting at two grains from ONE scan:
    build Apache DataSketches HLL sketches at the fine grain
    (``hll_sketch_agg``), then RE-AGGREGATE the sketch binaries to the
    coarse grain (``hll_union_agg``) — the input is never read twice.
    This is the warehouse pattern for daily→monthly→all-time distinct
    users: at 100 TB the second grain costs a shuffle of kilobyte
    sketches, not a rescan, which ``approx_count_distinct`` (HLL++,
    E12) can't do because it never exposes the sketch as a value.

    Returns the coarse-grain frame with ``distinct_est`` (union
    estimate, rounded to a bigint) plus ``n_sketches`` merged. The
    estimate is deterministic for fixed data and lg_k; correctness
    harnesses should assert a relative-error band against the exact
    count (DataSketches HLL rse ≈ 1.04/√2^lg_k ≈ 1.6 % at lg_k=12)
    rather than equality.
    """
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(col, F.lit(lg_k)).alias("sketch")
    )
    return fine.groupBy(*coarse_keys).agg(
        F.round(F.hll_sketch_estimate(F.hll_union_agg("sketch", F.lit(False))))
        .cast("long")
        .alias("distinct_est"),
        F.count(F.lit(1)).alias("n_sketches"),
    )


def cms_point_estimates(
    df: DataFrame,
    col: str,
    probe_keys: Sequence[int | str],
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-Min point-frequency estimates: ONE pass builds a
    fixed-size mergeable sketch (``count_min_sketch`` — map-side
    partials, kilobyte shuffle), then the named keys are probed from
    the final binary. The streaming-telemetry primitive for "how often
    did THIS key occur" without a per-key groupBy state: at 100 TB the
    sketch is d×w counters regardless of key cardinality, and the CM
    guarantee is one-sided — ``exact ≤ est ≤ exact + eps·N`` with
    probability ≥ ``confidence`` (est never undercounts).

    The probe readback parses the sketch binary on the DRIVER via the
    JVM's ``CountMinSketch.readFrom`` — a deliberate driver-side step
    over ONE aggregated value (same class as the sink/DDL readbacks),
    not a per-row path. Keys must match the column's JVM type (pass
    ints for a long column). Returns (key, est) rows.
    """
    row = df.agg(
        F.count_min_sketch(F.col(col), F.lit(eps), F.lit(confidence), F.lit(seed)).alias("s")
    ).head()
    spark = df.sparkSession
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(row["s"]))
    rows = [(k, int(cms.estimateCount(k))) for k in probe_keys]
    return spark.createDataFrame(rows, f"key {'string' if isinstance(probe_keys[0], str) else 'long'}, est long")


def jackknife_group_means(
    df: DataFrame,
    group_col: str,
    y_scaled: Column,
    y_scale: int = 100,
) -> DataFrame:
    """Delete-one-group jackknife for the global mean: for every group
    g, the mean computed WITHOUT g — ``(S − s_g)/(N − n_g)`` from the
    per-group sufficient statistics. The spread of these leave-one-out
    means is the standard error bar for "is any single source/shard
    dragging the metric", the grouped-data replacement for bootstrap
    resampling (which would rescan the data B times; this is ONE
    aggregate pass + arithmetic on a groups-sized table).

    Same reduce-order-determinism contract as :func:`ols_group`:
    ``y_scaled`` must be integral (e.g. centi-units) so the sums are
    exact; each leave-one-out mean is then a single division of
    identical doubles in any engine. Groups covering the entire input
    (N == n_g) yield NULL."""
    y = y_scaled.cast("long")
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_g"), F.sum(y).alias("s_g")
    )
    totals = per.agg(F.sum("n_g").alias("__n"), F.sum("s_g").alias("__s"))
    out = per.crossJoin(F.broadcast(totals))
    loo = (F.col("__s") - F.col("s_g")).cast("double") / (
        (F.col("__n") - F.col("n_g")).cast("double") * F.lit(float(y_scale))
    )
    return out.select(
        group_col,
        "n_g",
        F.round(
            F.when(F.col("__n") > F.col("n_g"), loo), 6
        ).alias("loo_mean"),
    )


def kmv_sketch(df: DataFrame, value: Column, k: int = 256) -> DataFrame:
    """K-minimum-values sketch of a value set: the ``k`` smallest
    60-bit portable hashes of the DISTINCT values — one column,
    ``h``. Built with distinct → ``orderBy(h).limit(k)``, which Spark
    plans as TakeOrderedAndProject (per-partition heaps + a k-row
    driver merge — no global sort, the scale-right "k smallest at
    100 TB" shape). Deterministic for fixed data (md5-based hash), so
    sketch-derived estimates replay exactly."""
    from .text import portable_hash60

    return (
        df.select(portable_hash60(value.cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_intersection(sketch_a: DataFrame, sketch_b: DataFrame, k: int = 256) -> DataFrame:
    """Distinct-INTERSECTION estimate from two KMV sketches — the set
    operation HLL cannot do (HLL sketches union losslessly but carry
    no membership, so |A∩B| is out of reach; KMV keeps actual hash
    samples, so it can). Estimator (Beyer et al., "On Synopses for
    Distinct-Value Estimation Under Multiset Operations", SIGMOD'07):
    take the k smallest hashes of the sketch UNION; with M_k the k-th
    smallest as a fraction of hash space, ``|A∪B| ≈ (k−1)/M_k``; the
    fraction ρ of those k union-minima present in BOTH sketches
    estimates the Jaccard, and ``|A∩B| ≈ ρ·|A∪B|``. Relative error
    ~1/√k on the union times a Binomial(k, ρ) term on ρ — ~6 % at
    k=256 for balanced overlaps; measured 0.5 % on the contract
    fixture. Everything here is sketch-sized (2k rows): broadcast
    joins, one aggregate — at 100 TB only the sketch builds touch
    data. Returns one row (est_union, rho, est_intersection)."""
    a = sketch_a.select(F.col("h").alias("h")).withColumn("__a", F.lit(1))
    b = sketch_b.select(F.col("h").alias("h")).withColumn("__b", F.lit(1))
    merged = (
        a.join(b, "h", "full_outer")
        .select(
            "h",
            F.coalesce("__a", F.lit(0)).alias("in_a"),
            F.coalesce("__b", F.lit(0)).alias("in_b"),
        )
        .orderBy("h")
        .limit(k)
    )
    return merged.agg(
        F.round((F.lit(float(k - 1)) / (F.max("h") / F.lit(float(1 << 60)))), 1).alias(
            "est_union"
        ),
        F.round(F.sum(F.col("in_a") * F.col("in_b")) / F.lit(float(k)), 6).alias("rho"),
    ).select(
        "est_union",
        "rho",
        F.round(F.col("rho") * F.col("est_union"), 1).alias("est_intersection"),
    )


def corr_group(
    df: DataFrame,
    keys: Sequence[str],
    x_scaled: Column,
    y_scaled: Column,
) -> DataFrame:
    """Per-group Pearson correlation from integer sufficient statistics
    — one map-side-combinable aggregate pass, the ols_group pattern
    applied to ``r = (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²))``. Callers
    quantize both columns to lossless integers; the sums accumulate as
    DECIMAL (128-bit, exact and reduce-order-independent — bigint Σy²
    overflows around 10⁵ rows/group for centi-scaled 1e5-magnitude
    values, which this survives to ~10²⁸). The one final CAST of each
    exact decimal sum to double is round-to-nearest in every engine,
    so the closed form then divides identical doubles. Zero-variance
    groups yield NULL. Built-in ``corr`` computes the same number but
    accumulates doubles in reduce order — fine for analytics, not for
    a bit-stable cross-engine contract."""
    x = x_scaled.cast("decimal(18,0)")
    y = y_scaled.cast("decimal(18,0)")
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy"))
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    r = F.when(
        (var_x > 0) & (var_y > 0),
        (n * sxy - sx * sy) / F.sqrt(var_x * var_y),
    )
    return stats.select(*keys, n.cast("long").alias("n"), F.round(r, 6).alias("pearson_r"))


def welch_ttest(
    df: DataFrame,
    keys: Sequence[str],
    value_scaled: Column,
    in_group_a: Column,
) -> DataFrame:
    """Per-key Welch two-sample t-test (unequal variances) from exact
    integer sufficient statistics — the A/B-comparison primitive,
    computed in ONE map-side-combinable aggregate pass over the data
    (no per-group re-scan, no collect).

    Same bit-stability contract as :func:`corr_group`: callers quantize
    the metric to a lossless integer; Σx and Σx² accumulate as
    DECIMAL(28,0) (exact, reduce-order-independent), and each exact sum
    is cast to double ONCE before the closed forms
        t  = (m_a − m_b) / √(v_a/n_a + v_b/n_b)
        df = (v_a/n_a + v_b/n_b)² / ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1))
    with v = sample variance (n−1 denominator). Keys where either arm
    has < 2 rows or both variances are 0 yield NULL t/df.

    100 TB: one hash aggregate, shuffle = |keys| rows × 6 numbers; the
    t statistic itself is per-row arithmetic on that tiny table."""
    x = value_scaled.cast("decimal(28,0)")
    flag = in_group_a.cast("boolean")
    # n must count exactly the rows the Σx/Σx² sums see: a NULL metric
    # contributes nothing to the sums, so counting it would understate
    # means/variances while inflating n (wrong t and df)
    seen = x.isNotNull()
    stats = df.groupBy(*keys).agg(
        F.sum(F.when(flag & seen, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(~flag & seen, 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(flag, x).otherwise(F.lit(0).cast("decimal(28,0)"))).cast("double").alias("sa"),
        F.sum(F.when(~flag, x).otherwise(F.lit(0).cast("decimal(28,0)"))).cast("double").alias("sb"),
        F.sum(F.when(flag, x * x).otherwise(F.lit(0).cast("decimal(28,0)"))).cast("double").alias("qa"),
        F.sum(F.when(~flag, x * x).otherwise(F.lit(0).cast("decimal(28,0)"))).cast("double").alias("qb"),
    )
    na, nb, sa, sb, qa, qb = (F.col(c) for c in ("na", "nb", "sa", "sb", "qa", "qb"))
    ma, mb = sa / na, sb / nb
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok,
        (se2 * se2)
        / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)),
    )
    return stats.select(
        *keys,
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


def binned_quantile_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    value: Column,
    lo: float,
    width: float,
    n_bins: int,
    quantiles: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """Mergeable fixed-bin quantile estimation at two grains — the
    quantile twin of :func:`hll_rollup`: per-``fine_keys`` histograms
    are built in one scan, then RE-AGGREGATED (summed) up to
    ``coarse_keys`` without touching the raw data again. This is the
    continuous-aggregate / hypertable-rollup pattern: the fine-grain
    histogram table is what you'd persist; any coarser rollup or
    quantile re-derives from it.

    Bins are ``floor((v - lo)/width)`` clamped to [0, n_bins-1]; the
    quantile estimate interpolates linearly inside the target bin from
    the exact cumulative counts, so the result is deterministic and any
    SQL engine reproduces it bit-for-bit (unlike t-digest/KLL whose
    merge order matters). Accuracy is bounded by ``width`` — choose
    bins from the domain, exactly like production fixed-bin monitors
    (Prometheus histograms) do.

    100 TB: shuffle = |fine_keys| × n_bins count rows, constant per
    key; the rollup and quantile stages run on kilobytes."""
    bin_col = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((value - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    # a NULL metric must not become an observation: floor(NULL/width) is
    # NULL and greatest() SKIPS nulls, so without this filter NULLs land
    # in bin 0 as phantom values at `lo`, skewing every quantile
    fine = df.filter(value.isNotNull()).groupBy(*fine_keys, bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )
    coarse = fine.groupBy(*coarse_keys, "bin").agg(F.sum("n").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy(*coarse_keys).orderBy("bin")
    wk = Window.partitionBy(*coarse_keys)
    # the cumulative table is read 2× per quantile (target-bin lookup +
    # interpolation); checkpoint it so the scan→fine→coarse→window chain
    # runs once — this |coarse_keys|×n_bins table IS the mergeable
    # sketch a deployment would store
    cum = coarse.select(
        *coarse_keys,
        "bin",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(wk).alias("total_n"),
    ).localCheckpoint()
    outs = []
    for q in quantiles:
        target = F.col("total_n") * F.lit(q)
        # first bin whose cumulative count reaches the target
        hit = cum.where(F.col("cum_n") >= target).groupBy(*coarse_keys).agg(
            F.min("bin").alias("qbin")
        )
        est = (
            cum.join(hit, on=[*coarse_keys])
            .where(F.col("bin") == F.col("qbin"))
            .select(
                *coarse_keys,
                F.col("total_n"),
                F.round(
                    F.lit(lo)
                    + (
                        F.col("bin").cast("double")
                        + (
                            (F.col("total_n") * F.lit(q) - (F.col("cum_n") - F.col("n")))
                            / F.col("n")
                        )
                    )
                    * F.lit(width),
                    6,
                ).alias(f"p{int(q * 100)}_est"),
            )
        )
        outs.append(est)
    result = outs[0]
    for extra in outs[1:]:
        keep = [c for c in extra.columns if c not in (*coarse_keys, "total_n")]
        result = result.join(extra.select(*coarse_keys, *keep), on=[*coarse_keys])
    return result.withColumnRenamed("total_n", "n_rows")


def ks_two_sample(
    df: DataFrame,
    value: Column | str,
    in_a: Column,
    alpha_c: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``in_a`` and
    the complementary sample of ``value`` — the distribution-level
    drift / A-B test companion to :func:`welch_ttest` (means can match
    while shapes diverge; KS catches shape). ``alpha_c`` is the
    critical coefficient (1.358 → alpha = 0.05).

    Returns one row: (n_a, n_b, ks_stat, ks_critical, reject) where
    ks_stat = sup_x |F_a(x) - F_b(x)| over the pooled ECDFs and
    reject = ks_stat > c(alpha) * sqrt((n_a+n_b)/(n_a*n_b)).

    Scale shape: the textbook formulation sorts the pooled sample — a
    single-task global sort at 100 TB. This one aggregates to one row
    per DISTINCT value first (shuffle is |distinct values| after
    map-side combine — for fixed-precision metrics that is thousands of
    rows regardless of corpus size), then takes running sums over that
    tiny table. The final window over distinct values is the only
    serial step and its input is sketch-sized, not corpus-sized. NULL
    values are excluded (an unobserved metric is not an observation at
    any x — the welch_ttest NULL rule, applied here to both count and
    ECDF).

    Degenerate samples: if either side is empty (every non-null row —
    or none — matches ``in_a``), the ECDF divides by zero and
    ks_stat / ks_critical / reject come back NULL — the statistic IS
    undefined there, and NULL is deliberately distinguishable from a
    legitimate reject=false. Monitors must treat a NULL reject as
    "test not runnable", never as "no drift" (pinned in
    test_ks_two_sample_degenerate_side_is_null).
    """
    from pyspark.sql import Window as _W

    v = F.col(value) if isinstance(value, str) else value
    flagged = df.select(
        v.alias("__v"), in_a.cast("int").alias("__a")
    ).filter(F.col("__v").isNotNull())
    per_value = flagged.groupBy("__v").agg(
        F.sum("__a").cast("long").alias("__ca"),
        F.sum(1 - F.col("__a")).cast("long").alias("__cb"),
    )
    w = _W.orderBy("__v").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    tot = per_value.agg(
        F.sum("__ca").cast("long").alias("__na"),
        F.sum("__cb").cast("long").alias("__nb"),
    )
    ecdf = per_value.crossJoin(F.broadcast(tot)).select(
        "__na",
        "__nb",
        (
            F.sum("__ca").over(w) / F.col("__na")
            - F.sum("__cb").over(w) / F.col("__nb")
        ).alias("__d"),
    )
    crit = F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double") / (F.col("n_a") * F.col("n_b"))
    ) * F.lit(float(alpha_c))
    return (
        ecdf.groupBy("__na", "__nb")
        .agg(F.max(F.abs(F.col("__d"))).alias("__ks"))
        .select(
            F.col("__na").alias("n_a"),
            F.col("__nb").alias("n_b"),
            F.round("__ks", 6).alias("ks_stat"),
        )
        .select(
            "n_a",
            "n_b",
            "ks_stat",
            F.round(crit, 6).alias("ks_critical"),
            (F.col("ks_stat") > F.round(crit, 6)).alias("reject"),
        )
    )


def bitmap_distinct_rollup(
    df: DataFrame,
    group_col: str,
    sub_col: Column | str,
    id_col: str = "user_id",
    block_bits: int = 32,
) -> DataFrame:
    """Re-aggregatable exact distinct counts via blocked bitmaps — the
    Druid/ClickHouse bitmap-index technique: per (group, sub-bucket)
    the distinct ``id_col`` count is the popcount of an id bitmap, and
    the GROUP-level distinct is the popcount of the OR of its
    sub-bucket bitmaps — no re-scan of the fact table to roll a daily
    distinct up to a monthly one, which COUNT(DISTINCT) forces.

    Returns one row per group: (group, n_subs, sum_sub_distinct,
    distinct_total, avg_sub_distinct) — sum_sub_distinct double-counts
    ids seen in several sub-buckets; distinct_total does not; their gap
    is the cross-bucket repeat mass.

    Scale shape: ids are blocked into ``block_bits``-wide words
    (block = id div width, bit = id mod width) so the bitmap is a set
    of (block, word) rows, not one giant value — memory per group is
    proportional to the id range actually present, partitioned across
    the cluster. Two partial-aggregated exchanges: (group, sub, block)
    then (group, block); both shrink map-side because bit_or folds.
    Words stay below 2^{block_bits} <= 2^32 so bigint bit arithmetic
    never touches the sign bit in either engine.
    """
    width = int(block_bits)
    if not 1 <= width <= 32:
        # past 32 the shifted bigint words touch the sign bit and the
        # documented cross-engine parity contract above breaks
        raise ValueError(f"block_bits must be in [1, 32], got {block_bits}")
    sub = F.col(sub_col) if isinstance(sub_col, str) else sub_col
    # block must FLOOR-divide consistently with pmod: float division +
    # cast truncates toward zero, so id = -1 would land in (block 0,
    # bit 31) — colliding with id = 31 — and ids past 2^53 lose
    # precision in the double. (id - pmod(id, w)) is exactly divisible,
    # so integer `div` is exact for the whole bigint range, any sign.
    bit = F.pmod(F.col(id_col), F.lit(width))
    block = F.expr(
        f"(`{id_col}` - pmod(`{id_col}`, {width})) div {width}"
    )
    ids = df.select(
        F.col(group_col).alias("grp"),
        sub.alias("sub"),
        block.cast("long").alias("block"),
        bit.cast("int").alias("bit"),
    )
    # pyspark's shiftleft() only takes a literal shift amount; the SQL
    # form accepts a column expression and stays codegen
    words = ids.groupBy("grp", "sub", "block").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("word")
    )
    per_sub = words.groupBy("grp", "sub").agg(
        F.sum(F.bit_count("word")).cast("long").alias("sub_distinct")
    )
    rolled = words.groupBy("grp", "block").agg(F.bit_or("word").alias("word"))
    per_grp = rolled.groupBy("grp").agg(
        F.sum(F.bit_count("word")).cast("long").alias("distinct_total")
    )
    subs = per_sub.groupBy("grp").agg(
        F.count(F.lit(1)).cast("int").alias("n_subs"),
        F.sum("sub_distinct").cast("long").alias("sum_sub_distinct"),
    )
    return subs.join(per_grp, "grp").select(
        F.col("grp").alias(group_col),
        "n_subs",
        "sum_sub_distinct",
        "distinct_total",
        F.round(F.col("sum_sub_distinct") / F.col("n_subs"), 6).alias(
            "avg_sub_distinct"
        ),
    )


def poisson1_cdf_thresholds(n_terms: int = 8) -> list[float]:
    """Cumulative Poisson(1) probabilities P(X <= k) for k = 0..n_terms-1
    — the inverse-CDF table behind :func:`poisson_bootstrap_ci`. Exposed
    as a function so the Spark plan and the SQL oracle embed the SAME
    doubles (repr round-trips exactly in every engine); truncating at
    n_terms=8 loses P(X >= 8) ≈ 1.1e-6 of mass (those draws get weight
    8), identically on both sides of the contract."""
    out, acc, term = [], 0.0, math.exp(-1.0)
    for k in range(n_terms):
        acc += term
        out.append(acc)
        term /= k + 1
    return out


def _u_threshold_to_h(t: float) -> int:
    """Minimal integer h ∈ [0, 2⁶⁰] with (double(h) + 0.5) / 2⁶⁰ ≥ t,
    by binary search over the monotone predicate. Python floats are
    IEEE-754 doubles with the same long→double rounding, addition and
    exact power-of-two division the JVM runs, so this is the exact
    flip point of the engine-side comparison the pre-r15 plan
    evaluated per draw (see poisson_bootstrap_ci's draw-pass note)."""
    denom = float(1 << 60)

    def pred(h: int) -> bool:
        return (float(h) + 0.5) / denom >= t

    if pred(0):
        return 0
    lo, hi = 0, 1 << 60  # u(2⁶⁰) > 1 ≥ every CDF threshold
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if pred(mid):
            hi = mid
        else:
            lo = mid
    # h = 2⁶⁰ (t above every u) would format as 16 hex digits and break
    # the fixed-width 15-digit compare of the CASE ladder
    assert hi < 1 << 60, f"threshold {t!r} has no 15-hex-digit flip point"
    return hi


def poisson_bootstrap_ci(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    id_col: str,
    n_boot: int = 40,
    seed: int = 17,
    level: float = 0.95,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean by the
    POISSON bootstrap (Chamandy, Muralidharan, Najmi & Naidu 2012,
    "Estimating uncertainty for massive data streams" — Google's
    production bootstrap): instead of resampling n rows with
    replacement (impossible in one pass over a distributed table), each
    row enters replicate b with an independent Poisson(1) weight, which
    converges to multinomial resampling and needs ONE streaming pass.

    The weights are deterministic: the portable 60-bit hash of
    (row id, replicate, seed) maps to u ∈ (0,1) strictly (the dsir
    (h+½)/2⁶⁰ rule), and the weight is the count of CDF thresholds
    below u (:func:`poisson1_cdf_thresholds` — truncated at 8). Both
    engines replay every draw bit-for-bit, and swapping the hash for
    ``rand()`` recovers the production mechanism with the same plan.

    Determinism contract: values quantize to integer micro-units at the
    scan (round(x·1e6) → bigint), so every replicate's weighted sum is
    an EXACT bigint reduction; each replicate mean collapses to one
    double division rounded back onto the micro grid. The bootstrap
    SE is computed from micro-unit means CENTERED on the point estimate
    (Σd, Σd² stay small bigints — overflow-safe and exact), and the CI
    bounds are ORDER STATISTICS of the B replicate means (rank
    ⌊α/2·B⌋+1 and its mirror; ties broken by replicate id) — no
    engine-specific quantile interpolation.

    Returns one row per group: (keys…, n_rows, mean, se_boot, ci_lo,
    ci_hi, n_boot).

    Scale shape: the explode produces B rows per input row, but they
    reduce in the SAME stage's map-side partial aggregation — the
    shuffle carries |groups|·B pre-aggregated cells, not corpus·B rows
    (this is the paper's point: bandwidth ∝ B·groups, one data pass).
    The only window runs over B rows per group (sketch-sized, the
    ks_two_sample rationale). Micro-unit sums bound |Σ w·v_micro| by
    ~8·n·max|v|·1e6 — past ~10¹² rows per group quantize coarser or
    move the cell sums to decimal(38,0).
    """
    v = F.col(value) if isinstance(value, str) else value
    thresholds = poisson1_cdf_thresholds()
    lo_rank = int(math.floor((1.0 - level) / 2.0 * n_boot)) + 1
    hi_rank = n_boot - lo_rank + 1

    rows = df.select(
        *[F.col(k) for k in keys],
        F.col(id_col).cast("string").alias("__id"),
        F.round(v * 1e6, 0).cast("long").alias("__vm"),
    )
    # point estimate from the unweighted sample (exact micro-units)
    pe = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("__vm") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("__pe_micro"),
    )
    # r15: spread the single-partition scan across cores before the B×
    # explode + per-draw md5 (guide §2.5 — the fixture files are one
    # row group, so the whole draw pass ran serially). Replicate cell
    # sums are exact integer reductions, so the spread is value-exact.
    from .joins import fanout_repartition

    rep_rows = fanout_repartition(rows, "__id").withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1)))
    )
    draw_input = F.concat_ws(
        "\x1f", F.col("__id"), F.col("b").cast("string"), F.lit(str(seed))
    )
    # r15 draw-pass optimization (guide §1.2 per-task work, measured
    # with the noop sink at sf0.1): of the exploded pass's ~4.1 s,
    # md5 cost 1.2 s and the hex→bigint ``conv`` another 2.2 s. The
    # integer hash is only ever COMPARED against the 8 CDF thresholds,
    # and h ↦ u = (double(h)+0.5)/2⁶⁰ is monotone non-decreasing
    # (long→double rounding, +0.5 and the exact power-of-two scaling
    # are each monotone), so every u-threshold t has a minimal integer
    # h* with u(h*) ≥ t — computed driver-side by binary search with
    # the SAME IEEE-754 double ops the engine would run. And because
    # md5's 15-char slice is fixed-width lowercase hex, h ≥ h* is
    # exactly a lexicographic string comparison against hex15(h*). The
    # draw therefore skips conv/cast entirely: per draw, one
    # md5 + a short-circuiting CASE ladder over the 8 sorted flip
    # points. __w is bit-identical (the
    # fence test replays the old conv formulation pairwise); the
    # oracle twin still replays the documented hex→int→u→threshold
    # chain and matches because the WEIGHTS are equal, which is all
    # that leaves this operator. Two more per-draw cuts, both
    # value-preserving: (a) compare the FULL 32-char md5 against the
    # 15-char boundary — for fixed-width lowercase hex, s ≥ b over the
    # longer string decides on the first 15 chars and an equal prefix
    # makes the longer string greater, exactly hex15 ≥ b — skipping a
    # UTF8String substring alloc per draw; (b) the 8 independent
    # ≥-comparisons collapse into one ascending CASE ladder (w = rank
    # of the hash among the sorted flip points), which short-circuits
    # after ~2 comparisons for Poisson(1) draws instead of always
    # running all 8.
    bounds = [format(_u_threshold_to_h(t), "015x") for t in thresholds]
    drawn = rep_rows.select(
        *keys, "__vm", "b", F.md5(draw_input).alias("__hx")
    )
    w = F.when(F.col("__hx") < bounds[0], 0)
    for i in range(1, len(bounds)):
        w = w.when(F.col("__hx") < bounds[i], i)
    w = w.otherwise(len(bounds)).cast("long")
    cells = drawn.withColumn("__w", w).groupBy(*keys, "b").agg(
        F.sum("__w").alias("__n_b"),
        F.sum(F.col("__w") * F.col("__vm")).alias("__s_b"),
    )
    # all-zero-weight replicates (probability e^-n per replicate; real
    # for tiny groups) have no mean — drop them on BOTH sides of the
    # contract rather than let a NULL mean hit the rank window, where
    # Spark sorts NULLS FIRST and DuckDB NULLS LAST (silent divergence).
    # SE then divides by the VALID replicate count; a CI rank that
    # exceeds it comes back NULL (the ks_two_sample degenerate rule).
    means = cells.filter(F.col("__n_b") > 0).select(
        *keys,
        "b",
        F.round(F.col("__s_b") / F.col("__n_b"), 0).cast("long").alias("__mb"),
    )
    from pyspark.sql import Window as _W

    win = _W.partitionBy(*keys).orderBy("__mb", "b")
    ranked = means.withColumn("__rn", F.row_number().over(win)).join(
        # per-key point-estimate table: GROUP-KEY-cardinality-sized
        size_gated_broadcast(pe), list(keys)
    )
    d = F.col("__mb") - F.col("__pe_micro")
    out = ranked.groupBy(*keys).agg(
        F.max("n_rows").alias("n_rows"),
        F.max("__pe_micro").alias("__pe"),
        F.count(F.lit(1)).cast("long").alias("__nrep"),
        F.sum(d).alias("__sd"),
        F.sum(d * d).alias("__sd2"),
        F.max(F.when(F.col("__rn") == lo_rank, F.col("__mb"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi_rank, F.col("__mb"))).alias("__hi"),
    )
    nrep = F.col("__nrep").cast("double")
    var = (
        F.col("__sd2").cast("double")
        - F.col("__sd").cast("double") * F.col("__sd").cast("double") / nrep
    ) / (nrep - F.lit(1.0))
    return out.select(
        *keys,
        "n_rows",
        F.round(F.col("__pe") / 1e6, 6).alias("mean"),
        F.when(F.col("__nrep") > 1, F.round(F.sqrt(var) / 1e6, 6)).alias(
            "se_boot"
        ),
        F.round(F.col("__lo") / 1e6, 6).alias("ci_lo"),
        F.round(F.col("__hi") / 1e6, 6).alias("ci_hi"),
        F.lit(int(n_boot)).cast("int").alias("n_boot"),
    )


def equidepth_histogram(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    n_bins: int = 8,
) -> DataFrame:
    """Per-group equi-depth (equal-frequency) histogram — the column
    statistic ANALYZE builds for optimizers (Spark CBO, Postgres,
    Oracle all store equi-depth bins): bin j's upper boundary is the
    smallest value whose cumulative row count reaches ⌈j·n/B⌉, so
    every bin holds ~n/B rows no matter how skewed the distribution
    (fixed-width bins — :func:`binned_quantile_rollup` — waste
    resolution on skew; equi-depth adapts to it).

    Returns one row per (group, bin): (keys…, bin, lo, hi, bin_rows,
    cum_rows) — ``lo`` is the previous bin's upper bound (NULL for bin
    1: the bin is bounded below by the group minimum), boundaries are
    ACTUAL data values (never interpolated), counts are exact.

    Determinism: bin assignment is pure integer arithmetic on exact
    counts — ``bin = min(B, (cum·B + n − 1) div n)`` (integer ceil) —
    no float quantile interpolation anywhere, so any engine reproduces
    the same boundaries bit-for-bit.

    Scale shape: the corpus reduces to one row per DISTINCT (group,
    value) in the first keyed aggregate (map-side combined — for
    fixed-precision metrics that is thousands of cells regardless of
    corpus size); the running sum and bin grouping run over that
    sketch-sized table (the ks_two_sample rationale). Nothing sorts
    the raw data. Integer bin math stays exact while cum·B < 2⁶³ —
    beyond ~10¹⁸ row-bins, quantize the value domain first.
    """
    from pyspark.sql import Window as _W

    v = F.col(value) if isinstance(value, str) else value
    # NULL values carry no position on the value axis — and the two
    # engines disagree on where a NULL cell sorts in the cumulative
    # window (Spark NULLS FIRST, DuckDB NULLS LAST), which would shift
    # every bin boundary. Exclude them explicitly on both sides.
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*keys, v.alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = counts.groupBy(*keys).agg(F.sum("c").cast("long").alias("n"))
    w = _W.partitionBy(*keys).orderBy("v")
    cum = (
        counts.withColumn("cum", F.sum("c").over(w).cast("long"))
        .join(size_gated_broadcast(tot), list(keys))
    )
    bin_col = F.least(
        F.lit(int(n_bins)).cast("long"),
        F.expr(f"(cum * {int(n_bins)} + n - 1) div n"),
    ).alias("bin")
    per_bin = (
        cum.select(*keys, "v", "c", "cum", bin_col)
        .groupBy(*keys, "bin")
        .agg(
            F.max("v").alias("hi"),
            F.sum("c").cast("long").alias("bin_rows"),
            F.max("cum").cast("long").alias("cum_rows"),
        )
    )
    wb = _W.partitionBy(*keys).orderBy("bin")
    return per_bin.select(
        *keys,
        F.col("bin").cast("int").alias("bin"),
        F.lag("hi").over(wb).alias("lo"),
        "hi",
        "bin_rows",
        "cum_rows",
    )


def weighted_percentile(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    weight: Column | str,
    percentiles: Sequence[float] = (0.5,),
) -> DataFrame:
    """Exact weighted percentiles per group — the importance-weighted
    quantile a curation pipeline needs once rows stop counting equally
    (mixture-weighted corpora, quantity-weighted prices, duplication-
    weighted doc stats). Percentile p = the SMALLEST value whose
    cumulative weight reaches ⌈p · total⌉ (the inverse-CDF / type-1
    definition — an actual data value, no interpolation, weighted twin
    of :func:`equidepth_histogram`'s boundary rule).

    Weights quantize to integer micro-units at the scan, so cumulative
    weights are exact bigints and the threshold comparison
    ``cum ≥ ceil(p·total)`` is pure integer arithmetic (p itself is
    scaled by 10⁶; ceil via the positive-operand (a+b−1) div b
    identity that Spark's truncating `div` and DuckDB's flooring `//`
    both satisfy). The threshold splits ``tw`` as q·10⁶ + r before
    multiplying by p_micro — ``q·p_micro ≤ tw`` and ``r·p_micro <
    10¹²``, so no intermediate can overflow bigint for ANY
    representable total weight (a naive ``tw·p_micro`` overflows past
    ~10⁷ raw weight units). Zero/negative-weight rows are excluded up
    front (they have no mass; negative mass makes the CDF
    non-monotone), and NULL values are excluded (no axis position —
    and Spark/DuckDB disagree on NULL placement in the running-sum
    window).

    Returns one row per group: (keys…, total_weight, p50, …) with one
    column per requested percentile.

    Scale shape: the corpus reduces to one row per DISTINCT (group,
    value) in the first keyed aggregate; the running weight sum and
    the threshold pick run over that sketch-sized table (the
    ks_two_sample / equidepth rationale). Nothing sorts raw data.
    """
    from pyspark.sql import Window as _W

    v = F.col(value) if isinstance(value, str) else value
    wcol = F.col(weight) if isinstance(weight, str) else weight
    wq = F.round(wcol.cast("double") * 1e6, 0).cast("long")
    cells = (
        df.select(*keys, v.alias("v"), wq.alias("wq"))
        .filter(F.col("wq") > 0)
        .filter(F.col("v").isNotNull())
        .groupBy(*keys, "v")
        .agg(F.sum("wq").alias("w"))
    )
    tot = cells.groupBy(*keys).agg(F.sum("w").cast("long").alias("tw"))
    run = _W.partitionBy(*keys).orderBy("v")
    cum = cells.withColumn("cum", F.sum("w").over(run).cast("long")).join(
        size_gated_broadcast(tot), list(keys)
    )
    out = tot.select(
        *keys, F.round(F.col("tw") / 1e6, 6).alias("total_weight")
    )
    for p in percentiles:
        p_micro = int(round(float(p) * 1e6))
        # overflow-safe ceil(tw * p_micro / 1e6): split tw = q*1e6 + r
        thr = F.expr(
            f"(tw div 1000000) * {p_micro}"
            f" + ((tw % 1000000) * {p_micro} + 999999) div 1000000"
        )
        pick = (
            cum.filter(F.col("cum") >= thr)
            .groupBy(*keys)
            .agg(F.min("v").alias(f"p{int(round(p * 100))}"))
        )
        out = out.join(pick, list(keys), "left")
    return out


def sprt_llr_constants(
    p0: float, p1: float
) -> tuple[float, float]:
    """Per-observation log-likelihood-ratio increments for a Bernoulli
    SPRT — (success, failure) = (ln(p1/p0), ln((1−p1)/(1−p0))) —
    exposed as ONE definition so the Spark plan and the SQL oracle
    embed the SAME doubles (the poisson1_cdf_thresholds pattern)."""
    return (
        math.log(p1 / p0),
        math.log((1.0 - p1) / (1.0 - p0)),
    )


def sprt_daily_walk(
    df: DataFrame,
    arm: Column,
    converted: Column,
    day: Column,
    p0: float = 0.25,
    p1: float = 0.40,
    alpha: float = 0.05,
    beta: float = 0.05,
    period_name: str = "period",
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over daily cohorts —
    the always-valid early-stopping A/B primitive (Wald 1945; the
    design behind modern "peeking-safe" experiment monitors): per arm,
    the cumulative Bernoulli log-likelihood ratio
    ``LLR = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0))`` is walked day by
    day and compared against the decision boundaries ln((1−β)/α)
    (accept H1) and ln(β/(1−α)) (accept H0).

    Scale contract: the textbook per-OBSERVATION walk is a corpus-
    sized serial scan; this is the aggregate-equivalent DAILY walk —
    observations reduce to per-(arm, day) (n, s) counts first (one
    corpus-sized keyed hash aggregate), and the running LLR is exact
    integer micro-unit arithmetic over the time-range-sized daily
    table (the ks/stl sketch-size rule). The LLR after any day is
    IDENTICAL to the per-observation walk's value at that day's end
    (the increments are order-free sums); only the decision GRAIN is
    daily — crossings inside a day surface at its close.

    Returns per (arm, cohort): (arm, <period_name>, n_cum, s_cum,
    llr, decision) with decision ∈ 'accept_h1' | 'accept_h0' |
    'continue' — the decision at each cohort's close; a monitor stops
    at the first non-continue row per arm. ``period_name`` names the
    cohort column after the caller's actual grain (an hourly cohort
    labeled 'day' misleads every downstream consumer).
    """
    from pyspark.sql import Window as _W

    c1, c0 = sprt_llr_constants(p0, p1)
    c1_micro = int(round(c1 * 1e6))
    c0_micro = int(round(c0 * 1e6))
    upper = math.log((1.0 - beta) / alpha)
    lower = math.log(beta / (1.0 - alpha))
    up_micro = int(round(upper * 1e6))
    lo_micro = int(round(lower * 1e6))
    daily = df.select(
        arm.alias("arm"), day.alias("__p"), converted.cast("int").alias("cv")
    ).groupBy("arm", "__p").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("cv").cast("long").alias("s_d"),
    )
    w = _W.partitionBy("arm").orderBy("__p").rowsBetween(
        _W.unboundedPreceding, 0
    )
    cum = daily.select(
        "arm",
        "__p",
        F.sum("n_d").over(w).cast("long").alias("n_cum"),
        F.sum("s_d").over(w).cast("long").alias("s_cum"),
    )
    llr_micro = (
        F.col("s_cum") * F.lit(c1_micro)
        + (F.col("n_cum") - F.col("s_cum")) * F.lit(c0_micro)
    )
    return cum.select(
        "arm",
        F.col("__p").alias(period_name),
        "n_cum",
        "s_cum",
        F.round(llr_micro / 1e6, 6).alias("llr"),
        F.when(llr_micro >= up_micro, F.lit("accept_h1"))
        .when(llr_micro <= lo_micro, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("arm", period_name)


def cuped_adjust(
    df: DataFrame,
    arm_col: str,
    x_int: Column,
    y_scaled: Column,
    y_scale: int = 1_000_000,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    — the industry-standard A/B sensitivity boost: adjust each arm's
    metric with a PRE-experiment covariate X,
        Y_adj = Y − θ·(X − x̄),   θ = cov(X, Y) / var(X)
    (θ and x̄ pooled over all arms, so the adjustment is unbiased
    under randomization), shrinking metric variance by the factor
    ρ² = cov²/(var X · var Y) without moving the true treatment
    effect. Complements :func:`welch_ttest` (fixed-horizon) and
    :func:`sprt_daily_walk` (sequential) as the third leg of the
    experimentation surface.

    Returns one row per arm: (arm, n, mean_y, mean_y_adj, theta,
    rho2), means AND theta in value units (``y_scale`` rescales; θ =
    Δy per unit X), all rounded 6 dp. theta/rho2 repeat per row
    (pooled). Degenerate var(X) = 0 yields NULL theta/rho2 and
    mean_y_adj = mean_y.

    Cross-engine determinism: the single aggregate pass reduces
    EXACT INTEGERS — x integral, y pre-quantized, all second-order
    sums in DECIMAL(38,0) (micro² overflows int64) — so partition
    reduce order cannot perturb them; the closed form is one fixed
    double expression tree (the :func:`ols_group` rule).

    Scale shape: one corpus hash-aggregate to per-arm sufficient
    statistics, then a 2-row window for the pooled terms. Map-side
    combinable; nothing downstream of the first reduction scales
    with rows.
    """
    x = x_int.cast("long")
    y = y_scaled.cast("long")
    dx = x.cast("decimal(38,0)")
    dy = y.cast("decimal(38,0)")
    per_arm = df.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("sx"),
        F.sum(y).cast("decimal(38,0)").alias("sy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dy * dy).alias("syy"),
    )
    # pooled sums get distinct names — Spark's default case-INSENSITIVE
    # resolution would let "N" silently replace "n"
    w = Window.partitionBy(F.lit(1))
    pooled = (
        per_arm.withColumn("gn", F.sum("n").over(w))
        .withColumn("gsx", F.sum("sx").over(w))
        .withColumn("gsy", F.sum("sy").over(w))
        .withColumn("gsxx", F.sum("sxx").over(w))
        .withColumn("gsxy", F.sum("sxy").over(w))
        .withColumn("gsyy", F.sum("syy").over(w))
    )
    d = lambda c: F.col(c).cast("double")
    cov_n = d("gn") * d("gsxy") - d("gsx") * d("gsy")     # N²·cov
    varx_n = d("gn") * d("gsxx") - d("gsx") * d("gsx")    # N²·var X
    vary_n = d("gn") * d("gsyy") - d("gsy") * d("gsy")    # N²·var Y
    theta = F.when(varx_n != 0, cov_n / varx_n)
    xbar = d("gsx") / d("gn")
    scale = F.lit(float(y_scale))
    mean_y = d("sy") / d("n") / scale
    mean_y_adj = F.when(
        varx_n != 0,
        (d("sy") / d("n") - theta * (d("sx") / d("n") - xbar)) / scale,
    ).otherwise(mean_y)
    rho2 = F.when(
        (varx_n != 0) & (vary_n != 0), cov_n * cov_n / (varx_n * vary_n)
    )
    return pooled.select(
        "arm",
        "n",
        F.round(mean_y, 6).alias("mean_y"),
        F.round(mean_y_adj, 6).alias("mean_y_adj"),
        F.round(theta / scale, 6).alias("theta"),
        F.round(rho2, 6).alias("rho2"),
    ).orderBy("arm")


def gini_group(
    df: DataFrame,
    keys: Sequence[str],
    value_int: Column,
    tiebreak: Column,
) -> DataFrame:
    """Per-group Gini coefficient — the inequality/concentration
    measure (revenue concentration per market, token-budget share per
    domain) on EXACT integers, by the rank identity over the group's
    ascending-sorted values x₁ ≤ … ≤ xₙ:
        G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)
    Complements the HHI-style mixture-concentration audit: HHI reads
    share dispersion from squared shares; Gini reads the full Lorenz
    ordering. 0 = perfectly equal, → 1 = one member holds everything.

    ``value_int`` must be pre-quantized (micro-units); ``tiebreak``
    makes the rank deterministic on equal values — the identity's
    value is tie-ORDER-invariant (equal x swap i's without changing
    Σ i·xᵢ's contribution), so any total order gives the same G, but
    a deterministic one keeps plans replayable. Σ i·xᵢ accumulates in
    DECIMAL(38,0) (rank × micro overflows int64). Negative totals
    (Σx ≤ 0) yield NULL.

    Scale shape: one group-partitioned rank window (group-sized, the
    per-group sort every Lorenz computation needs) + one hash
    aggregate. At 100 TB, groups are market-sized, not corpus-sized.
    """
    kcols = [F.col(c) for c in keys]
    v = value_int.cast("long")
    w = Window.partitionBy(*kcols).orderBy(v, tiebreak)
    ranked = df.select(
        *kcols, v.alias("__v"), F.row_number().over(w).alias("__i")
    )
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").cast("decimal(38,0)").alias("s"),
        F.sum(
            F.col("__i").cast("decimal(38,0)") * F.col("__v").cast("decimal(38,0)")
        ).alias("si"),
    )
    d = lambda c: F.col(c).cast("double")
    gini = F.when(
        d("s") > 0,
        (2.0 * d("si") - (d("n") + 1.0) * d("s")) / (d("n") * d("s")),
    )
    return agg.select(
        *keys,
        F.col("n").alias("n_members"),
        F.round(gini, 6).alias("gini"),
    ).orderBy(*keys)


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_int: Column,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the NONPARAMETRIC
    two-sample location test, completing the A/B surface next to
    :func:`welch_ttest` (parametric means), :func:`ks_two_sample`
    (full-distribution) and :func:`sprt_daily_walk` (sequential):
    robust to outliers and any monotone transform of the metric.

    Exact tie handling by MIDRANKS on the distinct-value cell table:
    for value v with cum_before smaller values and t_v total
    occurrences, midrank(v) = cum_before + (t_v + 1)/2. To keep every
    reduction integral, DOUBLED ranks are used internally
    (2·midrank = 2·cum_before + t_v + 1 — always an integer).
      U_a = R_a − n_a(n_a+1)/2,   U_a + U_b = n_a·n_b
    z uses the tie-corrected variance
      σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))
    computed from exact integer sums in one double expression tree.

    Scale shape: the corpus reduces to per-(value) cells first (the
    KS/equidepth sketch-size rule); ranks come from ONE ordered
    window over that cell table. Returns one row:
    (n_a, n_b, u_a, u_b, z) with U exact halves and z rounded 6 dp.
    """
    v = value_int.cast("long")
    base = df.select(
        F.when(F.col(group_col) == group_a, F.lit("a"))
        .when(F.col(group_col) == group_b, F.lit("b"))
        .alias("g"),
        v.alias("v"),
    ).filter(F.col("g").isNotNull())
    cells = base.groupBy("v").agg(
        F.sum((F.col("g") == "a").cast("long")).alias("ta"),
        F.sum((F.col("g") == "b").cast("long")).alias("tb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t = F.col("ta") + F.col("tb")
    ranked = cells.withColumn(
        "cum_before", F.coalesce(F.sum(F.col("ta") + F.col("tb")).over(w), F.lit(0))
    ).withColumn("r2", 2 * F.col("cum_before") + t + 1)  # doubled midrank
    stats = ranked.agg(
        F.sum("ta").cast("long").alias("na"),
        F.sum("tb").cast("long").alias("nb"),
        F.sum(F.col("ta") * F.col("r2")).cast("long").alias("ra2"),
        F.sum(
            (t * t * t - t).cast("decimal(38,0)")
        ).alias("tie_sum"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    n = na + nb
    ua = F.col("ra2") / 2.0 - na * (na + 1.0) / 2.0
    ub = na * nb - ua
    var = (na * nb / 12.0) * (
        (n + 1.0) - F.col("tie_sum").cast("double") / (n * (n - 1.0))
    )
    z = F.when(var > 0, F.round((ua - na * nb / 2.0) / F.sqrt(var), 6))
    return stats.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(ua, 1).alias("u_a"),
        F.round(ub, 1).alias("u_b"),
        z.alias("z"),
    )


def spearman_corr(
    df: DataFrame,
    x_int: Column,
    y_int: Column,
) -> DataFrame:
    """Spearman rank correlation — Pearson over MIDRANKS, the
    monotone-association measure robust to outliers and any monotone
    transform (the rank-based leg next to :func:`corr_group`'s
    Pearson and :func:`mann_whitney_u`'s rank-sum test).

    Exact tie handling via the :func:`mann_whitney_u` doubled-midrank
    device on each variable's distinct-value cell table
    (2·midrank = 2·cum_before + t + 1, always an integer); each row
    then joins its x- and y-doubled-ranks (broadcast cell tables) and
    one aggregate pass collects Pearson's sufficient statistics in
    DECIMAL(38,0) (doubled ranks reach 2n, squares 4n², sums 4n³ —
    past int64 at ~10⁶ rows). The constant factors of 2 cancel in the
    correlation, so rho over doubled ranks IS Spearman's rho.

    Returns one row: (n, rho) with rho rounded 6 dp; NULL when either
    variable has zero rank variance.

    Scale shape: two distinct-value cell aggregates + their windows
    (sketch-sized), two broadcast joins back to the corpus, one
    map-side-combinable stats pass — nothing after the first
    reduction scales with rows except the rank-attach joins. For a
    HIGH-CARDINALITY continuous metric, quantize to a fixed grid
    first (the equidepth/KS sketch-size rationale) so the cell tables
    stay broadcastable; rho on the quantized grid is the documented
    estimator, not an approximation of something else.
    """
    base = df.select(x_int.cast("long").alias("x"), y_int.cast("long").alias("y"))

    def rank_table(col: str):
        cells = base.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("t"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return cells.withColumn(
            "cb", F.coalesce(F.sum("t").over(w), F.lit(0))
        ).select(
            F.col(col),
            (2 * F.col("cb") + F.col("t") + 1).alias(f"r_{col}"),
        )

    ranked = base.join(F.broadcast(rank_table("x")), "x").join(
        F.broadcast(rank_table("y")), "y"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_x").cast("decimal(38,0)").alias("sx"),
        F.sum("r_y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("r_x") * dec("r_x")).alias("sxx"),
        F.sum(dec("r_x") * dec("r_y")).alias("sxy"),
        F.sum(dec("r_y") * dec("r_y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")
    cov_n = d("n") * d("sxy") - d("sx") * d("sy")
    varx_n = d("n") * d("sxx") - d("sx") * d("sx")
    vary_n = d("n") * d("syy") - d("sy") * d("sy")
    rho = F.when(
        (varx_n > 0) & (vary_n > 0),
        F.round(cov_n / F.sqrt(varx_n * vary_n), 6),
    )
    return stats.select(F.col("n"), rho.alias("rho"))


def chi2_goodness_of_fit(
    df: DataFrame,
    category_col: str,
    expected_shares: Mapping | None = None,
) -> DataFrame:
    """Chi-square goodness-of-fit of observed category counts against
    expected shares — the SRM (sample-ratio-mismatch) guardrail every
    experimentation platform runs before trusting an A/B readout
    (uniform default = equal split), and the generic dice-fairness /
    distribution-drift check next to :func:`ks_two_sample`
    (two-sample) and the crosstab chi2 (independence).

    ``expected_shares`` maps category → share (shares needn't sum to
    1 — they're normalized). chi2 = Σ (o_c − e_c)²/e_c with
    e_c = N·share_c; per-category contributions quantize to
    micro-units before the final sum so the reduction is exact.
    Returns one row per category (category, observed, expected,
    contrib) plus the repeated totals (chi2, dof) — compare chi2 to
    the χ²(dof) critical value.

    Cell alignment is a FULL OUTER join (round-8 ADVICE): a designed
    category with zero observed rows participates as observed = 0
    (an arm that received no traffic is exactly when SRM must fire),
    and an observed category missing from ``expected_shares`` — an
    unexpected third bucket — has no defined expectation, so its row
    surfaces with NULL expected/contrib and the totals (chi2, dof)
    are NULL on every row: a readable "assignment is broken, the
    designed test doesn't apply" signal instead of a silently
    understated statistic. N always counts ALL observed rows,
    including unexpected buckets.

    Scale: one corpus hash-aggregate to |categories| cells; the share
    table is a literal handful of rows (full outer joins can't
    broadcast in Spark, but the shuffle moves |categories| rows).
    """
    cells = df.groupBy(F.col(category_col).alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    if expected_shares:
        total_share = float(sum(expected_shares.values()))
        share_rows = F.array(
            *[
                F.struct(
                    F.lit(str(k)).alias("c"),
                    F.lit(float(v) / total_share).alias("s"),
                )
                for k, v in sorted(expected_shares.items())
            ]
        )
        shares = (
            cells.sparkSession.range(1)
            .select(F.explode(share_rows).alias("e"))
            .select(F.col("e.c").alias("category"), F.col("e.s").alias("share"))
        )
        joined = cells.join(shares, "category", "full").select(
            "category",
            F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias("observed"),
            "share",
        )
    else:
        w = Window.partitionBy(F.lit(1))
        joined = cells.withColumn(
            "share", F.lit(1.0) / F.count(F.lit(1)).over(w)
        )
    w = Window.partitionBy(F.lit(1))
    with_tot = joined.withColumn("__N", F.sum("observed").over(w))
    e = F.col("__N") * F.col("share")
    contrib = (F.col("observed") - e) * (F.col("observed") - e) / e
    per_cat = with_tot.select(
        "category",
        "observed",
        F.col("share").isNull().cast("int").alias("__unknown"),
        F.round(e, 6).alias("expected"),
        F.round(contrib * 1e6, 0).cast("long").alias("__cmicro"),
        F.round(contrib, 6).alias("contrib"),
    )
    bad = F.max("__unknown").over(w) == 1
    out = (
        per_cat.withColumn("__chi2micro", F.sum("__cmicro").over(w))
        .withColumn("__k", F.count(F.lit(1)).over(w))
        .select(
            "category",
            "observed",
            "expected",
            "contrib",
            F.when(~bad, F.round(F.col("__chi2micro") / 1e6, 6)).alias("chi2"),
            F.when(~bad, F.col("__k") - 1).cast("int").alias("dof"),
        )
        .orderBy("category")
    )
    return out


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    y_scaled: Column,
    treat_value,
    post_value,
    y_scale: int = 1_000_000,
    control_value=None,
    pre_value=None,
) -> DataFrame:
    """Difference-in-differences — the quasi-experimental effect
    estimator when randomization isn't available (Card & Krueger
    1994's design): with treatment/control groups each observed
    pre/post,
      DID = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    removes both the group-level baseline difference and the shared
    time trend (parallel-trends assumption — state it, don't hide
    it). Completes the experimentation surface's causal family:
    welch/CUPED (randomized), SPRT (sequential), SRM (validity),
    DID (observational).

    One exact-integer sufficient-stats pass to the 4 (group, period)
    cells; means and the DID are one fixed double expression tree.
    Returns the 4 cell rows (group, period, n, mean_y) with the
    repeated (did, treat_delta, ctrl_delta) columns, all value-units
    rounded 6 dp. Any empty cell yields NULL did.

    Cell bucketing (round-8 ADVICE): when ``control_value`` /
    ``pre_value`` are given, ONLY rows whose group/period column
    equals one of the two declared values enter the corresponding
    cells — other values (including NULL) are dropped, so a
    multi-valued group or period column can't silently contaminate
    the control/pre cells. When they are None (the two-valued-column
    default), every non-treat group value — including NULL — buckets
    into 'ctrl' and every non-post period into 'pre'; that catch-all
    is only sound when the columns are genuinely two-valued.

    Scale: shuffle = 4 cells; map-side combinable; nothing downstream
    scales with rows.
    """
    y = y_scaled.cast("long")
    src = df
    if control_value is not None:
        src = src.filter(F.col(group_col).isin(treat_value, control_value))
    if pre_value is not None:
        src = src.filter(F.col(period_col).isin(post_value, pre_value))
    cells = src.select(
        F.when(F.col(group_col) == treat_value, F.lit("treat"))
        .otherwise(F.lit("ctrl"))
        .alias("grp"),
        F.when(F.col(period_col) == post_value, F.lit("post"))
        .otherwise(F.lit("pre"))
        .alias("period"),
        y.alias("y"),
    ).groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
    )
    scale = F.lit(float(y_scale))
    mean = F.col("sy").cast("double") / F.col("n") / scale
    w = Window.partitionBy(F.lit(1))

    def cell_mean(g: str, p: str):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p), mean
            )
        ).over(w)

    tp, tr = cell_mean("treat", "post"), cell_mean("treat", "pre")
    cp, cr = cell_mean("ctrl", "post"), cell_mean("ctrl", "pre")
    return (
        cells.withColumn("__td", tp - tr)
        .withColumn("__cd", cp - cr)
        .select(
            F.col("grp").alias("grp"),
            F.col("period").alias("period"),
            "n",
            F.round(mean, 6).alias("mean_y"),
            F.round(F.col("__td"), 6).alias("treat_delta"),
            F.round(F.col("__cd"), 6).alias("ctrl_delta"),
            F.round(F.col("__td") - F.col("__cd"), 6).alias("did"),
        )
        .orderBy("grp", "period")
    )

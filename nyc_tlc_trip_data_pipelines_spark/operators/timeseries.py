"""Time-series operators: sessionization, as-of join, time-spine gap-fill.

The reference treats time as an ordinary ``TimestampType`` column
(``pasta1_etl/src/main.py:73-74``) and its only temporal ops are range
filters (``pasta1_etl/src/main.py:180-186``) and calendar extraction
(``pasta2_analytics/src/main.py:39-42``). These operators extend that
surface with the time-series shapes an events/log pipeline needs, each
expressed as pure DataFrame ops so Catalyst plans them.

Scale notes (100 TB):
- ``sessionize`` costs exactly ONE hash exchange on the entity key plus a
  per-partition sort; both window passes (lag flag, running sum) share the
  same (partition, order) spec so Spark computes them in one Window node.
  Skewed entities (one user with millions of events) serialize within one
  task — pre-split such keys by a coarse time bucket if needed.
- ``asof_join`` uses the union-merge formulation: tag both sides, union,
  ONE window pass per entity ordered by time, then filter back to probe
  rows. This is O(n log n) with a single shuffle on the entity key —
  unlike the naive range-join (O(n·m) BroadcastNestedLoop) it never
  explodes. This is the standard big-data as-of pattern (same shape
  Flink/kdb use for temporal joins).
- ``time_spine`` generates the spine with ``sequence()`` + ``explode`` —
  a few thousand rows per range — and broadcast-joins it against the
  aggregated facts, so gap-filling adds no extra shuffle of the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .joins import size_gated_broadcast


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_cols: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids per entity (batch sessionization).

    A new session starts when the time since the previous event of the
    same entity exceeds ``gap_seconds`` (or there is no previous event).
    ``session_col`` is a per-entity 1-based running count, so
    (entity, session_id) identifies a session.
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(entity_col).orderBy(*order)
    epoch = F.col(ts_col).cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("_new_session", new_session).withColumn(
        session_col, F.sum("_new_session").over(w)
    ).drop("_new_session")


def session_stats(
    sessions: DataFrame,
    entity_col: str,
    ts_col: str,
    session_col: str = "session_id",
) -> DataFrame:
    """Collapse sessionized events to one row per session."""
    return sessions.groupBy(entity_col, session_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(ts_col).cast("long") - F.min(ts_col).cast("long")).alias("duration_s"),
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    entity_col: str,
    probe_ts: str,
    build_ts: str,
    build_value_alias: str = "asof_ts",
) -> DataFrame:
    """As-of (latest-prior) join via the union-merge window formulation.

    For each probe row, attaches the greatest ``build_ts`` of the same
    entity with ``build_ts <= probe_ts`` (inclusive), or NULL when no
    prior build row exists. Equivalent to DuckDB/kdb ``ASOF LEFT JOIN``.

    One shuffle on ``entity_col``; no nested-loop join. Build rows sort
    before probe rows at equal timestamps (inclusive semantics).
    """
    b = build.select(
        F.col(entity_col),
        F.col(build_ts).alias("_t"),
        F.col(build_ts).alias("_b_ts"),
        F.lit(0).alias("_side"),
    )
    p = probe.withColumn("_t", F.col(probe_ts)).withColumn(
        "_b_ts", F.lit(None).cast(build.schema[build_ts].dataType)
    ).withColumn("_side", F.lit(1))
    merged = p.unionByName(b, allowMissingColumns=True)
    w = (
        Window.partitionBy(entity_col)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = merged.withColumn(build_value_alias, F.last("_b_ts", ignorenulls=True).over(w))
    return out.filter(F.col("_side") == 1).drop("_t", "_b_ts", "_side")


def time_spine(
    spark,
    start: str,
    end: str,
    step: str = "1 hour",
    alias: str = "bucket_ts",
) -> DataFrame:
    """Dense timestamp spine [start, end] inclusive at a fixed step."""
    return spark.sql(
        f"SELECT explode(sequence(timestamp'{start}', timestamp'{end}', "
        f"interval {step})) AS {alias}"
    )


def gapfill(
    spine: DataFrame,
    facts: DataFrame,
    bucket_col: str,
    fill_zero_cols: Sequence[str],
) -> DataFrame:
    """Left-join aggregated facts onto a dense spine, zero-filling gaps.

    ``facts`` must already be aggregated to one row per bucket, so both
    sides are spine-sized (one row per time bucket) — hint the facts
    side for a shuffle-free join when Catalyst can prove it small
    (size-gated: a decade-long 1-second spine is bucket-grain-sized,
    not model-sized; AQE decides from real sizes above the gate).
    """
    out = spine.join(size_gated_broadcast(facts), on=bucket_col, how="left")
    for c in fill_zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


def time_weighted_avg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average per entity (the hypertable/metrics staple
    for irregularly sampled series): each observation is weighted by the
    interval until the NEXT observation (last-observation-carried-
    forward), so sparse readings don't get equal vote with dense ones.

    Returns (key, n_intervals, total_seconds, twa). The last observation
    per key has no interval and contributes no weight; single-observation
    keys drop out.

    Scale shape: one shuffle on the entity key + a per-partition sort
    shared by the single lead() window, then a hash aggregate. Interval
    arithmetic is in exact integer MICROSECONDS (unix_micros) — float
    epoch subtraction would make the weights engine-dependent.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    dt = F.lead(us).over(w) - us
    intervals = df.select(
        F.col(key_col), F.col(val_col).alias("__v"), dt.alias("__dt")
    ).filter(F.col("__dt").isNotNull())
    return intervals.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_intervals"),
        F.round(F.sum("__dt") / F.lit(1_000_000.0), 6).alias("total_seconds"),
        F.round(F.sum(F.col("__v") * F.col("__dt")) / F.sum("__dt"), 4).alias("twa"),
    )


def ohlc(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """OHLC (open/high/low/close) bars per entity and time bucket — the
    downsampling shape for any metered series (finance candles, sensor
    rollups, rate counters).

    Open/close are selected by MIN/MAX over a (ts, tiebreak, value)
    struct — lexicographic struct ordering makes "value at the earliest
    (ts, tiebreak)" a plain aggregate, deterministic under timestamp
    ties, with full map-side partial aggregation. No window, no second
    scan: the whole bar is ONE aggregate + ONE exchange per (entity,
    bucket). Struct-valued buffers make Spark plan it as SortAggregate
    rather than hash (plan-fenced in tests/test_plans.py) — the
    partial/final pair and single shuffle are unchanged; the extra
    per-partition sort is the price of tie-deterministic open/close.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    first = F.min(F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(val_col).alias("v")))
    last = F.max(F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(val_col).alias("v")))
    return df.groupBy(F.col(key_col), b).agg(
        first.getField("v").alias("open"),
        F.max(val_col).alias("high"),
        F.min(val_col).alias("low"),
        last.getField("v").alias("close"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.round(F.sum(val_col), 6).alias("sum_value"),
    )


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "week",
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention matrix: users grouped by the ``grain`` bucket
    ('day'/'week') of their FIRST event; for each (cohort, offset
    in grain units) the number of distinct users still active — the
    standard growth-analytics rollup.

    Scale shape: one aggregate to find first-touch per user (map-side
    combined), joined back to the events (the user side is small —
    one row per user — so AQE broadcasts it under real fact/dim
    ratios), then one distinct-count per (cohort, offset). No windows,
    no self-join of the fact table.
    """
    step_days = {"day": 1, "week": 7}[grain]
    first = df.groupBy(key_col).agg(F.min(ts_col).alias("__first_ts"))
    cohort = F.date_trunc(grain, F.col("__first_ts"))
    joined = df.join(first, key_col).select(
        F.col(key_col),
        cohort.alias("cohort_bucket"),
        F.floor(
            F.datediff(F.date_trunc(grain, F.col(ts_col)), cohort) / step_days
        ).cast("int").alias("bucket_offset"),
    )
    if max_offset is not None:
        joined = joined.filter(F.col("bucket_offset") <= max_offset)
    return joined.groupBy("cohort_bucket", "bucket_offset").agg(
        F.count_distinct(F.col(key_col)).alias("n_users")
    )


def mad_anomalies(
    df: DataFrame,
    key_col: str = "user_id",
    val_col: str = "value",
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Robust per-entity anomaly counts via the MAD rule: a value is
    anomalous when ``|v − median| > n_sigmas · 1.4826 · MAD`` (1.4826
    scales the median absolute deviation to a normal-equivalent σ).
    Medians are exact interpolated percentiles, so the verdicts are
    deterministic — no sampling, no sketch.

    Scale shape: two grouped exact-median aggregates (Spark's
    ``median`` = ``percentile(0.5)``) and one verdict aggregate, all
    shuffling only on the entity key. Exact medians buffer each group's
    values — for groups beyond memory switch to
    ``approx_percentile(…, 0.5, accuracy)`` at the cost of oracle
    exactness.
    """
    med = df.groupBy(key_col).agg(F.median(val_col).alias("__med"))
    dev = df.join(med, key_col).withColumn(
        "__adev", F.abs(F.col(val_col) - F.col("__med"))
    )
    mad = dev.groupBy(key_col).agg(F.median("__adev").alias("__mad"))
    flagged = dev.join(mad, key_col).withColumn(
        "__anom",
        (F.col("__adev") > F.lit(n_sigmas) * F.lit(1.4826) * F.col("__mad")).cast("int"),
    )
    return flagged.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.sum("__anom").cast("int").alias("n_anomalies"),
        F.round(F.max("__med"), 6).alias("median_value"),
        F.round(F.max("__mad"), 6).alias("mad"),
    )


def ewma(
    value_col: str,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    alpha: float = 0.5,
    window: int = 10,
) -> Column:
    """Bounded-window EWMA (exponentially weighted moving average):
    the FIR truncation ``Σ_{j<window} (1−α)^j·x_{t−j} / Σ_j (1−α)^j``
    — the smoothing step of monitoring/forecast features. The infinite
    recursive form needs a sequential per-key scan (``applyInPandas``);
    the truncated form is a fixed LAG chain, stays entirely in
    whole-stage codegen, and shares ONE window exchange with any other
    same-spec window — the right trade at 100 TB where the tail weight
    ``(1−α)^window`` is already below float noise for usual α.

    With α = 0.5 every weight and the normalizer are exact powers of
    two, so the arithmetic is bit-reproducible across engines (the SQL
    twin evaluates the identical left-associated chain).

    Returns a Column; rows whose lookback window is incomplete (fewer
    than ``window`` prior rows) yield NULL — callers filter on
    ``row_number() >= window`` over the same spec.
    """
    from pyspark.sql import Window as _W

    w = _W.partitionBy(*partition_cols).orderBy(*order_cols)
    decay = 1.0 - alpha
    expr = F.col(value_col).cast("double")
    weight = 1.0
    norm = 1.0
    for j in range(1, window):
        weight = weight * decay
        norm = norm + weight
        expr = expr + F.lit(weight) * F.lag(F.col(value_col).cast("double"), j).over(w)
    return expr / F.lit(norm)


def markov_transitions(
    df: DataFrame,
    state_col: str,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """First-order Markov transition matrix over an event stream: for
    every observed (prev_state → state) pair, the count and the
    row-conditional probability P(state | prev_state). The behavioural
    state-machine profile behind session analysis, anomaly detection
    ("error→error loops"), and synthetic-sequence generation.

    Extends the reference's calendar-only temporal surface
    (``pasta2_analytics/src/main.py:39-42``) with sequence analytics.

    Plan shape: ONE window exchange on the entity key (the lag), then a
    hash aggregate on (prev, curr) whose cardinality is |states|² —
    tiny regardless of corpus size — and a broadcast-sized join to the
    per-prev totals. At 100 TB the only data-sized cost is the lag
    exchange, which any per-entity sequence op needs; everything after
    operates on the |states|²-row matrix.

    First event of each entity has no predecessor and is excluded
    (matches the SQL twin's ``WHERE prev IS NOT NULL``).
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    pairs = (
        df.select(F.lag(state_col).over(w).alias("prev_state"), F.col(state_col).alias("state"))
        .filter(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "state")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = Window.partitionBy("prev_state")
    return pairs.withColumn(
        "p_transition",
        F.round(F.col("n_transitions") / F.sum("n_transitions").over(totals), 6),
    )


def interpolate_linear(
    value_col: str,
    ts_col: str,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
) -> Column:
    """Linear interpolation of NULL gaps in a per-entity time series:
    each missing value becomes the time-weighted blend of the nearest
    non-null neighbours, ``prev + (next−prev)·(t−t_prev)/(t_next−t_prev)``;
    leading/trailing gaps clamp to the single available neighbour. The
    sensor-repair primitive gap-fill pipelines run after `time_spine`
    (which fills missing ROWS; this fills missing VALUES).

    Two window passes over the SAME entity partition — backward
    ``last(ignorenulls)`` and forward ``first(ignorenulls)`` — so the
    whole operator costs one hash exchange + sort on the entity key,
    no join, no state. 100 TB: identical shape to any per-entity
    window; skewed entities are the usual caveat.

    The arithmetic (double ratio of epoch-second deltas) is evaluated
    in the same order as the SQL twin, so results are bit-stable
    cross-engine before the caller's final rounding.
    """
    back = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    t = F.col(ts_col).cast("double")
    prev_v = F.last(v, ignorenulls=True).over(back)
    next_v = F.first(v, ignorenulls=True).over(fwd)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(back)
    next_t = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(fwd)
    frac = (t - prev_t) / (next_t - prev_t)
    return (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(next_t == prev_t, prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )


def longest_streak(
    df: DataFrame,
    entity_col: str,
    day_col: Column,
) -> DataFrame:
    """Longest run of CONSECUTIVE active days per entity — the
    engagement-streak metric, and the canonical islands-and-gaps
    pattern: over the distinct (entity, day) grid, ``day −
    row_number()`` is constant exactly within each island of
    consecutive days, so islands fall out of one window pass + one
    aggregate — no self-join, no iteration.

    Plan: distinct (hash agg) → one window exchange on the entity →
    two nested aggregates, all map-side combinable; shuffle is
    bounded by active (entity, day) pairs, never raw events. Returns
    (entity, n_active_days, longest_streak, n_streaks).
    """
    days = df.select(F.col(entity_col).alias("e"), day_col.cast("long").alias("d")).distinct()
    w = Window.partitionBy("e").orderBy("d")
    islands = days.withColumn("island", F.col("d") - F.row_number().over(w))
    per_island = islands.groupBy("e", "island").agg(F.count(F.lit(1)).alias("len"))
    return (
        per_island.groupBy("e")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .withColumnRenamed("e", entity_col)
    )


def rolling_distinct_count(
    df: DataFrame,
    ts_col: str,
    entity_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct entities per day (e.g. weekly-active
    users per day) — the sliding-distinct metric a naive RANGE window
    cannot express (COUNT(DISTINCT) over a moving frame isn't
    decomposable), computed without ever holding per-day entity sets.

    Shape: dedup to (day, entity) at the day grain first — THE volume
    reducer: everything after it scales with days × active entities,
    not raw events — then broadcast-join the tiny distinct-day spine
    with a ``0 <= datediff < window_days`` trailing predicate and count
    distinct entities per target day. Each (day, entity) row fans out
    to at most ``window_days`` target days.

    100 TB: one exchange for the day-grain dedup, a broadcast nested
    loop against a few-hundred-row day spine (fanout ≤ window_days),
    one final distinct-agg exchange keyed by day — no state, no sort,
    batch-incremental (yesterday's day-grain table is reusable)."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    de = df.select(day.alias("day"), F.col(entity_col).alias("entity")).distinct()
    spine = de.select(F.col("day").alias("target_day")).distinct()
    # UNCONDITIONAL broadcast, deliberately not size-gated (review
    # finding): the spine is calendar-bounded (one row per distinct
    # day — thousands of rows for decades of data), so the hint can
    # never OOM; and because this is a datediff THETA-join with no
    # equi keys, dropping the hint on an unknown-stats input would
    # leave the static planner a CartesianProduct, not an SMJ that
    # AQE can later promote.
    joined = de.join(
        F.broadcast(spine),
        on=(F.datediff(F.col("target_day"), F.col("day")) >= 0)
        & (F.datediff(F.col("target_day"), F.col("day")) < window_days),
    )
    return joined.groupBy("target_day").agg(
        F.countDistinct("entity").alias("active_entities")
    )


def multi_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_days: int = 7,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-decay multi-touch attribution: every conversion splits one
    unit of credit across ALL the user's touches in the lookback
    window, weighted by recency — the position-agnostic complement to
    first-touch attribution (q_attribution), answering "which channels
    assist" rather than "which channel initiates".

    Decay is RECIPROCAL in whole days: w = 1 / (1 + age_days). A
    half-life exponential (0.5^(Δt/h)) is the textbook form, but
    libm pow() differs in the last ulp across engines and the weights
    feed a normalization — the reciprocal form is integer arithmetic
    end to end (age in days by integer division, weight in integer
    micro-units) and keeps the same monotone-decay shape.

    Credit is exact and partition-order-free at every reduction (the
    kmeans/winsorize micro-unit rule): per-touch weight w_micro =
    10⁶ div (1 + age_days) is an integer; the per-conversion
    normalizer is an integer SUM; each touch's share re-quantizes to
    integer micro-units; and the final per-channel credit is an
    integer sum of those — no double is ever summed across rows.

    Returns (event_type, n_touches, n_conversions, credit) where
    credit sums (up to micro-rounding) to the number of attributed
    conversions.

    Scale shape: the touch join is the q_attribution time-bounded
    range join — at 100 TB bucket both sides by (user, day) so each
    conversion probes adjacent buckets only — and it is executed
    ONCE: the per-conversion normalizer is a window sum partitioned
    by conversion id over the joined rows (the markov_transitions
    normalization pattern), not a separate aggregate joined back,
    which would put the join subtree on both sides of the plan. After
    the join: one window exchange keyed by conversion, one hash
    aggregate keyed by channel.
    """
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(id_col).alias("c_id"),
        F.col(user_col).alias("c_user"),
        F.col(ts_col).alias("c_ts"),
    )
    touch = events.select(
        F.col(user_col).alias("t_user"),
        F.col(type_col).alias("t_type"),
        F.col(ts_col).alias("t_ts"),
    )
    j = conv.join(
        touch,
        (F.col("c_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("c_ts"))
        & (
            F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("t_ts"))
            <= F.lit(int(lookback_days) * 86_400_000_000)
        ),
    )
    scored = j.select(
        "c_id",
        "t_type",
        F.expr(
            "1000000 div (1 + (unix_micros(c_ts) - unix_micros(t_ts)) div 86400000000)"
        ).alias("w_micro"),
    )
    w_conv = Window.partitionBy("c_id")
    share = scored.select(
        "c_id",
        "t_type",
        F.round(
            F.col("w_micro")
            * F.lit(1000000.0)
            / F.sum("w_micro").over(w_conv),
            0,
        )
        .cast("long")
        .alias("share_micro"),
    )
    out = share.groupBy(F.col("t_type").alias(type_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.countDistinct("c_id").cast("long").alias("n_conversions"),
        F.round(F.sum("share_micro") / F.lit(1000000.0), 6).alias("credit"),
    )
    return out


def stl_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
    trend_halfwidth: int = 12,
) -> DataFrame:
    """STL-lite seasonal-trend decomposition (the classical additive
    moving-average decomposition underlying Cleveland et al. 1990 STL,
    without the loess robustness loop): hourly series → centered
    moving-average TREND → per-phase mean of the detrended series as
    SEASONAL (period = hours, default 24 = hour-of-day) → RESIDUAL.
    The standard pre-forecasting / anomaly-baseline split for metric
    time series.

    Determinism contract: the hourly level, the trend window mean, and
    the per-phase seasonal mean all reduce EXACT integer micro-units
    (the kmeans/ewma rule — double sums are partition- and frame-
    order-dependent in the last ulp; integer sums are not), each
    rounded to 6 dp at its boundary, so any SQL engine replays every
    stage bit-for-bit. Boundary buckets average a clamped (shorter)
    trend window — the standard MA edge effect, identical in both
    engines because the frame clamps identically.

    Scale shape: one corpus-sized hash aggregate to the hourly grain;
    everything after runs on the POST-AGGREGATE series, whose length
    is the time range in hours (720 for a 30-day fixture, ~9k for a
    year) regardless of corpus size — so the two unpartitioned ordered
    windows here are sketch-sized by construction, the same rationale
    as the KS running sum. Returns (bucket, phase, level, trend,
    seasonal, residual) ordered by bucket.
    """
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    hourly = (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            micro(F.col(value_col).cast("double")).alias("vq"),
        )
        .groupBy("bucket")
        .agg(
            F.round(
                F.sum("vq") / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("level")
        )
    )
    wt = (
        Window.orderBy("bucket").rowsBetween(-trend_halfwidth, trend_halfwidth)
    )
    lq = micro(F.col("level"))
    trended = hourly.select(
        "bucket",
        "level",
        F.round(
            F.sum(lq).over(wt) / F.count(F.lit(1)).over(wt) / F.lit(1000000.0), 6
        ).alias("trend"),
    )
    detr = trended.withColumn(
        "detr", F.round(F.col("level") - F.col("trend"), 6)
    ).withColumn("phase", F.hour("bucket").cast("int") % F.lit(period))
    dq = micro(F.col("detr"))
    seasonal = detr.groupBy("phase").agg(
        F.round(F.sum(dq) / F.count(F.lit(1)) / F.lit(1000000.0), 6).alias("seasonal")
    )
    return (
        detr.join(F.broadcast(seasonal), "phase")
        .select(
            "bucket",
            "phase",
            "level",
            "trend",
            "seasonal",
            F.round(F.col("detr") - F.col("seasonal"), 6).alias("residual"),
        )
        .orderBy("bucket")
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (ŷ(t) = y(t − period) — the baseline every forecasting system must
    beat, cf. Hyndman & Athanasopoulos, "Forecasting: Principles and
    Practice"; M-competition convention): forecast each hourly bucket
    from its value one period earlier, then score per DAY with sMAPE
    (symmetric, bounded, zero-safe denominator) and mean bias.

    Per-bucket sMAPE terms 2|ŷ−y|/(|ŷ|+|y|) are rounded to 6 dp, then
    the per-day mean reduces exact integer micro-units (the stl/ewma
    contract); bias = mean(ŷ−y) the same way, with the residual
    quantized straight to integer micro-units in one step. The daily
    MEANS themselves are integer half-away-from-zero division —
    ``sign(S)·((2|S| + n) div 2n)`` micro-units — not a float
    ``ROUND(S/n/1e6, 6)`` (round 14: when S/n lands on an exact half
    micro-unit, Spark's HALF_UP and DuckDB's banker's rounding split
    to opposite sides — a one-micro-unit bias tie observed at
    sf0.001; integer division is tie-free and engine-exact by
    construction). Buckets without a period-old predecessor are
    excluded (the first day). Returns (day, n_hours, smape, bias)
    ordered by day — the backtest table a forecast monitor alerts on.

    Scale shape: identical to :func:`stl_decompose` — one corpus-sized
    hash aggregate to the hourly grain, then a LAG window and a daily
    group-by over the time-range-sized series.
    """
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    hourly = (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            micro(F.col(value_col).cast("double")).alias("vq"),
        )
        .groupBy("bucket")
        .agg(
            F.round(
                F.sum("vq") / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("y")
        )
    )
    w = Window.orderBy("bucket")
    scored = (
        hourly.withColumn("f", F.lag("y", period).over(w))
        .filter(F.col("f").isNotNull())
        .withColumn("err_q", micro(F.col("f") - F.col("y")))
        .withColumn(
            "smape_t",
            F.round(
                F.when(
                    (F.abs(F.col("f")) + F.abs(F.col("y"))) != 0,
                    F.lit(2.0) * F.abs(F.col("f") - F.col("y"))
                    / (F.abs(F.col("f")) + F.abs(F.col("y"))),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    # integer half-away-from-zero mean in micro-units: exact in every
    # engine, no float .5 ties (sMAPE sums are non-negative; bias needs
    # the sign branch)
    half_up = "(2 * {s} + n_hours) DIV (2 * cast(n_hours as bigint))"
    return (
        scored.groupBy(F.to_date("bucket").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_hours"),
            F.sum(micro(F.col("smape_t"))).alias("sq"),
            F.sum("err_q").alias("eq"),
        )
        .select(
            "day",
            "n_hours",
            (F.expr(half_up.format(s="sq")) / F.lit(1000000.0)).alias("smape"),
            (
                F.when(F.col("eq") >= 0, F.expr(half_up.format(s="eq")))
                .otherwise(-F.expr(half_up.format(s="(-eq)")))
                / F.lit(1000000.0)
            ).alias("bias"),
        )
        .orderBy("day")
    )


def event_pattern_match(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    mapping: dict[str, str],
    pattern: str,
) -> DataFrame:
    """Row-pattern matching over per-entity event sequences — the
    SQL:2016 MATCH_RECOGNIZE / Flink-CEP capability (Spark has no
    native MATCH_RECOGNIZE) expressed as encode-then-regex: each
    entity's events are ordered by (ts, id), each event type maps to
    one character (``mapping``), the per-entity string is matched
    against ``pattern`` (a regex over those characters — e.g.
    ``s[cv]*p`` = "signup, then any clicks/views, then purchase").

    Returns one row per entity with at least one match:
    (user, seq_len, n_matches, first_match) — non-overlapping
    leftmost matches, the shared Java/RE2 semantics for
    alternation-free greedy patterns, so the SQL twin counts the same
    matches.

    Determinism: the sequence is ``array_sort`` over (ts, id, char)
    structs — the id tie-break pins the order of same-timestamp events
    in both engines.

    Scale shape: one user-keyed shuffle (the same exchange
    sessionization pays), then per-user strings: sequences are
    entity-history-sized, never corpus-sized, and the regex runs
    codegen-side per row. Unmapped event types encode as ``x`` so they
    break a match the way MATCH_RECOGNIZE's unmatched rows do. At
    100 TB, bound per-entity history (window the scan by time) before
    calling — the collect_list is per-user linear, the regex per-user
    linear, nothing quadratic.
    """
    enc = None
    for k in sorted(mapping):
        cond = F.col(type_col) == k
        enc = F.when(cond, F.lit(mapping[k])) if enc is None else enc.when(
            cond, F.lit(mapping[k])
        )
    enc = enc.otherwise(F.lit("x"))
    rows = df.select(
        F.col(user_col).alias("user"),
        F.struct(
            F.col(ts_col).alias("t"), F.col(id_col).alias("i"), enc.alias("ch")
        ).alias("s"),
    )
    per = rows.groupBy("user").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda x: x["ch"]), ""
        ).alias("seq")
    )
    n_matches = F.size(F.regexp_extract_all(F.col("seq"), F.lit(pattern), F.lit(0)))
    return (
        per.select(
            "user",
            F.length("seq").cast("int").alias("seq_len"),
            n_matches.cast("int").alias("n_matches"),
            F.regexp_extract(F.col("seq"), pattern, 0).alias("first_match"),
        )
        .filter(F.col("n_matches") >= 1)
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
    trend_halfwidth: int = 12,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Seasonality-aware anomaly detection: :func:`stl_decompose` the
    series, then flag buckets whose RESIDUAL breaks the MAD rule
    (|r − median| > n_sigmas · 1.4826 · MAD) — the composition every
    metrics-monitoring pipeline runs, because raw-value thresholds
    (:func:`mad_anomalies`) fire on ordinary daily peaks while residual
    thresholds fire only on departures from the expected
    trend + season (an anomalous QUIET hour is as visible as a spike).

    Returns the flagged buckets only: (bucket, phase, level, expected,
    residual, threshold, anomaly_score) where expected = trend +
    seasonal, threshold is the MAD fence and anomaly_score =
    |residual| / threshold (≥ 1 by construction; NULL-guarded when MAD
    is 0 — then any nonzero residual flags with score NULL, the
    degenerate-contract convention of ks_two_sample).

    Scale shape: inherits stl_decompose's one corpus-sized aggregate;
    the medians and the verdict run over the time-range-sized bucket
    series (720 rows at the fixture), so the exact medians are
    sketch-sized by construction — the approx_percentile escape hatch
    is unnecessary here regardless of corpus size.
    """
    dec = stl_decompose(df, ts_col, value_col, period, trend_halfwidth)
    med = dec.agg(F.median("residual").alias("__med"))
    dev = dec.crossJoin(F.broadcast(med)).withColumn(
        "__adev", F.abs(F.round(F.col("residual") - F.col("__med"), 6))
    )
    mad = dev.agg(F.median("__adev").alias("__mad"))
    fence = F.round(F.lit(n_sigmas) * F.lit(1.4826) * F.col("__mad"), 6)
    flagged = (
        dev.crossJoin(F.broadcast(mad))
        .withColumn("threshold", fence)
        .filter(F.col("__adev") > F.col("threshold"))
    )
    return flagged.select(
        "bucket",
        "phase",
        "level",
        F.round(F.col("trend") + F.col("seasonal"), 6).alias("expected"),
        "residual",
        "threshold",
        F.when(
            F.col("threshold") > 0,
            F.round(F.col("__adev") / F.col("threshold"), 6),
        ).alias("anomaly_score"),
    ).orderBy("bucket")


def cusum_changepoints(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    slack: float = 1.0,
    threshold: float = 8.0,
) -> DataFrame:
    """Two-sided CUSUM change-point monitor (Page 1954) over the hourly
    mean series — the classic drift detector: S⁺ accumulates positive
    departures from the in-control mean beyond a ``slack`` allowance
    and alarms past ``threshold`` (S⁻ symmetric), catching small
    SUSTAINED shifts long before any per-point fence
    (:func:`seasonal_anomalies` flags spikes; CUSUM flags creep).

    The textbook recurrence ``S⁺_t = max(0, S⁺_{t−1} + y_t)`` is not a
    window aggregate, but it has the exact prefix form
    ``S⁺_t = C_t − min(0, min_{j≤t} C_j)`` with C the running sum of
    ``y_t = x_t − μ − slack`` — two ordered windows, no recursion
    (S⁻ mirrors with max). Everything accumulates in integer
    micro-units (level, μ, slack, threshold all quantized), so the
    trajectories are exact and any engine replays them; the only
    divisions happen at the 6-dp output boundary.

    Returns the FULL trajectory — (bucket, level, cusum_pos,
    cusum_neg, alarm) for every hourly bucket, alarm = 1 where either
    side exceeds the threshold — so callers (and the oracle contract)
    see resets and build-ups, not just alarm rows.

    Scale shape: one corpus-sized hash aggregate to hourly buckets;
    both cumulative windows run over the time-range-sized series
    (sketch-sized by construction — the stl_decompose rationale). μ
    rides in as a broadcast one-row aggregate, never an eager collect.
    """
    s_micro = int(round(float(slack) * 1e6))
    h_micro = int(round(float(threshold) * 1e6))
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    hourly = (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            micro(F.col(value_col).cast("double")).alias("vq"),
        )
        .groupBy("bucket")
        .agg(
            F.round(F.sum("vq") / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("lvl_micro")
        )
    )
    mu = hourly.agg(
        F.round(F.sum("lvl_micro") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("mu_micro")
    )
    based = hourly.crossJoin(F.broadcast(mu)).select(
        "bucket",
        "lvl_micro",
        (F.col("lvl_micro") - F.col("mu_micro") - F.lit(s_micro)).alias("y_pos"),
        (F.col("lvl_micro") - F.col("mu_micro") + F.lit(s_micro)).alias("y_neg"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cums = based.select(
        "bucket",
        "lvl_micro",
        F.sum("y_pos").over(w).alias("cp"),
        F.sum("y_neg").over(w).alias("cn"),
    )
    traj = cums.select(
        "bucket",
        "lvl_micro",
        (
            F.col("cp")
            - F.least(F.lit(0).cast("long"), F.min("cp").over(w))
        ).alias("sp"),
        (
            F.greatest(F.lit(0).cast("long"), F.max("cn").over(w))
            - F.col("cn")
        ).alias("sn"),
    )
    return traj.select(
        "bucket",
        F.round(F.col("lvl_micro") / 1e6, 6).alias("level"),
        F.round(F.col("sp") / 1e6, 6).alias("cusum_pos"),
        F.round(F.col("sn") / 1e6, 6).alias("cusum_neg"),
        F.when(
            (F.col("sp") > h_micro) | (F.col("sn") > h_micro), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("alarm"),
    ).orderBy("bucket")


def conformal_forecast_intervals(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
    cal_frac: float = 0.75,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction intervals for the seasonal-naive
    forecaster (Vovk's inductive conformal prediction, the
    Lei et al. 2018 split form — THE distribution-free uncertainty
    wrapper modern forecast systems bolt onto any point model): the
    forecastable series splits chronologically into a CALIBRATION
    prefix (first ``cal_frac``) and an evaluation tail; the interval
    half-width q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest absolute
    calibration residual (a finite-sample-valid ORDER STATISTIC — no
    distributional assumption, no quantile interpolation), and every
    evaluation point is covered iff |y − ŷ| ≤ q̂. Guarantees
    P(covered) ≥ 1−α on exchangeable residuals.

    Returns one row per evaluation DAY: (day, n_eval, n_covered,
    coverage, qhat) — the daily coverage a forecast monitor compares
    against 1−α (systematic under-coverage = the residual
    distribution drifted; pair with :func:`cusum_changepoints` on the
    residuals to localize). If the conformal rank exceeds n_cal
    (calibration too small for the requested α), q̂ and the verdicts
    are NULL — undefined, the ks_two_sample degenerate contract.

    Determinism contract: levels and residuals reduce exact integer
    micro-units at 6 dp (the seasonal_naive_backtest chain); the
    split point ⌊cal_frac·n⌋ and the conformal rank are pure integer
    arithmetic; q̂ is an actual residual value picked by ROW_NUMBER
    with a bucket tie-break. Coverage counts are exact integers.

    Scale shape: one corpus-sized hash aggregate to hourly buckets;
    the LAG, the chronological rank, the calibration order statistic
    and the daily rollup all run over the time-range-sized series
    (sketch-sized by construction — the stl_decompose rationale).
    """
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    hourly = (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            micro(F.col(value_col).cast("double")).alias("vq"),
        )
        .groupBy("bucket")
        .agg(
            F.round(
                F.sum("vq") / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("y")
        )
    )
    w = Window.orderBy("bucket")
    scored = (
        hourly.withColumn("f", F.lag("y", period).over(w))
        .filter(F.col("f").isNotNull())
        .withColumn("abs_err", F.abs(F.round(F.col("f") - F.col("y"), 6)))
        .withColumn("rk", F.row_number().over(w))
    )
    n_tot = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # chronological split: rk <= floor(cal_frac * n) is calibration
    cal_cut = F.floor(F.lit(float(cal_frac)) * F.col("n")).cast("long")
    marked = scored.crossJoin(F.broadcast(n_tot)).withColumn(
        "is_cal", F.col("rk") <= cal_cut
    )
    cal = marked.filter(F.col("is_cal"))
    n_cal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    # conformal rank: ceil((n_cal + 1) * (1 - alpha)) via the positive-
    # operand integer-ceil identity (p + q - 1) div q — Spark's `div`
    # truncates and DuckDB's `//` floors, which only agree on
    # non-negative operands, so the negation trick is off-limits
    one_minus_a = int(round((1.0 - float(alpha)) * 1e6))
    rank_expr = F.expr(
        f"((n_cal + 1) * {one_minus_a} + 999999) div 1000000"
    )
    wq = Window.orderBy("abs_err", "bucket")
    qtab = (
        cal.crossJoin(F.broadcast(n_cal))
        .withColumn("qrk", F.row_number().over(wq))
        .withColumn("crank", rank_expr)
        .filter(F.col("qrk") == F.col("crank"))
        .select(F.col("abs_err").alias("qhat"))
    )
    ev = marked.filter(~F.col("is_cal"))
    # TRUE-conditioned left join: qhat attaches to every eval row, and
    # an EMPTY qtab (rank > n_cal) leaves it NULL instead of wiping
    # the eval rows the way a crossJoin would
    evq = ev.join(F.broadcast(qtab), F.lit(True), "left")
    return (
        evq.groupBy(F.to_date("bucket").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("abs_err") <= F.col("qhat"), 1).otherwise(
                    F.when(F.col("qhat").isNull(), None).otherwise(0)
                )
            )
            .cast("long")
            .alias("n_covered"),
            F.max("qhat").alias("qhat"),
        )
        .withColumn(
            "coverage",
            F.round(F.col("n_covered") / F.col("n_eval"), 6),
        )
        .select("day", "n_eval", "n_covered", "coverage", "qhat")
        .orderBy("day")
    )


def km_survival(
    df: DataFrame,
    duration: Column,
    event: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator — the standard
    nonparametric time-to-event curve (churn/retention lifetimes,
    hardware failure, job completion) with right-censoring handled
    exactly: a censored observation leaves the at-risk set at its
    duration without counting as an event.

    Input: one row per subject with an integer ``duration`` (e.g.
    days observed) and ``event`` = 1 if the terminal event was
    observed, 0 if censored. Per distinct duration t:
      n_risk(t)  = subjects with duration ≥ t
      d(t)       = events at t,  c(t) = censorings at t
      S(t)       = Π_{u ≤ t} (1 − d(u)/n_risk(u))
    Output (keys…, t, n_risk, d_events, c_censored, survival) at
    EVENT times only (the curve's step points), survival rounded 6 dp.

    Cross-engine determinism: d/n is a ratio of exact integers (same
    double everywhere); each log factor is rounded to 9 dp before the
    running sum so a 1-ulp libm difference in LN cannot leak through
    EXP into the 6-dp output; a zero factor (everyone at risk dies)
    is handled by flag, not ln(0).

    Scale shape: one hash aggregate to per-(keys, t) cells, then all
    windows run over the time-grain cell table (time-range-sized, not
    subject-sized) — the same reduce-before-window rule as
    equidepth/KS. Per-key curves shuffle once on ``keys``.
    """
    kcols = [F.col(c) for c in keys]
    obs = df.select(
        *kcols,
        duration.cast("long").alias("t"),
        event.cast("int").alias("e"),
    )
    cells = obs.groupBy(*keys, "t").agg(
        F.sum("e").cast("long").alias("d"),
        F.sum(1 - F.col("e")).cast("long").alias("c"),
    )
    w_all = Window.partitionBy(*kcols) if keys else Window.partitionBy(F.lit(1))
    w_bef = (
        Window.partitionBy(*kcols) if keys else Window.partitionBy(F.lit(1))
    ).orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = (
        Window.partitionBy(*kcols) if keys else Window.partitionBy(F.lit(1))
    ).orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum(F.col("d") + F.col("c")).over(w_all)
    left_before = F.coalesce(
        F.sum(F.col("d") + F.col("c")).over(w_bef), F.lit(0)
    )
    stepped = cells.withColumn("n_risk", total - left_before)
    factor = F.lit(1.0) - F.col("d") / F.col("n_risk")
    stepped = stepped.withColumn(
        "__lnf", F.when(factor > 0, F.round(F.log(factor), 9)).otherwise(F.lit(0.0))
    ).withColumn("__dead", F.when(factor <= 0, 1).otherwise(0))
    out = (
        stepped.withColumn("__lnsum", F.sum("__lnf").over(w_run))
        .withColumn("__anydead", F.max("__dead").over(w_run))
        .filter(F.col("d") > 0)
        .select(
            *keys,
            F.col("t"),
            F.col("n_risk"),
            F.col("d").alias("d_events"),
            F.col("c").alias("c_censored"),
            F.when(F.col("__anydead") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("__lnsum")), 6))
            .alias("survival"),
        )
    )
    return out.orderBy(*keys, "t")


def autocorrelation(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    grain_seconds: int = 3600,
    max_lag: int = 12,
) -> DataFrame:
    """Sample autocorrelation function (ACF) of the regular-grain
    aggregate series — the lag-structure diagnostic behind seasonal
    period choice (q_stl_decompose's period input), AR-order picking
    and white-noise checks:
      r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²
    with x̄ the FULL-series mean (the standard biased estimator;
    missing grains simply contribute no pair — documented, exact).

    Cross-engine determinism: the series is per-grain integer
    micro-sums; every pairwise Σab is accumulated in DECIMAL(38,0)
    (micro² products overflow int64), so all sums are exact integers
    in any engine and reduce order; the closed form is then one fixed
    double expression tree.

    Scale shape: one corpus hash-aggregate to the time-grain series,
    then an explode(1..K) + single equi-join and a K-row aggregate —
    everything after the first reduction is time-range-sized. At
    100 TB the series for years of hourly grain is ~10⁵ rows.
    """
    vm = F.round(F.col(value_col) * 1e6, 0).cast("long")
    series = (
        df.select(
            F.floor(F.col(ts_col).cast("long") / grain_seconds)
            .cast("long")
            .alias("i"),
            vm.alias("vm"),
        )
        .groupBy("i")
        .agg(F.sum("vm").alias("v"))
        .localCheckpoint()
    )
    dec = lambda c: c.cast("decimal(38,0)")
    glob = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("v")) * dec(F.col("v"))).alias("sxx"),
    )
    lagged = series.select(
        "i",
        F.col("v").alias("va"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_lag)))).alias("k"),
    )
    pairs = lagged.join(
        series.select(F.col("i").alias("j"), F.col("v").alias("vb")),
        F.col("j") == F.col("i") + F.col("k"),
    )
    per_k = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("va").cast("decimal(38,0)").alias("sa"),
        F.sum("vb").cast("decimal(38,0)").alias("sb"),
        F.sum(dec(F.col("va")) * dec(F.col("vb"))).alias("sab"),
    )
    j = per_k.crossJoin(F.broadcast(glob))
    xbar = F.col("sx").cast("double") / F.col("n")
    num = (
        F.col("sab").cast("double")
        - xbar * (F.col("sa").cast("double") + F.col("sb").cast("double"))
        + F.col("m") * xbar * xbar
    )
    den = F.col("sxx").cast("double") - F.col("n") * xbar * xbar
    return (
        j.select(
            F.col("k").cast("int").alias("lag"),
            F.col("m").alias("n_pairs"),
            F.when(den != 0, F.round(num / den, 6)).alias("acf"),
        )
        .orderBy("lag")
    )


def cross_correlation(
    df: DataFrame,
    ts_col: str,
    x_value: Column,
    y_value: Column,
    grain_seconds: int = 3600,
    max_lag: int = 6,
) -> DataFrame:
    """Sample cross-correlation function (CCF) between two aggregate
    series built from the SAME event stream — the leading-indicator
    diagnostic (do clicks now predict purchases k hours later?):
      r_k = Σ_t (x_t − x̄)(y_{t+k} − ȳ) / √(Σ(x−x̄)² · Σ(y−ȳ)²)
    for k = −max_lag..max_lag (negative k: y LEADS x), with x̄/ȳ and
    the denominator over the FULL series (the standard normalization,
    so |r_k| ≤ 1 and lags are comparable).

    Same exactness contract as :func:`autocorrelation`: per-grain
    micro-unit integer sums, DECIMAL(38,0) pairwise accumulation, one
    fixed double expression tree; missing grains contribute no pair.

    Scale shape: ONE corpus hash-aggregate to the (grain, x, y)
    series, then an explode(−K..K) + single equi-join and a
    (2K+1)-row aggregate — everything after the first reduction is
    time-range-sized.

    Returns (lag, n_pairs, ccf) ordered by lag; NULL ccf when either
    variance is zero.
    """
    xm = F.round(x_value * 1e6, 0).cast("long")
    ym = F.round(y_value * 1e6, 0).cast("long")
    series = (
        df.select(
            F.floor(F.col(ts_col).cast("long") / grain_seconds)
            .cast("long")
            .alias("i"),
            xm.alias("xm"),
            ym.alias("ym"),
        )
        .groupBy("i")
        .agg(F.sum("xm").alias("x"), F.sum("ym").alias("y"))
        .localCheckpoint()
    )
    dec = lambda c: c.cast("decimal(38,0)")
    gstats = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
    )
    lagged = series.select(
        "i",
        F.col("x").alias("xa"),
        F.explode(F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))).alias("k"),
    )
    pairs = lagged.join(
        series.select(F.col("i").alias("j"), F.col("y").alias("yb")),
        F.col("j") == F.col("i") + F.col("k"),
    )
    per_k = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("xa").cast("decimal(38,0)").alias("sa"),
        F.sum("yb").cast("decimal(38,0)").alias("sb"),
        F.sum(dec(F.col("xa")) * dec(F.col("yb"))).alias("sab"),
    )
    j = per_k.crossJoin(F.broadcast(gstats))
    xbar = F.col("sx").cast("double") / F.col("n")
    ybar = F.col("sy").cast("double") / F.col("n")
    num = (
        F.col("sab").cast("double")
        - xbar * F.col("sb").cast("double")
        - ybar * F.col("sa").cast("double")
        + F.col("m") * xbar * ybar
    )
    varx = F.col("sxx").cast("double") - F.col("n") * xbar * xbar
    vary = F.col("syy").cast("double") - F.col("n") * ybar * ybar
    return (
        j.select(
            F.col("k").cast("int").alias("lag"),
            F.col("m").alias("n_pairs"),
            F.when(
                (varx > 0) & (vary > 0),
                F.round(num / F.sqrt(varx * vary), 6),
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


def logrank_test(
    df: DataFrame,
    duration: Column,
    event: Column,
    group: Column,
    group_a,
    group_b,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test — THE standard comparison of two
    survival curves (does cohort A churn faster than cohort B?),
    the inferential companion to :func:`km_survival`: at each event
    time t, observed group-A events d_A(t) are compared with the
    hypergeometric expectation d(t)·n_A(t)/n(t);
      chi2 = (Σ_t (d_A − e_A))² / Σ_t v_t,
      v_t = d·(n_A/n)·(1 − n_A/n)·(n − d)/(n − 1).

    Cross-engine determinism: at-risk counts are exact integers from
    the same cell-table windows as KM; each per-time e_A and v term
    quantizes to micro-units (HALF_UP) BEFORE the sum, so the
    reductions are exact integer additions in any engine and reduce
    order — the only doubles are the final chi2 division.

    Returns one row: (n_a, n_b, o_a, e_a, chi2) — observed vs
    expected group-A events and the 1-df chi-square statistic
    (compare to 3.84 for p < 0.05). NULL chi2 when no variance (no
    event time with both groups at risk).

    Scale shape: one corpus aggregate to per-duration cells carrying
    BOTH groups' counts, then time-grain-sized windows — the KM cost
    envelope exactly.
    """
    g = F.when(group == group_a, F.lit("a")).when(group == group_b, F.lit("b"))
    obs = df.select(
        g.alias("g"),
        duration.cast("long").alias("t"),
        event.cast("int").alias("e"),
    ).filter(F.col("g").isNotNull())
    cells = obs.groupBy("t").agg(
        F.sum(F.when(F.col("g") == "a", F.col("e")).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("g") == "a", 1 - F.col("e")).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == "b", F.col("e")).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("g") == "b", 1 - F.col("e")).otherwise(0)).cast("long").alias("c2"),
    )
    w_all = Window.partitionBy(F.lit(1))
    w_bef = Window.partitionBy(F.lit(1)).orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot1 = F.sum(F.col("d1") + F.col("c1")).over(w_all)
    tot2 = F.sum(F.col("d2") + F.col("c2")).over(w_all)
    bef1 = F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(w_bef), F.lit(0))
    bef2 = F.coalesce(F.sum(F.col("d2") + F.col("c2")).over(w_bef), F.lit(0))
    stepped = cells.select(
        "t", "d1", "d2",
        (tot1 - bef1).alias("n1"),
        (tot2 - bef2).alias("n2"),
        tot1.alias("na"),
        tot2.alias("nb"),
    )
    d = F.col("d1") + F.col("d2")
    n = F.col("n1") + F.col("n2")
    e1 = d * F.col("n1") / n
    share = F.col("n1") / n
    v = F.when(
        n > 1,
        d * share * (F.lit(1.0) - share) * (n - d) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    terms = stepped.filter(d > 0).select(
        "d1", "na", "nb",
        F.round(e1 * 1e6, 0).cast("long").alias("e1_micro"),
        F.round(v * 1e6, 0).cast("long").alias("v_micro"),
    )
    agg_row = terms.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum("d1").cast("long").alias("o_a"),
        F.sum("e1_micro").cast("long").alias("ea_micro"),
        F.sum("v_micro").cast("long").alias("v_sum_micro"),
    )
    diff = F.col("o_a") - F.col("ea_micro") / 1e6
    chi2 = F.when(
        F.col("v_sum_micro") > 0,
        F.round(diff * diff / (F.col("v_sum_micro") / 1e6), 6),
    )
    return agg_row.select(
        "n_a",
        "n_b",
        "o_a",
        F.round(F.col("ea_micro") / 1e6, 6).alias("e_a"),
        chi2.alias("chi2"),
    )

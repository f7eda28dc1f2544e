"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query ids map 1:1 onto SURVEY.md §2's operator inventory (R* reference
operators, E* extended surface). Every aggregated double is rounded to
6 dp on BOTH sides (SURVEY.md §7.3 float-determinism note); every
computed column is aliased identically on both sides.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
from nyc_tlc_trip_data_pipelines_spark.io import scratch_dir
from nyc_tlc_trip_data_pipelines_spark.operators import aggregates as agg
from nyc_tlc_trip_data_pipelines_spark.operators import corpus as CP
from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQ
from nyc_tlc_trip_data_pipelines_spark.operators import entity as EN
from nyc_tlc_trip_data_pipelines_spark.operators import graph as GR
from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO
from nyc_tlc_trip_data_pipelines_spark.operators import mining as MN
from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS
from nyc_tlc_trip_data_pipelines_spark.operators import joins as J
from nyc_tlc_trip_data_pipelines_spark.operators import relational as R
from nyc_tlc_trip_data_pipelines_spark.operators import scalars as S
from nyc_tlc_trip_data_pipelines_spark.operators import sorts as O
from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
from nyc_tlc_trip_data_pipelines_spark.operators import udf as U
from nyc_tlc_trip_data_pipelines_spark.operators import vectors as V
from nyc_tlc_trip_data_pipelines_spark.operators import windows as W
from nyc_tlc_trip_data_pipelines_spark.session import configure_session

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY.md §2B E10) on sf0.001."""
    configure_session(spark)
    return q_agg_basic(spark, SF_SMOKE)


# --------------------------------------------------------------------------
# Reference-core queries (SURVEY.md §2A)
# --------------------------------------------------------------------------


def q_count(spark: SparkSession, sf: str) -> DataFrame:
    """R12: count action (``pasta1_etl/src/main.py:167,188,216,231``)."""
    li = load_table(spark, sf, "lineitem")
    return spark.createDataFrame([(agg.count_rows(li),)], "n_rows bigint")


def q_cast_schema(spark: SparkSession, sf: str) -> DataFrame:
    """R4: declared-schema cast-on-ingest (``pasta1_etl/src/main.py:170-172``)."""
    li = load_table(spark, sf, "lineitem")
    cast = R.cast_to_schema(
        li,
        {
            "l_orderkey": "string",
            "l_linenumber": "long",
            "l_quantity": "double",
            "l_shipdate": "date",
        },
    )
    return cast.select(
        F.col("l_orderkey").alias("orderkey_str"),
        F.col("l_linenumber").alias("linenumber_long"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_shipdate").alias("ship_date"),
    )


def q_filter_time_range(spark: SparkSession, sf: str) -> DataFrame:
    """R5+R6: half-open timestamp interval [lo, hi)
    (``pasta1_etl/src/main.py:180-186``)."""
    ev = load_table(spark, sf, "events")
    out = R.filter_time_range(ev, "ts", "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    return out.select("event_id", "user_id", "event_type", F.round("value", 6).alias("value"))


def q_partition_prune(spark: SparkSession, sf: str) -> DataFrame:
    """R2: partition-range pruning as a partition-derived predicate
    (``pasta1_etl/src/main.py:156-163``)."""
    li = load_table(spark, sf, "lineitem")
    pruned = R.filter_rows(
        R.derive_year_month(li, "l_shipdate", "ship_year", "ship_month"),
        (F.col("ship_year") == 1995) & (F.col("ship_month").between(1, 6)),
    )
    return agg.group_agg(
        pruned, ["ship_year", "ship_month"], {"n_rows": F.count(F.lit(1))}
    )


def q_project_drop(spark: SparkSession, sf: str) -> DataFrame:
    """R9: projection by column drop (``pasta1_etl/src/main.py:218-223``)."""
    li = load_table(spark, sf, "lineitem")
    return R.drop_columns(
        li, ["l_partkey", "l_suppkey", "l_comment", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]
    )


def q_derive_year_month(spark: SparkSession, sf: str) -> DataFrame:
    """R10: derived partition columns (``pasta1_etl/src/main.py:227-228``)."""
    o = load_table(spark, sf, "orders")
    return R.derive_year_month(o, "o_orderdate", "pickup_year", "pickup_month").select(
        "o_orderkey", "pickup_year", "pickup_month"
    )


def q_groupby_avg_orderby(spark: SparkSession, sf: str) -> DataFrame:
    """R15 — reference Q1 (``pasta2_analytics/src/main.py:18-25``):
    AVG per (year, month), ordered."""
    ev = load_table(spark, sf, "events")
    monthly = R.derive_year_month(ev, "ts", "y", "m")
    out = agg.group_agg(monthly, ["y", "m"], {"avg_value": F.round(F.avg("value"), 6)})
    return O.sort(out, ["y", "m"])


def q_window_avg_two_grains(spark: SparkSession, sf: str) -> DataFrame:
    """R16-R20 — reference Q2 (``pasta2_analytics/src/main.py:33-50``):
    two partitioned window AVGs at day/hour grain, deduped by
    GROUP-BY-all-columns, 4-column ORDER BY."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        S.year("ts").alias("y"),
        S.month("ts").alias("m"),
        S.day("ts").alias("d"),
        S.hour("ts").alias("h"),
        F.col("value"),
    )
    windowed = W.window_avg_multi_grain(
        base,
        "value",
        {"avg_day": ["y", "m", "d"], "avg_hour": ["y", "m", "d", "h"]},
    ).select(
        "y", "m", "d", "h", F.round("avg_day", 6).alias("avg_day"), F.round("avg_hour", 6).alias("avg_hour")
    )
    deduped = windowed.groupBy("y", "m", "d", "h", "avg_day", "avg_hour").agg(F.lit(1).alias("__one")).drop("__one")
    return O.sort(deduped, ["y", "m", "d", "h"])


def q_date_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    """R24: month rollover + tolerance arithmetic pushed into Spark
    (``pasta1_etl/src/utils.py:87-116``)."""
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        S.first_day_of_next_month("o_orderdate").cast("date").alias("next_month_start"),
        S.ts_minus_hours("o_orderdate", 1).alias("with_tolerance"),
    )


def q_source_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """R1: source discovery — enumerate + sort data files (engine analog
    of the paginated S3 listing, ``pasta1_etl/src/utils.py:16-66``).
    Oracle (round 4, was rows-only): the enumerated set must equal the
    canonical table catalog — a constant-expectation twin, the same role
    a golden file plays; listing/pagination MECHANICS are covered by
    tests/test_objectstore.py."""
    from nyc_tlc_trip_data_pipelines_spark.io import discover_files

    files = discover_files(sf)
    names = [(os.path.splitext(os.path.basename(f))[0],) for f in files]
    return spark.createDataFrame(names, "table_name string").orderBy("table_name")


def q_sink_append(spark: SparkSession, sf: str) -> DataFrame:
    """R7: append sink + readback (``pasta1_etl/src/main.py:191-194``)."""
    from nyc_tlc_trip_data_pipelines_spark.io import append_table, read_parquet

    ev = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bronze")
        half1 = ev.filter(F.col("event_id") % 2 == 0)
        half2 = ev.filter(F.col("event_id") % 2 == 1)
        append_table(half1, path)
        append_table(half2, path)
        back = read_parquet(spark, path)
        n = back.count()
    return spark.createDataFrame([(n,)], "n_rows bigint")


def q_stable_split(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 4): reproducible train/holdout splitting via a
    salted portable hash draw — stable across runs/engines/data order,
    per-row independent (incremental data keeps old assignments),
    uniform even under clustered id ranges (unlike id-modulo). The
    sum-of-ids column is a membership checksum: the oracle replays the
    md5 arithmetic, so a hash match proves per-row ASSIGNMENT, not just
    split sizes."""
    docs = load_table(spark, sf, "documents")
    split = CP.stable_split(docs, holdout_pct=10, salt="v1")
    return O.sort(
        split.groupBy("lang", "split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        ),
        ["lang", "split"],
    )


def q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """North star (text analysis, round 4): BPE tokenizer-training
    statistics — adjacent character-pair frequencies weighted by word
    frequency, the counting step of one BPE merge iteration. Word
    frequencies aggregate first (vocabulary-sized shuffle), pairs
    explode over the deduped vocabulary only. Top-50 by count with a
    total deterministic order → full DuckDB oracle."""
    docs = load_table(spark, sf, "documents")
    return TX.bpe_pair_stats(docs, top_k=50)


def q_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-gap analog (round 4): versioned append + time travel over
    plain parquet — version-stamped commit manifests with O_EXCL
    optimistic concurrency and txnAppId-style retry dedup
    (``io.append_versioned``; reference Delta log
    ``pasta1_etl/src/main.py:191-194``). Appends two month batches plus
    a RETRY of batch 1, then reads AS OF v0: the result must be exactly
    batch 1 once — proving retry idempotence and that v0 is immune to
    later commits. Deterministic → full DuckDB oracle."""
    from nyc_tlc_trip_data_pipelines_spark.io import append_versioned, read_version

    ev = load_table(spark, sf, "events")
    b1 = ev.filter(F.dayofmonth("ts") <= 15)
    b2 = ev.filter(F.dayofmonth("ts") > 15)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned")
        append_versioned(b1, path, "fortnight-1")
        append_versioned(b2, path, "fortnight-2")
        append_versioned(b1, path, "fortnight-1")  # retry: no new version
        v0 = read_version(spark, path, 0)
        out = (
            v0.groupBy(F.dayofmonth("ts").alias("d"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .collect()
        )
    return spark.createDataFrame(
        [(int(r.d), int(r.n_events), float(r.sum_value)) for r in out],
        "d int, n_events bigint, sum_value double",
    ).orderBy("d")


def q_sink_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """R11: partitioned sink + single-partition readback
    (``pasta1_etl/src/main.py:235-239``)."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_parquet, write_partitioned

    ev = load_table(spark, sf, "events")
    gold = R.derive_year_month(ev, "ts", "y", "m")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "gold")
        write_partitioned(gold, path, ["y", "m"], mode="overwrite")
        back = read_parquet(spark, path).filter(F.col("m") == 1)
        out = back.groupBy("y", "m").agg(F.count(F.lit(1)).alias("n_rows")).collect()
    return spark.createDataFrame(out, "y int, m int, n_rows bigint").orderBy("y", "m")


def q_sink_csv(spark: SparkSession, sf: str) -> DataFrame:
    """R21: headered CSV sink + readback (``pasta2_analytics/src/main.py:26,51``)."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_csv, write_csv

    out = q_groupby_avg_orderby(spark, sf)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "avg_value_csv")
        write_csv(out, path)
        back = read_csv(spark, path).collect()
    return spark.createDataFrame(back, "y int, m int, avg_value double").orderBy("y", "m")


def q_ddl_create(spark: SparkSession, sf: str) -> DataFrame:
    """R13/R14: typed table DDL + insert + readback
    (``pasta1_etl/src/main.py:109-132``, ``pasta1_etl/sql/*.sql``)."""
    from nyc_tlc_trip_data_pipelines_spark.io import create_table_ddl

    spark.sql("DROP TABLE IF EXISTS q_ddl_demo")
    create_table_ddl(
        spark,
        "q_ddl_demo",
        [("id", "BIGINT"), ("name", "STRING"), ("amount", "DOUBLE")],
    )
    spark.sql("INSERT INTO q_ddl_demo VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    out = spark.table("q_ddl_demo").orderBy("id").collect()
    spark.sql("DROP TABLE IF EXISTS q_ddl_demo")
    return spark.createDataFrame(out, "id bigint, name string, amount double")


# --------------------------------------------------------------------------
# Extended relational surface (SURVEY.md §2B E1-E25)
# --------------------------------------------------------------------------


def q_filter_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """E1: compound predicates — AND/OR/NOT, IN, BETWEEN, LIKE, IS NOT NULL."""
    li = load_table(spark, sf, "lineitem")
    pred = (
        (F.col("l_quantity").between(5, 45))
        & (F.col("l_returnflag").isin("A", "R"))
        & (F.col("l_linestatus") == "F")
        & (~F.col("l_shipdate").isNull())
        & ((F.col("l_discount") > 0.05) | (F.col("l_tax") < 0.04))
    )
    return R.filter_rows(li, pred).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )


def q_project_case(spark: SparkSession, sf: str) -> DataFrame:
    """E2: expression projection with arithmetic + CASE WHEN."""
    li = load_table(spark, sf, "lineitem")
    return R.project(
        li,
        [
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
            F.when(F.col("l_quantity") >= 30, F.lit("bulk"))
            .when(F.col("l_quantity") >= 10, F.lit("mid"))
            .otherwise(F.lit("small"))
            .alias("size_class"),
        ],
    )


def q_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    """E3: inner equi-join orders⋈customer, aggregated per market segment."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    joined = J.inner_join(o, c, on=[o.o_custkey == c.c_custkey])
    return O.sort(
        agg.group_agg(
            joined,
            ["c_mktsegment"],
            {"n_orders": F.count(F.lit(1)), "sum_total": F.round(F.sum("o_totalprice"), 6)},
        ),
        ["c_mktsegment"],
    )


def q_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    """E4: left outer join — customers incl. those with zero orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    joined = J.left_join(c, o, on=[c.c_custkey == o.o_custkey])
    return O.sort(
        joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("n_orders")),
        ["c_custkey"],
    )


def q_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    """E5a: left semi join — customers having ≥1 urgent order."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return O.sort(
        J.semi_join(c, o, on=[c.c_custkey == o.o_custkey]).select("c_custkey", "c_name"),
        ["c_custkey"],
    )


def q_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    """E5b: left anti join — customers with no URGENT order. The right
    side is filtered so the result is non-empty at every SF (round 1's
    unfiltered variant matched vacuously on 0 rows)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return O.sort(
        J.anti_join(c, o, on=[c.c_custkey == o.o_custkey]).select("c_custkey", "c_name"),
        ["c_custkey"],
    )


def q_join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """E6: broadcast hash join — fact lineitem ⋈ small dim part; no
    shuffle of the fact side (map-side join)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    joined = J.broadcast_join(li, p, on=[li.l_partkey == p.p_partkey])
    return O.sort(
        agg.group_agg(
            joined,
            ["p_brand"],
            {"n_items": F.count(F.lit(1)), "sum_qty": F.round(F.sum("l_quantity"), 6)},
        ),
        ["p_brand"],
    )


def q_join_star(spark: SparkSession, sf: str) -> DataFrame:
    """E7: multi-way star join lineitem⋈orders⋈customer⋈nation⋈region —
    revenue per region; all dims broadcast so the fact shuffles once
    (for the final aggregate only)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    star = J.star_join(
        li,
        [
            (o, li.l_orderkey == o.o_orderkey),
            (c, o.o_custkey == c.c_custkey),
            (n, c.c_nationkey == n.n_nationkey),
            (r, n.n_regionkey == r.r_regionkey),
        ],
    )
    # 2dp, not 4: per-region revenue is ~1e10 at sf0.1, and 4dp of a
    # 10-digit sum is 14 significant digits — the regime where float
    # accumulation ORDER flips the rounded digit between engines
    # (round-5 sf0.1 sweep finding). 12 sig figs is order-stable.
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return O.sort(
        agg.group_agg(star, ["r_name"], {"revenue": F.round(rev, 2), "n_items": F.count(F.lit(1))}),
        ["r_name"],
    )


def q_join_range(spark: SparkSession, sf: str) -> DataFrame:
    """E8: non-equi (range) join — events bucketed into value intervals
    defined by a small broadcast dimension."""
    ev = load_table(spark, sf, "events")
    buckets = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 50.0), ("big", 50.0, 200.0), ("huge", 200.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    joined = J.range_join(
        ev, F.broadcast(buckets), (ev.value >= buckets.lo) & (ev.value < buckets.hi)
    )
    return O.sort(
        agg.group_agg(joined, ["bucket"], {"n_events": F.count(F.lit(1)), "avg_value": F.round(F.avg("value"), 6)}),
        ["bucket"],
    )


def q_join_cross(spark: SparkSession, sf: str) -> DataFrame:
    """E9: cross join region × nation (tiny × tiny)."""
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    return O.sort(
        J.cross_join(r.select("r_name"), n.select("n_name")),
        ["r_name", "n_name"],
    )


def q_agg_basic(spark: SparkSession, sf: str) -> DataFrame:
    """E10 (TPC-H Q1 shape): multi-aggregate groupBy on lineitem.
    Map-side partial aggregation → shuffle carries keys, not rows.
    Sums rounded to 2dp: 4 groups over the whole table give ~1e10
    magnitudes, where 4dp is 14 significant digits and float
    accumulation order can flip the rounded digit between engines
    (same class as the round-5 q_join_star sf0.1 finding)."""
    li = load_table(spark, sf, "lineitem")
    out = agg.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
            "sum_disc_price": F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2),
            "sum_charge": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ),
            "avg_qty": F.round(F.avg("l_quantity"), 6),
            "avg_price": F.round(F.avg("l_extendedprice"), 6),
            "avg_disc": F.round(F.avg("l_discount"), 6),
            "count_order": F.count(F.lit(1)),
        },
    )
    return O.sort(out, ["l_returnflag", "l_linestatus"])


def q_agg_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """E11: exact COUNT(DISTINCT) per key."""
    o = load_table(spark, sf, "orders")
    return O.sort(
        agg.count_distinct_agg(o, ["o_orderstatus"], "o_custkey", "n_customers"),
        ["o_orderstatus"],
    )


def q_agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """E12: HLL++ approximate distinct, oracle-checked via a tolerance
    verdict: ``|approx − exact| / exact ≤ 0.05`` with rsd=0.01 (a 5σ
    bound, so a healthy sketch virtually never fails it). The sketch
    value itself is engine-specific, so the hashable output carries the
    exact count plus the boolean — the oracle emits TRUE."""
    ev = load_table(spark, sf, "events")
    agged = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("__approx"),
    )
    out = agged.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users")) / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("approx_ok"),
    )
    return O.sort(out, ["event_type"])


def q_agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """E13: ROLLUP grouping sets over (status, priority)."""
    o = load_table(spark, sf, "orders")
    out = agg.rollup_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        {"n_orders": F.count(F.lit(1)), "sum_total": F.round(F.sum("o_totalprice"), 4)},
    )
    return O.sort(out, [F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()])


def q_agg_having(spark: SparkSession, sf: str) -> DataFrame:
    """E14: HAVING — post-aggregation filter."""
    li = load_table(spark, sf, "lineitem")
    grouped = agg.group_agg(
        li, ["l_partkey"], {"n_items": F.count(F.lit(1)), "sum_qty": F.round(F.sum("l_quantity"), 6)}
    )
    return O.sort(agg.having(grouped, F.col("n_items") >= 2), ["l_partkey"])


def q_window_rank(spark: SparkSession, sf: str) -> DataFrame:
    """E15: ranking window — top-3 orders per customer by totalprice
    (orderkey tie-break for determinism)."""
    o = load_table(spark, sf, "orders")
    top = W.top_n_per_group(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        n=3,
        keep_rank=True,
    )
    return O.sort(
        top.select("o_custkey", "o_orderkey", F.round("o_totalprice", 6).alias("totalprice"), F.col("rn").alias("rank_in_cust")),
        ["o_custkey", "rank_in_cust"],
    )


def q_window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """E16: lag/lead — per-user event value deltas in time order."""
    ev = load_table(spark, sf, "events")
    out = W.lag_lead(
        ev,
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        "value",
        lag_alias="prev_value",
        lead_alias="next_value",
    )
    return O.sort(
        out.select(
            "user_id",
            "event_id",
            F.round("value", 6).alias("value"),
            F.round("prev_value", 6).alias("prev_value"),
            F.round("next_value", 6).alias("next_value"),
        ),
        ["user_id", "event_id"],
    )


def q_window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """E17: frame-spec window — running order total per customer."""
    o = load_table(spark, sf, "orders")
    out = W.running_agg(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        F.sum("o_totalprice"),
        "running_total",
    )
    return O.sort(
        out.select("o_custkey", "o_orderkey", F.round("running_total", 4).alias("running_total")),
        ["o_custkey", "o_orderkey"],
    )


def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    """E18: ORDER BY + LIMIT → TakeOrderedAndProject (per-partition heaps,
    no global sort). Unique orderkey tie-break keeps it deterministic."""
    o = load_table(spark, sf, "orders")
    return O.top_k(
        o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("totalprice")),
        [F.col("totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """E19: UNION / INTERSECT / EXCEPT over customer vs supplier nations."""
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    tagged = (
        O.union_distinct(c, s).withColumn("op", F.lit("union"))
        .unionByName(O.intersect(c, s).withColumn("op", F.lit("intersect")))
        .unionByName(O.except_(c, s).withColumn("op", F.lit("except")))
    )
    return O.sort(tagged.select("op", "nationkey"), ["op", "nationkey"])


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """E20: exact dedup on a key subset (hash groupBy semantics)."""
    ev = load_table(spark, sf, "events")
    return O.sort(
        O.dedup_exact(ev.select("user_id", "event_type"), ["user_id", "event_type"]),
        ["user_id", "event_type"],
    )


def q_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E21: string scalar surface — upper/substr/concat/split/regexp/length."""
    p = load_table(spark, sf, "part")
    return O.sort(
        p.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_brand", 1, 5).alias("brand_prefix"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.split(F.col("p_type"), " ").getItem(0).alias("type_first_word"),
            F.regexp_extract("p_type", "([A-Z]+)$", 1).alias("type_last_caps"),
            F.length("p_name").alias("name_len"),
        ),
        ["p_partkey"],
    )


def q_date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E22: date scalar surface — trunc/extract/datediff/date_add."""
    o = load_table(spark, sf, "orders")
    return O.sort(
        o.select(
            "o_orderkey",
            S.date_truncate("o_orderdate", "month").cast("date").alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
            F.dayofmonth("o_orderdate").alias("order_dom"),
            F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_1998"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        ),
        ["o_orderkey"],
    )


def q_math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E23: math scalar surface — round/abs/ceil/floor/pow/ln/sqrt."""
    li = load_table(spark, sf, "lineitem")
    return O.sort(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 1).alias("price_round1"),
            F.abs(F.col("l_discount") - 0.05).cast("double").alias("disc_center_raw"),
            F.ceil("l_quantity").alias("qty_ceil"),
            F.floor("l_quantity").alias("qty_floor"),
            F.round(F.pow(F.col("l_quantity"), 2), 6).alias("qty_sq"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
            F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        ).withColumn("disc_center", F.round("disc_center_raw", 6)).drop("disc_center_raw"),
        ["l_orderkey", "l_linenumber"],
    )


def q_null_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E21b: null-handling scalars — coalesce, nullif, greatest, least,
    isnull arithmetic."""
    li = load_table(spark, sf, "lineitem")
    return O.sort(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias("flag_or_none"),
            F.round(F.greatest("l_discount", "l_tax"), 6).alias("max_rate"),
            F.round(F.least("l_discount", "l_tax"), 6).alias("min_rate"),
            F.when(F.col("l_quantity").isNull(), 0).otherwise(1).alias("qty_present"),
        ),
        ["l_orderkey", "l_linenumber"],
    )


def q_map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E25b: typed JSON parsing (from_json → struct) + map construction
    and element access."""
    ev = load_table(spark, sf, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k INT").alias("p"),
        F.create_map(F.lit("type"), F.col("event_type")).alias("m"),
    )
    return O.sort(
        parsed.select(
            "event_id",
            F.col("p.k").alias("k_typed"),
            F.element_at("m", "type").alias("type_from_map"),
        ),
        ["event_id"],
    )


def q_array_posexplode(spark: SparkSession, sf: str) -> DataFrame:
    """E24b: positional explode — element index survives the expansion."""
    em = load_table(spark, sf, "embeddings")
    out = em.filter(F.col("vec_id") < 10).select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    return O.sort(
        out.select("vec_id", "pos", F.round(F.col("x").cast("double"), 6).alias("x")),
        ["vec_id", "pos"],
    )


def q_array_explode(spark: SparkSession, sf: str) -> DataFrame:
    """E24: array surface — size + element stats via explode."""
    em = load_table(spark, sf, "embeddings")
    exploded = em.select("vec_id", F.size("embedding").alias("dim"), F.explode("embedding").alias("x"))
    return O.sort(
        exploded.groupBy("vec_id", "dim").agg(
            F.round(F.avg("x"), 6).alias("avg_x"),
            F.round(F.min("x").cast("double"), 6).alias("min_x"),
            F.round(F.max("x").cast("double"), 6).alias("max_x"),
        ),
        ["vec_id"],
    )


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """E25: JSON extraction from a string props column, then aggregate."""
    ev = load_table(spark, sf, "events")
    k = S.json_get("props", "k").cast("int")
    return O.sort(
        ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        ),
        ["event_type"],
    )


def q_json_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """E25b: schema-full JSON round-trip — build a NESTED document with
    to_json(struct(...)), parse it back with from_json + explicit
    schema, and navigate struct/array fields. The oracle recomputes the
    same values straight from the columns (the round-trip must be
    lossless)."""
    ev = load_table(spark, sf, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(F.col("user_id").alias("u"), F.col("value").alias("v")).alias("who"),
            F.array(F.col("value"), F.col("value") * 2).alias("vals"),
        )
    )
    schema = "t string, who struct<u: bigint, v: double>, vals array<double>"
    parsed = ev.select(F.from_json(doc, schema).alias("j"))
    # no row-level rounding: to_json doubles round-trip exactly
    # (shortest-repr serialization), so the sums match the oracle's
    out = parsed.select(
        F.col("j.t").alias("event_type"),
        F.col("j.who.u").alias("user_id"),
        F.col("j.who.v").alias("value"),
        F.element_at("j.vals", 2).alias("double_value"),
    )
    return O.sort(
        out.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.sum("double_value"), 4).alias("sum_double"),
        ),
        ["event_type"],
    )


def q_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """North star (text preprocessing): normalization pipeline — lower,
    strip non-alphanumerics, collapse whitespace, trim — plus the
    resulting token count. Pure regexp expressions (codegen, pushdown-
    friendly); the oracle replays the same regex classes in RE2."""
    docs = load_table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    out = docs.select(
        "doc_id",
        F.substring(norm, 1, 60).alias("norm_prefix"),
        F.when(norm == "", 0)
        .otherwise(F.size(F.split(norm, " ")))
        .alias("n_tokens"),
    )
    return O.sort(out, ["doc_id"])


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """North star (corpus curation): eval-set decontamination — per test
    document (doc_id % 10 == 0), the fraction of its distinct token
    3-grams found anywhere in the train split. Gram-keyed join, linear
    in corpus size (see operators/corpus.py)."""
    docs = load_table(spark, sf, "documents")
    test = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return O.sort(CP.train_test_overlap(train, test), ["doc_id"])


def q_repetition_profile(spark: SparkSession, sf: str) -> DataFrame:
    """North star (quality signals): Gopher-style repetition profile —
    duplicate token-3-gram fraction and max n-gram multiplicity per
    document."""
    docs = load_table(spark, sf, "documents")
    return O.sort(CP.repetition_profile(docs), ["doc_id"])


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """North star (corpus curation): rule-based quality verdict — word
    count, mean word length, top-word share, with failed-rule codes and
    a keep boolean per document."""
    docs = load_table(spark, sf, "documents")
    return O.sort(CP.quality_filter(docs), ["doc_id"])


def q_vocab_build(spark: SparkSession, sf: str) -> DataFrame:
    """North star (tokenization): frequency-ranked vocabulary — top-200
    tokens with dense ids by (count DESC, token ASC). TakeOrderedAndProject
    top-k; rank assignment touches only the top rows."""
    docs = load_table(spark, sf, "documents")
    return CP.build_vocab(docs, vocab_size=200).select(
        "token_id", "word", "cnt"
    )


def q_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """North star (mixture weighting): deterministic per-language mixing
    weights via the id-modulus draw — per-language kept counts and
    rates."""
    docs = load_table(spark, sf, "documents")
    kept = CP.weighted_mix(
        docs, weights={"en": 80, "de": 60, "fr": 40, "ja": 20}, default_pct=10
    )
    out = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            kept.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.max("mix_pct").alias("mix_pct"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            "mix_pct",
        )
    )
    return O.sort(out, ["lang"])


def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """North star (sub-document duplication): asymmetric containment
    |A∩B|/|A| over char-5-shingle sets, blocked by language — catches
    quote/subset duplication that Jaccard misses. Blocked self-join on
    a doc_id % 5 == 0 slice keeps the pair count bounded."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return O.sort(
        CP.containment_pairs(docs, threshold=0.5, block_col="lang"),
        ["id_a", "id_b"],
    )


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """North star (corpus curation): PII scrubbing — emails and long
    digit runs replaced by placeholder tokens via a portable
    regexp_replace chain. The contact string is synthesized
    deterministically from customer (the tables ship no real PII), so
    the redaction is exactly replayable in the oracle."""
    c = load_table(spark, sf, "customer")
    contact = F.concat(
        F.lower(F.regexp_replace("c_name", "#", "")),
        F.lit("@example.com tel "),
        F.lpad((F.col("c_custkey") * 7919 % 10000000000).cast("string"), 10, "0"),
        F.lit(" seg "),
        F.col("c_mktsegment"),
    )
    raw = c.select("c_custkey", contact.alias("contact"))
    return O.sort(
        raw.select(
            "c_custkey",
            CP.redact_pii(raw["contact"]).alias("redacted"),
        ),
        ["c_custkey"],
    )


def q_merge_versioned(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-gap analog (round 4): MERGE INTO in one commit — matched
    keys replaced, new keys inserted, history preserved. Upserts double
    the value of every even-user row and add two synthetic users; the
    latest snapshot must show exactly the post-merge totals while v1
    still aggregates to the pre-merge totals. Deterministic → full
    DuckDB oracle."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        merge_versioned,
        read_version,
    )

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned")
        append_versioned(ev.filter(F.col("event_id") % 2 == 0), path, "half-0")
        append_versioned(ev.filter(F.col("event_id") % 2 == 1), path, "half-1")
        updates = (
            ev.filter(F.col("event_id") % 10 == 0)
            .withColumn("value", F.round(F.col("value") * 2, 6))
        )
        merge_versioned(spark, path, updates, ["event_id"], "upd-1")
        snap = lambda df: df.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).collect()[0]
        latest, v1 = snap(read_version(spark, path)), snap(read_version(spark, path, 1))
    return spark.createDataFrame(
        [
            ("latest", int(latest.n), float(latest.sum_value)),
            ("v1", int(v1.n), float(v1.sum_value)),
        ],
        "snapshot string, n_rows bigint, sum_value double",
    ).orderBy("snapshot")


def q_delete_where(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-gap analog (round 4): copy-on-write row-level DELETE with
    time travel preserved — two fortnight appends, DELETE of 'click'
    events, then BOTH reads: latest must exclude clicks, v1 must still
    contain them (the rewritten partitions didn't disturb history).
    Deterministic → full DuckDB oracle."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        delete_where,
        read_version,
    )

    ev = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned")
        append_versioned(ev.filter(F.dayofmonth("ts") <= 15), path, "fn-1")
        append_versioned(ev.filter(F.dayofmonth("ts") > 15), path, "fn-2")
        v_del = delete_where(spark, path, F.col("event_type") == "click")
        latest = read_version(spark, path).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("clicks"),
        ).collect()[0]
        v1 = read_version(spark, path, 1).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("clicks"),
        ).collect()[0]
    return spark.createDataFrame(
        [
            ("latest", int(latest.n), int(latest.clicks), v_del == 2),
            ("v1", int(v1.n), int(v1.clicks), True),
        ],
        "snapshot string, n_rows bigint, n_clicks bigint, version_ok boolean",
    ).orderBy("snapshot")


def q_vacuum(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-gap analog (round 5): VACUUM — after a COW delete, retire
    history older than the retained window: pre-delete manifests drop,
    the superseded partition directories are physically deleted, and the
    latest snapshot is byte-identical before/after. Completes the
    versioned-table lifecycle (append → delete/merge → compact →
    vacuum). Deterministic → full DuckDB oracle."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        delete_where,
        list_versions,
        read_version,
        vacuum_versioned,
    )

    ev = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned")
        append_versioned(ev.filter(F.dayofmonth("ts") <= 15), path, "fn-1")
        append_versioned(ev.filter(F.dayofmonth("ts") > 15), path, "fn-2")
        delete_where(spark, path, F.col("event_type") == "click")
        n_dropped, n_dirs = vacuum_versioned(path, retain_last=1)
        latest = read_version(spark, path).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).collect()[0]
        only_latest = [v for v, _ in list_versions(path)]
        time_travel_gone = False
        try:
            read_version(spark, path, 1)
        except ValueError:
            time_travel_gone = True
    return spark.createDataFrame(
        [
            (
                int(latest.n),
                float(latest.sum_value),
                n_dropped == 2 and n_dirs >= 1,
                only_latest == [2],
                time_travel_gone,
            )
        ],
        "n_rows bigint, sum_value double, reclaimed boolean, "
        "window_is_latest boolean, old_version_unreadable boolean",
    )


def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Lakehouse staple (round 4): additive schema evolution — an early
    batch written WITHOUT a column and a later batch WITH it are read
    back under one merged schema; the late column is NULL for early
    rows. The aggregate separates the batches so the oracle checks
    merged-read semantics, not just row survival."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_parquet_merged

    ev = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "evolving")
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id").write.parquet(
            os.path.join(path, "batch=1")
        )
        ev.filter(F.col("event_id") % 2 == 1).select("event_id", "user_id", "value").write.parquet(
            os.path.join(path, "batch=2")
        )
        back = read_parquet_merged(spark, path)
        rows = (
            back.groupBy("batch")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("long").alias("n_null_value"),
                F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias("sum_value"),
            )
            .collect()
        )
    return spark.createDataFrame(
        [(int(r.batch), int(r.n_rows), int(r.n_null_value), float(r.sum_value)) for r in rows],
        "batch int, n_rows bigint, n_null_value bigint, sum_value double",
    ).orderBy("batch")


def q_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Maintenance pass (round 4; re-routed round 12 per verdict item
    3): small-file compaction via ``optimize_versioned`` — the Delta
    OPTIMIZE analog — instead of the deprecated ``compact_dir`` rename
    swap. 16 tiny files land as ONE versioned append, then a single
    manifest commit swaps in the right-sized rewrite: atomic for
    readers, object-store-capable (no renames), and time travel
    preserved (the pre-compaction version must still read back with
    the same row count). Data must survive byte-identically (count +
    value checksum against the source oracle). The file-count contract
    is the INVARIANT ``1 <= n_after <= n_before`` rather than a
    hard-coded count — driver testdata can grow between rounds, and a
    dataset crossing the 128 MB target would flip an exact-count
    oracle red with no code bug (round-4 advice)."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        optimize_versioned,
        read_version,
    )

    def _leaf_parquet_count(root: str) -> int:
        n = 0
        for dirpath, _dirs, files in os.walk(root):
            n += sum(
                1
                for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        return n

    ev = load_table(spark, sf, "events").filter(F.col("event_id") % 3 == 0)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_small")
        v0 = append_versioned(ev.repartition(16), path, "batch0")
        n_before = _leaf_parquet_count(os.path.join(path, "__job_id=batch0"))
        v1 = optimize_versioned(spark, path, target_mb=128)
        n_after = _leaf_parquet_count(os.path.join(path, f"__job_id=optimize.o{v1}"))
        back = read_version(spark, path, v1)
        row = back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).collect()[0]
        # time travel survives compaction: the pre-OPTIMIZE version
        # still resolves to the original 16-file directory
        history_ok = read_version(spark, path, v0).count() == row.n_rows
    return spark.createDataFrame(
        [
            (
                n_before >= 16,
                1 <= n_after <= n_before,
                bool(history_ok),
                int(row.n_rows),
                float(row.sum_value),
            )
        ],
        "many_files_before boolean, compacted boolean, history_preserved boolean,"
        " n_rows bigint, sum_value double",
    )


def q_sample_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 4): exact-k-per-group corpus balancing — rank
    docs inside each language by a salted portable hash, keep the 20
    smallest. The oracle replays the md5 draw and the (hash, id) rank,
    so the hash match proves EXACT sample membership, not just counts."""
    docs = load_table(spark, sf, "documents")
    picked = CP.sample_per_group(docs, group_col="lang", id_col="doc_id", k=20, salt="v1")
    return O.sort(picked.select("lang", "doc_id"), ["lang", "doc_id"])


def q_dq_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse-gate staple (round 4): single-pass column profiler
    (ANALYZE analog) — row/null/distinct counts plus min/max per column
    in ONE aggregate over the scan. Profiled columns are ints, strings
    and dates only, so the string rendering of min/max is byte-identical
    across engines; exact ndv for the oracle comparison (approx HLL is
    the 100 TB default)."""
    li = load_table(spark, sf, "lineitem")
    return DQ.profile(
        li,
        cols=["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate"],
        exact_ndv=True,
    )


def q_dq_validate(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse-gate staple: Deequ-style constraint report over
    lineitem — completeness, uniqueness, bounds, accepted values — as a
    long-format verdict table. Mixed outcomes by design: the synthetic
    (l_orderkey, l_linenumber) key has duplicates and l_discount
    exceeds the 0.08 ceiling."""
    li = load_table(spark, sf, "lineitem")
    report = DQ.validate(
        li,
        [
            DQ.not_null("l_orderkey"),
            DQ.unique("l_orderkey", "l_linenumber"),
            DQ.min_value("l_quantity", 1.0),
            DQ.max_value("l_discount", 0.08),
            DQ.accepted_values("l_returnflag", "A", "N", "R"),
        ],
    )
    return O.sort(report, ["constraint"])


def q_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable staple: time-weighted average per user over irregular
    events — each value weighted by the micros until the next
    observation (exact integer interval arithmetic)."""
    ev = load_table(spark, sf, "events")
    return O.sort(TS.time_weighted_avg(ev), ["user_id"])


def q_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Downsampling staple: hourly OHLC bars per user — open/close via
    lexicographic struct MIN/MAX (one hash aggregate, no window)."""
    ev = load_table(spark, sf, "events")
    return O.sort(TS.ohlc(ev, bucket="hour"), ["user_id", "bucket_ts"])


def q_entity_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution: a deterministically corrupted customer slice
    (custkey % 17 == 0, 'Customer' → 'Custommer') matched back to the
    clean dimension by blocking on the name's last 4 digits +
    in-block Levenshtein ≤ 1 — the linear blocked shape, never
    O(n²)."""
    c = load_table(spark, sf, "customer")
    dirty = c.filter(F.col("c_custkey") % 17 == 0).select(
        "c_custkey",
        F.regexp_replace("c_name", "Customer", "Custommer").alias("c_name"),
    )
    clean = c.select("c_custkey", "c_name")
    matches = EN.blocked_fuzzy_matches(
        dirty,
        clean,
        name_col="c_name",
        block_expr=F.expr("right(c_name, 4)"),
        max_edit_distance=1,
        id_col="c_custkey",
    )
    return O.sort(
        matches.select("dirty_id", "clean_id", "dirty_name", "clean_name", "edit_distance"),
        ["dirty_id", "clean_id"],
    )


def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Data-layout op: Z-order (Morton) clustering key over
    (custkey % 256, order day % 256) with per-target-file stats — the
    OPTIMIZE ZORDER BY shape that buys multi-column data skipping.
    Pure integer bit arithmetic, replayed exactly in the oracle."""
    o = load_table(spark, sf, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(256))
    y = F.pmod(
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01"))), F.lit(256)
    )
    laid = LO.zorder_layout(o.select("o_orderkey", x.alias("zx"), y.alias("zy")),
                            F.col("zx"), F.col("zy"), bits=8, file_bits=6)
    out = laid.groupBy("zfile").agg(
        F.count(F.lit(1)).cast("int").alias("n_rows"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"),
    )
    return O.sort(out, ["zfile"])


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Event-analytics staple: daily cohort retention — users bucketed
    by first-event day, distinct actives per (cohort day, day offset).
    One first-touch aggregate + one distinct count; no fact self-join."""
    ev = load_table(spark, sf, "events")
    return O.sort(
        TS.cohort_retention(ev, grain="day", max_offset=30),
        ["cohort_bucket", "bucket_offset"],
    )


def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """North star (iterative algorithm): 3-iteration PageRank over the
    bipartite customer↔supplier trade graph (edges from orders⋈lineitem,
    both directions). Deterministic fixed-point dataflow; the oracle
    replays the iterations as chained CTEs."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = GR.pagerank(edges, iterations=3, damping=0.85)
    return O.sort(pr.select("node", F.round("pr", 6).alias("pr")), ["node"])


def q_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust anomaly counts per user via the MAD rule (3σ-equivalent on
    the median absolute deviation) — exact interpolated medians, fully
    deterministic verdicts."""
    ev = load_table(spark, sf, "events")
    return O.sort(TS.mad_anomalies(ev), ["user_id"])


def q_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse-pipeline staple: CDC changelog compaction — a
    deterministic I/U/D op log over customer applied in one window pass
    (highest sequence per key wins, winning deletes drop the key).
    Derived log: seq1 inserts all, seq2 updates custkey%13, seq3
    deletes custkey%29."""
    c = load_table(spark, sf, "customer")
    ins = c.select(
        "c_custkey", "c_name", F.round("c_acctbal", 6).alias("bal"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    upd = (
        c.filter(F.col("c_custkey") % 13 == 0)
        .select(
            "c_custkey", "c_name", F.round(F.col("c_acctbal") + 100.0, 6).alias("bal"),
            F.lit("U").alias("op"), F.lit(2).alias("seq"),
        )
    )
    dels = (
        c.filter(F.col("c_custkey") % 29 == 0)
        .select(
            "c_custkey", "c_name", F.lit(0.0).alias("bal"),
            F.lit("D").alias("op"), F.lit(3).alias("seq"),
        )
    )
    ops = ins.unionByName(upd).unionByName(dels)
    return O.sort(O.cdc_apply(ops, ["c_custkey"], "seq"), ["c_custkey"])


def q_stream_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """E31c: streaming OHLC bars — struct MIN/MAX open/close inside a
    watermarked daily tumbling window; associative merge across
    micro-batches makes the streamed bar equal the batch aggregate
    (oracle: windowed row_number twin over the same events)."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    bars = ST.ohlc_window_agg(
        ST.with_watermark(stream, "ts", "1 hour"), "ts", "1 day", keys=("user_id",)
    )
    return O.sort(
        ST.run_to_memory_sink(bars, "q_stream_ohlc_sink"),
        ["user_id", "window_start"],
    )


def q_multimodal_audio_decode(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL decode): RIFF/WAVE payloads parsed
    with stdlib `wave` inside Arrow-batched mapInPandas — n_samples,
    sample rate, RMS, peak per clip. The fixture samples follow a
    closed-form integer formula, so the oracle recomputes the expected
    statistics from first principles in SQL: a hash match proves the
    encode→decode round-trip, not just the plumbing."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as M

    media = M.make_wav_media(spark, 48)
    return O.sort(M.decode_audio_features(media), ["media_id"])


def q_multimodal_image_decode(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL decode): 24-bit BMP payloads parsed
    from the raw header + padded bottom-up pixel rows (numpy) —
    dimensions and per-channel means per image, oracle-checked against
    the closed-form pixel formula."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as M

    media = M.make_bmp_media(spark, 48)
    return O.sort(M.decode_image_features(media), ["media_id"])


def q_multimodal_resize_real(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL transform): 2× box downsample of real
    BMP payloads — decode, exact integer block means, re-encode as BMP,
    decode AGAIN for the verdict stats. The oracle recomputes the
    floor-mean blocks from the closed-form pixel formula, so the hash
    match proves the full decode→resize→encode→decode chain."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as M

    media = M.make_bmp_media(spark, 48)
    small = M.resize_bmp_images(media, factor=2)
    feats = M.decode_image_features(small)
    return O.sort(
        feats.join(
            small.select("media_id", F.length("payload").alias("n_bytes")), "media_id"
        ),
        ["media_id"],
    )


def q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """E30e: measured recall@10 of the hyperplane-LSH probe against the
    brute-force top-10 — the metric that decides planes/probe settings
    before deploying an ANN index. Both sides are deterministic
    (seeded literals), so the recall itself is oracle-checkable."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    # 2 of the 4 seeded planes: a coarser probe (1/4 of the corpus) so
    # the measured recall is non-trivial on the random driver vectors
    planes = np.random.RandomState(42).randn(4, 64)[:2].tolist()
    brute = V.cosine_topk(em, [1.0] * 64, k=10).select("vec_id")
    approx = V.lsh_cosine_topk(em, [1.0] * 64, planes, k=10).select("vec_id")
    return brute.join(approx, "vec_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_common"),
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall_at_10"),
    )


def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """North star (quality scoring): per-document mean unigram
    log-probability under the corpus's own word distribution — the
    cheap LM-perplexity stand-in for fluency filtering. Vocabulary-
    sized count table joined back onto the exploded corpus."""
    docs = load_table(spark, sf, "documents")
    return O.sort(CP.unigram_logprob(docs), ["doc_id"])


def q_udf_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """E26: Arrow-batched scalar pandas UDF (revenue); oracle is the
    equivalent SQL expression — verifies the UDF matches codegen math."""
    li = load_table(spark, sf, "lineitem")
    return O.sort(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(U.revenue_pandas_udf()("l_extendedprice", "l_discount"), 6).alias("revenue"),
        ),
        ["l_orderkey", "l_linenumber"],
    )


def q_udaf_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """E27: grouped-agg pandas UDF (weighted average of price by quantity)."""
    li = load_table(spark, sf, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.round(U.weighted_avg_udaf()(F.col("l_extendedprice"), F.col("l_quantity")), 6).alias("wavg_price")
    )
    return O.sort(out, ["l_returnflag"])


# --------------------------------------------------------------------------
# Text analysis / dedup / similarity (E28-E30 + north star)
# --------------------------------------------------------------------------


def q_udtf_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """E26 (UDTF): lateral table-function expansion — tokens with
    position and length for short documents."""
    U.register_tokenize_udtf(spark)
    docs = load_table(spark, sf, "documents")
    docs.filter(F.col("n_chars") < 120).createOrReplaceTempView("short_docs")
    out = spark.sql(
        """
        SELECT d.doc_id, t.word, t.pos, t.word_len
        FROM short_docs d, LATERAL tokenize_words(d.text) t
        """
    )
    return O.sort(out, ["doc_id", "pos"])


def q_text_wordcount(spark: SparkSession, sf: str) -> DataFrame:
    """E28: corpus word count (tokenize → explode → groupBy)."""
    docs = load_table(spark, sf, "documents")
    return O.sort(TX.word_count(docs), ["word"])


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """North star: heuristic quality scoring per document."""
    docs = load_table(spark, sf, "documents")
    return O.sort(
        TX.quality_score(docs).select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "alpha_ratio"),
        ["doc_id"],
    )


def q_text_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """North star: whitespace + BPE-ish token counting."""
    docs = load_table(spark, sf, "documents")
    return O.sort(
        docs.select(
            "doc_id",
            TX.token_count("text").alias("ws_tokens"),
            TX.token_count("text", bpe_like=True).alias("bpe_tokens"),
        ),
        ["doc_id"],
    )


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """North star: 64-bit document fingerprint for exact-dup detection.
    Oracle-checked SEMANTICALLY (round 4, was rows-only): fingerprint
    groups must equal exact-content groups — the DuckDB twin groups by
    the text itself, so a hash match proves the fingerprint partitions
    the corpus exactly like full-text equality (the operator's whole
    contract), without the oracle needing xxhash64. The 2⁻⁶⁴-collision
    caveat is the operator's own correctness assumption."""
    docs = load_table(spark, sf, "documents")
    fp = docs.select("doc_id", TX.fingerprint("text").alias("fp"))
    dups = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    return O.sort(dups.filter(F.col("n_docs") >= 1).select("first_doc", "n_docs"), ["first_doc"])


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """North star: heuristic language ID vs the labeled lang column.
    Oracle-checked: the DuckDB twin replays the marker-fraction argmax
    (tie-break = max (score, lang), matching array_max struct order)."""
    docs = load_table(spark, sf, "documents")
    out = TX.language_id(docs)
    return O.sort(
        out.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n_docs")),
        ["lang", "lang_pred"],
    )


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """E29: MinHash-LSH near-dup with exact-Jaccard verification of the
    candidates (the production dedup shape: LSH prunes, exact verify
    decides). Deterministic output — oracle is the all-pairs exact
    char-5-shingle Jaccard ≥ 0.8 in DuckDB; LSH recall loss is bounded
    at ~2e-6 per true pair (see ``minhash_verified_pairs``)."""
    docs = load_table(spark, sf, "documents")
    return O.sort(TX.minhash_verified_pairs(docs, threshold=0.8), ["id_a", "id_b"])


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """North star: exact n-gram Jaccard dedup via inverted-index join."""
    docs = load_table(spark, sf, "documents")
    return O.sort(TX.jaccard_ngram_pairs(docs, n=3, threshold=0.8), ["id_a", "id_b"])


def q_text_pack(spark: SparkSession, sf: str) -> DataFrame:
    """North star: token-budgeted document packing (training-batch
    construction) — running-sum window over token counts, SHARDED so no
    single task ever sorts the corpus (packs are unique per
    (shard, pack_id)). The shard column is ``doc_id % 8`` here so the
    DuckDB oracle can reproduce it; at 100 TB use
    ``pmod(xxhash64(id), n_shards)`` for skew safety."""
    docs = load_table(spark, sf, "documents")
    packed = TX.pack_documents(
        docs, token_budget=2000, shard_col=F.pmod(F.col("doc_id"), F.lit(8))
    )
    return O.sort(
        packed.select("doc_id", "n_tokens", "shard", "pack_id"),
        ["doc_id"],
    )


def q_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """E-merge: upsert semantics (anti-join + union) — customer balances
    overridden by a derived updates set."""
    c = load_table(spark, sf, "customer")
    updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 1000.0, 6)
    )
    merged = O.upsert(c, updates, ["c_custkey"])
    return O.sort(
        merged.select("c_custkey", F.round("c_acctbal", 6).alias("acctbal")),
        ["c_custkey"],
    )


def q_scd2_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse-pipeline staple: SCD Type-2 dimension merge — changed
    current rows close out at the effective timestamp, new versions
    open; no-op updates (the %11 slice) produce no new version. Pure
    join+union formulation (`sorts.scd2_apply`), oracle replays it in
    SQL with IS DISTINCT FROM change detection."""
    c = load_table(spark, sf, "customer")
    dim = c.select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 6).alias("c_acctbal"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_name", F.round(F.col("c_acctbal") + 500.0, 6).alias("c_acctbal"))
        .unionByName(
            c.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0))
            .select("c_custkey", "c_name", F.round("c_acctbal", 6).alias("c_acctbal"))
        )
    )
    out = O.scd2_apply(
        dim, updates, ["c_custkey"], ["c_name", "c_acctbal"], "2024-01-01 00:00:00"
    )
    return O.sort(out, ["c_custkey", "valid_from", "is_current"])


def q_dedup_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """North star: staged dedup pipeline — exact fingerprint dedup, then
    MinHash-LSH + exact-Jaccard verify on unique texts, one-step group
    assignment. Scales with unique content, not corpus size (measured
    20× at 10× duplication). The whole output is deterministic, so the
    DuckDB oracle replays the full pipeline (group-by-text reps → exact
    pair jaccard ≥ 0.8 → min-neighbor groups → copy-weighted group
    sizes)."""
    docs = load_table(spark, sf, "documents")
    groups = TX.near_duplicate_groups(docs, jaccard_threshold=0.8)
    out = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return O.sort(out.filter(F.col("n_docs") >= 2), ["group_id"])


def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """North star: dedup keeping the preferred copy per group — here the
    longest (then lowest-id) document per (lang, source) group."""
    docs = load_table(spark, sf, "documents")
    out = TX.dedup_keep_best(
        docs,
        ["lang", "source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return O.sort(out.select("lang", "source", "doc_id", "n_chars"), ["lang", "source"])


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """North star: seeded stratified sampling per language — training-mix
    rebalancing. The draw is engine-specific, but the STATISTICS are
    checkable: per-stratum sampled count must sit within a 6σ binomial
    band around f·N (plus a +2 slack for tiny strata). Output carries
    the exact stratum totals plus the verdict; the oracle emits TRUE."""
    docs = load_table(spark, sf, "documents")
    fractions = {"en": 0.5, "es": 0.2, "fr": 0.2, "de": 0.2, "zh": 0.1}
    sampled = docs.sampleBy("lang", fractions, seed=42)
    counts = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    totals = (
        docs.filter(F.col("lang").isin(list(fractions)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    frac = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    f_col = frac[F.col("lang")]
    j = totals.join(counts, "lang", "left").withColumn(
        "n_sampled", F.coalesce("n_sampled", F.lit(0))
    )
    bound = F.lit(6.0) * F.sqrt(f_col * (1 - f_col) * F.col("n_total")) + F.lit(2.0)
    out = j.select(
        "lang",
        "n_total",
        (F.abs(F.col("n_sampled") - f_col * F.col("n_total")) <= bound).alias("sample_ok"),
    )
    return O.sort(out, ["lang"])


def q_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """E30: brute-force cosine top-k against a fixed query vector."""
    em = load_table(spark, sf, "embeddings")
    query = [1.0] * 64
    return V.cosine_topk(em, query, k=20)


def q_similarity_pairwise(spark: SparkSession, sf: str) -> DataFrame:
    """E30b: per-query top-k via broadcast crossJoin + window (ANN
    baseline for a batch of queries)."""
    em = load_table(spark, sf, "embeddings")
    queries = em.filter(F.col("vec_id") < 3)
    return O.sort(V.pairwise_cosine_topk(em, queries, k=5), ["query_id", "cosine", "vec_id"])


def q_agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    """E13b: CUBE grouping sets over (returnflag, linestatus)."""
    li = load_table(spark, sf, "lineitem")
    out = agg.cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {"n_items": F.count(F.lit(1)), "sum_qty": F.round(F.sum("l_quantity"), 4)},
    )
    return O.sort(out, [F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()])


def q_agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """E13c: pivot (long→wide) — order counts per priority, one column
    per status. Explicit pivot values (no discovery scan)."""
    o = load_table(spark, sf, "orders")
    out = agg.pivot_agg(o, ["o_orderpriority"], "o_orderstatus", ["F", "O", "P"], F.count(F.lit(1)))
    out = out.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )
    return O.sort(out, ["o_orderpriority"])


def q_agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    """E10b: statistical aggregates (stddev/variance, sample)."""
    li = load_table(spark, sf, "lineitem")
    return O.sort(agg.stats_agg(li, ["l_returnflag"], "l_extendedprice"), ["l_returnflag"])


def q_agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """E10c: exact percentiles with linear interpolation."""
    o = load_table(spark, sf, "orders")
    return O.sort(
        agg.percentile_agg(o, ["o_orderstatus"], "o_totalprice", (0.25, 0.5, 0.9)),
        ["o_orderstatus"],
    )


def q_agg_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """E12b: sketch-based approximate percentiles (KLL-style
    ``approx_percentile``), oracle-checked via a tolerance verdict
    against the exact interpolated median (``percentile`` in Spark ≡
    ``quantile_cont`` in DuckDB): relative error ≤ 5% with accuracy
    10000 (rank error ≤ n/10000 rows). The 100 TB path for quantiles."""
    o = load_table(spark, sf, "orders")
    agged = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("__exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("__approx"),
    )
    out = agged.select(
        "o_orderstatus",
        F.round("__exact", 6).alias("exact_p50"),
        (
            F.abs(F.col("__approx") - F.col("__exact")) / F.abs(F.col("__exact"))
            <= F.lit(0.05)
        ).alias("approx_ok"),
    )
    return O.sort(out, ["o_orderstatus"])


def q_window_tumbling_batch(spark: SparkSession, sf: str) -> DataFrame:
    """E31 (batch form): tumbling event-time windows via F.window —
    oracle-checkable against DuckDB time_bucket."""
    from nyc_tlc_trip_data_pipelines_spark.streaming import tumbling_window_agg

    ev = load_table(spark, sf, "events")
    out = tumbling_window_agg(ev, "ts", "6 hours")
    return O.sort(out, ["window_start"])


# --------------------------------------------------------------------------
# SQL surface: classic TPC-H-shaped queries via spark.sql over the
# registered catalog views (adapted to the driver tables' columns). The
# engine's SQL front-end is Spark SQL itself; these prove the views +
# session semantics compose (R18 CTEs, joins, aggregation in pure SQL).
# --------------------------------------------------------------------------


def _register(spark: SparkSession, sf: str) -> None:
    from nyc_tlc_trip_data_pipelines_spark.catalog import register_views

    register_views(spark, sf)


def q_sql_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — completes the full 22-query
    TPC-H surface. Adapted determinism: quantities/prices/discounts/
    taxes are 2-dp fixed-point in the fixture, so every SUM reduces
    EXACT integers (cents; disc_price at 1e4, charge at 1e6 scale) —
    the float-sum partition-order caveat the ROUND(…, 4) queries
    accept never arises. The per-row integer products SUM as
    DECIMAL(38,0) (128-bit in both engines: Spark decimal aggregation,
    DuckDB HUGEINT-backed decimal), because a bare SUM(BIGINT) of
    ~4e10-per-row charge micro-units would overflow 2^63 around
    3e8 rows per group — Spark wraps silently with ANSI off while
    DuckDB promotes, so the exactness contract would break precisely
    at scale. One hash aggregate, 6 groups."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / 100 AS sum_qty,
               CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / 100 AS sum_base_price,
               CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DECIMAL(38, 0))) AS DOUBLE) / 10000 AS sum_disc_price,
               CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                   * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DECIMAL(38, 0))) AS DOUBLE) / 1000000 AS sum_charge,
               ROUND(CAST(SUM(CAST(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_price,
               ROUND(CAST(SUM(CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


def q_sql_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority), adapted: top-10 unshipped
    orders by revenue for one market segment."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT l_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               CAST(o_orderdate AS DATE) AS orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


def q_sql_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume), adapted: revenue per
    nation for orders in one year, grouped by supplier nation (co-nationality
    dropped: the 10-supplier driver table makes it empty)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        """
    )


def q_sql_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — scan-heavy single-table
    filter + aggregate; the pushdown showcase."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


def q_sql_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / priority classes), adapted to
    the available columns: per linestatus, urgent vs non-urgent order
    counts with a late-shipment filter — CASE-in-aggregate in pure SQL."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT l_linestatus,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 90 DAYS
        GROUP BY l_linestatus
        ORDER BY l_linestatus
        """
    )


# --------------------------------------------------------------------------
# Streaming (E31-E35): events replayed as a file stream, availableNow →
# memory sink. No SQL oracle (DuckDB has no streams); the driver records
# rows-only, and batch-stream equivalence is asserted in tests/.
# --------------------------------------------------------------------------


def _replay_events(spark: SparkSession, sf: str, parts: int = 4):
    from nyc_tlc_trip_data_pipelines_spark.streaming import read_file_stream

    ev = load_table(spark, sf, "events")
    d = scratch_dir("events_replay_")
    path = os.path.join(d, "events")
    ev.repartition(parts).write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    return read_file_stream(spark, path, static.schema, max_files_per_trigger=2)


def q_stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    aggd = ST.tumbling_window_agg(
        ST.with_watermark(stream, "ts", "1 hour"), "ts", "6 hours", value_agg="sum"
    )
    return O.sort(ST.run_to_memory_sink(aggd, "q_stream_tumbling_sink"), ["window_start"])


def q_stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    aggd = ST.sliding_window_agg(
        ST.with_watermark(stream, "ts", "1 hour"), "ts", "6 hours", "2 hours", value_agg="sum"
    )
    return O.sort(ST.run_to_memory_sink(aggd, "q_stream_sliding_sink"), ["window_start", "window_end"])


def q_stream_session(spark: SparkSession, sf: str) -> DataFrame:
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    aggd = ST.session_window_agg(ST.with_watermark(stream, "ts", "1 hour"), "ts", "2 hours")
    return O.sort(ST.run_to_memory_sink(aggd, "q_stream_session_sink"), ["user_id", "session_start"])


def q_stream_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """E34: watermarked append-mode windows — only windows the watermark
    has passed are emitted (late-data drop semantics). availableNow runs
    a final flush batch after the last data batch, so the emitted set is
    exactly the windows with ``window_end <= max(ts) - delay`` — which
    is what the oracle computes (verified stable across replays)."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    aggd = ST.tumbling_window_agg(
        ST.with_watermark(stream, "ts", "30 minutes"), "ts", "6 hours", value_agg="sum"
    )
    out = ST.run_to_memory_sink(aggd, "q_stream_watermark_sink", output_mode="append")
    return O.sort(out, ["window_start"])


def q_stream_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """E35 (full form): custom stateful operator (applyInPandasWithState
    running totals); final per-key update == batch aggregate."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    updates = ST.stateful_running_totals(stream, "user_id", "value")
    out = ST.run_to_memory_sink(updates, "q_stream_stateful_sink", output_mode="update")
    # last update per key = final running totals == the batch aggregate,
    # which is exactly what the oracle computes (6dp-rounded sum)
    final = W.top_n_per_group(out, ["key"], [F.col("n_events").desc()], n=1)
    return O.sort(
        final.select("key", "n_events", F.round("sum_value", 6).alias("sum_value")),
        ["key"],
    )


def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    dd = ST.stream_dedup(stream.select("user_id", "event_type", "ts"), ["user_id", "event_type"], ts_col="ts")
    out = ST.run_to_memory_sink(dd, "q_stream_dedup_sink", output_mode="append")
    return O.sort(out.select("user_id", "event_type").distinct(), ["user_id", "event_type"])


# --------------------------------------------------------------------------
# Remaining north-star surface: simhash dedup, ANN, embedding near-dup,
# multimodal plumbing
# --------------------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """North star: SimHash near-dup buckets — docs sharing an identical
    simhash (hamming 0). Fully oracle-checked (round 4, was rows-only):
    the contract query runs the PORTABLE 60-bit hash (first 15 md5 hex
    chars — bit-identical in any engine), so the DuckDB twin replays the
    ENTIRE computation: tokenize → hash → per-bit sign votes → packed
    signature → bucket groups."""
    docs = load_table(spark, sf, "documents")
    sigs = TX.simhash_signatures(docs)
    groups = sigs.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc")
    )
    return O.sort(groups.filter(F.col("n_docs") >= 2).select("first_doc", "n_docs"), ["first_doc"])


def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """E30c: hyperplane-LSH approximate top-k (rows-only; probabilistic
    recall, deterministic given the fixed seed)."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    planes = np.random.RandomState(42).randn(4, 64).tolist()
    return V.lsh_cosine_topk(em, [1.0] * 64, planes, k=10)


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """E30d: IVF-flat approximate top-k with fixed seeded centroids."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    centroids = np.random.RandomState(7).randn(8, 64).tolist()
    return V.ivf_topk(em, [1.0] * 64, centroids, n_probe=3, k=10)


def q_ann_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """E30f (round 5): MATERIALIZED ANN index — the corpus written once
    partitioned by LSH bucket (``vectors.write_lsh_index``), then probed
    via partition pruning (``lsh_probe_index``: the bucket equality is a
    PartitionFilter, so only the matching directory is listed/read —
    the 100 TB serving layout, vs the in-memory probe of q_ann_lsh which
    filters a full scan). Same seeded planes as q_ann_lsh → same oracle
    replay; equality with the in-memory result is asserted by
    tests/test_text_vectors.py."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    planes = np.random.RandomState(42).randn(4, 64).tolist()
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "lsh_index")
        V.write_lsh_index(em, path, planes)
        out = V.lsh_probe_index(spark, path, [1.0] * 64, planes, k=10).collect()
    return spark.createDataFrame(
        [(int(r.vec_id), float(r.cosine)) for r in out], "vec_id bigint, cosine double"
    )


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """North star: embedding-cosine near-dup via LSH bucketing (bucket
    join, then exact cosine within buckets — never O(n²)). The driver
    corpus is random vectors with no true near-dups (max pairwise cosine
    ≈0.51), so this returns the top-50 most-similar bucketed pairs —
    same plan shape a real dedup (cosine ≥ 0.95 filter) would run."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    planes = np.random.RandomState(11).randn(6, 64).tolist()
    bucketed = em.select(
        "vec_id", "embedding", V.random_hyperplane_buckets("embedding", planes).alias("bucket")
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b, on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.vec_id") < F.col("b.vec_id")]
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.round(S.cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cosine"),
    )
    return O.top_k(pairs, [F.col("cosine").desc(), F.col("id_a"), F.col("id_b")], 50)


def q_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    """North star (iterative algorithm): connected components over the
    VERIFIED near-dup pair graph — component sizes. The pair set is
    exact (LSH + exact-Jaccard verify), so the min-label components are
    deterministic and the oracle replays them with a recursive CTE
    (DuckDB WITH RECURSIVE reachability + MIN per node)."""
    from nyc_tlc_trip_data_pipelines_spark.operators.graph import connected_components

    docs = load_table(spark, sf, "documents")
    pairs = TX.minhash_verified_pairs(docs, threshold=0.8)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    out = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_docs"))
    return O.sort(out, ["component"])


def q_csv_corrupt_isolation(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level bad-record isolation (round 5): PERMISSIVE CSV parsing
    with ``columnNameOfCorruptRecord`` — the ROW-granularity complement
    to the reference's per-FILE error isolation (R23). A deterministic
    fixture of 200 lines (every 7th malformed: EXCESS tokens — the
    unambiguous corrupt class in Spark's univocity parser, which fills
    under-length rows and failed casts with NULLs instead of marking
    them) is read under an explicit schema; malformed rows land in the
    corrupt column, good rows parse typed. Counts and the good-row
    checksum are closed-form, so the
    oracle recomputes them from first principles. At 100 TB this is
    the quarantine split that keeps one bad row from failing a
    backfill — same pattern as streaming.quarantine_sink, batch form."""
    n = 200
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "rows.csv")
        with open(path, "w") as fh:
            for i in range(n):
                if i % 7 == 0:
                    fh.write(f"{i},x,y,z,extra\n")
                else:
                    fh.write(f"{i},{i * 3},{i * 1.5}\n")
        schema = (
            "id INT, triple INT, score DOUBLE, _corrupt_record STRING"
        )
        df = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(path)
        )
        row = df.agg(
            F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_good"),
            F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_corrupt"),
            F.round(
                F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("score"))), 4
            ).alias("good_score_sum"),
        ).collect()[0]
    return spark.createDataFrame(
        [(int(row.n_good), int(row.n_corrupt), float(row.good_score_sum))],
        "n_good bigint, n_corrupt bigint, good_score_sum double",
    )


def q_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (round 5, Spark 4.1 surface — WITH RECURSIVE):
    hierarchy walk over a customer-derived binary tree (node n's parent
    is floor(n/2)), computing each reachable node's depth from the root
    and per-depth counts/checksums. The recursion is plain SQL that
    DuckDB runs verbatim — engine-for-engine twin, no reformulation.
    At scale prefer the iterative-DataFrame form (graph.py connected
    components) for unbounded depth; recursive CTEs shine for
    bounded-depth hierarchy resolution (org charts, category trees)."""
    c = load_table(spark, sf, "customer")
    c.select((F.col("c_custkey") % 127 + 1).cast("long").alias("n")).distinct() \
        .createOrReplaceTempView("tree_nodes")
    return spark.sql(
        """
        WITH RECURSIVE walk(n, depth) AS (
            SELECT n, 0 FROM tree_nodes WHERE n = 1
            UNION ALL
            SELECT t.n, w.depth + 1
            FROM tree_nodes t JOIN walk w
              ON CAST(FLOOR(t.n / 2.0) AS BIGINT) = w.n
            WHERE t.n > 1
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               CAST(SUM(n) AS BIGINT) AS id_checksum
        FROM walk GROUP BY depth ORDER BY depth
        """
    )


def q_variant_json(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured VARIANT type (round 5, Spark 4 surface): orders
    rendered to JSON, parsed into VARIANT (``parse_json``), then typed
    path extraction (``try_variant_get`` — scalar, nested object,
    array index) drives a filter + aggregate. The oracle computes the
    same values straight from the source columns, so any extraction
    bug (path, type, nesting) shifts the result. VARIANT is the
    lakehouse answer to schemaless columns: binary-encoded, columnar-
    shredded, no per-query JSON re-parse."""
    o = load_table(spark, sf, "orders")
    j = o.select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.struct(F.col("o_totalprice").alias("price")).alias("nested"),
                F.array("o_custkey", "o_orderkey").alias("arr"),
            )
        ).alias("j")
    )
    v = j.select(F.parse_json("j").alias("v"))
    ext = v.select(
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.nested.price", "double").alias("price"),
        F.try_variant_get("v", "$.arr[0]", "long").alias("custkey"),
    )
    return (
        ext.filter(F.col("price") > 100000.0)
        .groupBy((F.col("custkey") % 10).alias("custkey_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price"), 4).alias("sum_price"),
            F.min("k").alias("min_orderkey"),
        )
        .orderBy("custkey_mod")
    )


def q_geo_binning(spark: SparkSession, sf: str) -> DataFrame:
    """Geo staple (round 5, the reference's own domain — trip data):
    geohash spatial binning as a PURE codegen expression (quantize →
    MSB-first Morton interleave → base32 chunks; verified against the
    canonical (57.64911, 10.40744) → u4pruydqq vector). Synthetic
    lat/lon derived closed-form from events ids; groupBy(geohash) is
    the spatial clustering every trip-data rollup starts with. The
    oracle replays the full bit arithmetic via layout.geohash_sql_parts
    — both sides generated from the same module."""
    ev = load_table(spark, sf, "events")
    pts = ev.select(
        ((F.col("user_id") % 180) - 90 + 0.25).cast("double").alias("lat"),
        ((F.col("event_id") % 360) - 180 + 0.25).cast("double").alias("lon"),
    )
    binned = pts.select(
        LO.geohash_encode(F.col("lat"), F.col("lon"), 5).alias("geohash")
    )
    return O.sort(
        binned.groupBy("geohash").agg(F.count(F.lit(1)).alias("n_points")),
        ["geohash"],
    )


def _geo_binning_oracle() -> str:
    parts = LO.geohash_sql_parts("lat", "lon", 5)
    return f"""
        WITH pts AS (
            SELECT CAST((user_id % 180) - 90 + 0.25 AS DOUBLE) AS lat,
                   CAST((event_id % 360) - 180 + 0.25 AS DOUBLE) AS lon
            FROM events
        ),
        q AS (SELECT lat, lon, {parts["quant"]} FROM pts),
        zz AS (SELECT *, CAST({parts["z"]} AS BIGINT) AS z FROM q)
        SELECT {parts["chars"]} AS geohash, COUNT(*) AS n_points
        FROM zz GROUP BY 1 ORDER BY geohash
    """


def q_custom_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom Python DataSource (round 5, PySpark 4 DataSource API):
    the reference's driver-side S3 listing re-expressed as a Spark
    SOURCE — sharded input partitions list in parallel, the listing is
    a DataFrame. Fixture: 16 files with closed-form sizes (i*10+3
    bytes), so the oracle recomputes count/total/per-shard split from
    first principles. Proves the full plumbing: registration →
    partitions() → read() → schema'd rows."""
    from nyc_tlc_trip_data_pipelines_spark import datasource as DSRC

    DSRC.register(spark)

    with tempfile.TemporaryDirectory() as d:
        for i in range(16):
            with open(os.path.join(d, f"obj_{i:02d}.bin"), "wb") as fh:
                fh.write(b"x" * (i * 10 + 3))
        listing = (
            spark.read.format("objectstore_listing")
            .option("root", d)
            .option("shards", "4")
            .load()
        )
        rows = (
            listing.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_objects"),
                F.sum("n_bytes").alias("total_bytes"),
            )
            .collect()
        )
    return spark.createDataFrame(
        [(int(r.shard), int(r.n_objects), int(r.total_bytes)) for r in rows],
        "shard int, n_objects bigint, total_bytes bigint",
    ).orderBy("shard")


def _custom_datasource_oracle() -> str:
    """Golden-expectation twin of q_custom_datasource: the fixture is
    closed-form (16 files, i*10+3 bytes, crc32-sharded), so the oracle
    is an independent Python replay emitted as literals — same style as
    the seeded-literal ANN oracles."""
    import zlib

    agg: dict[int, tuple[int, int]] = {}
    for i in range(16):
        shard = zlib.crc32(f"obj_{i:02d}.bin".encode()) % 4
        n, t = agg.get(shard, (0, 0))
        agg[shard] = (n + 1, t + i * 10 + 3)
    values = ", ".join(f"({s}, {n}, {t})" for s, (n, t) in sorted(agg.items()))
    return f"""
        SELECT CAST(shard AS INTEGER) AS shard,
               CAST(n_objects AS BIGINT) AS n_objects,
               CAST(total_bytes AS BIGINT) AS total_bytes
        FROM (VALUES {values}) t(shard, n_objects, total_bytes)
        ORDER BY shard
    """


def q_file_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-row source-file provenance via the ``_metadata`` hidden
    column (round 5) — the modern form of the reference's per-file
    error attribution (R23, ``pasta1_etl/src/main.py:174-186``): rows
    written partitioned by month are read back with their physical
    file identity, the month is recovered FROM THE FILE PATH alone,
    and per-file row counts must reproduce the logical per-month
    counts. At 100 TB this is how a quarantine pass names the exact
    bad input file without a lineage system."""
    ev = load_table(spark, sf, "events")
    gold = R.derive_year_month(ev, "ts", "y", "m")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "by_month")
        gold.write.partitionBy("m").parquet(path)
        back = spark.read.parquet(path).select(
            F.regexp_extract(F.col("_metadata.file_path"), r"/m=(\d+)/", 1)
            .cast("int")
            .alias("m_from_path"),
        )
        rows = (
            back.groupBy("m_from_path")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
    return spark.createDataFrame(
        [(int(r.m_from_path), int(r.n_rows)) for r in rows],
        "m_from_path int, n_rows bigint",
    ).orderBy("m_from_path")


def q_dq_observe(spark: SparkSession, sf: str) -> DataFrame:
    """DQ-at-the-sink (round 5): Spark Observation API — row count,
    null count, value sum and min/max certified as a SIDE-EFFECT of
    writing the table, zero extra scans (vs re-profiling what was just
    written). The written rows are read back and counted so the oracle
    also pins write integrity."""
    from nyc_tlc_trip_data_pipelines_spark.operators import dq as DQM

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "certified")
        m = DQM.write_with_metrics(
            ev,
            path,
            {
                "n_rows": F.count(F.lit(1)),
                "n_null_value": F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)),
                "sum_value": F.round(F.sum("value"), 4),
                "min_user": F.min("user_id"),
                "max_user": F.max("user_id"),
            },
        )
        n_written = spark.read.parquet(path).count()
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_value"]),
                float(m["sum_value"]),
                int(m["min_user"]),
                int(m["max_user"]),
                n_written == m["n_rows"],
            )
        ],
        "n_rows bigint, n_null_value bigint, sum_value double, "
        "min_user bigint, max_user bigint, write_intact boolean",
    )


_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("e", "n"),
    ("a", "t"), ("e", "s"), ("o", "u"), ("i", "t"), ("i", "s"),
    ("o", "f"), ("t", "o"), ("s", "t"), ("in", "g"), ("e", "d"),
]


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer APPLICATION (round 5, pairs with q_bpe_pairs' training
    statistics): per-document token counts under a fixed 20-merge BPE
    table — encode runs once per DISTINCT vocabulary word (codegen
    replace chain), broadcast-joined back to the corpus. The oracle
    replays the identical replace chain in SQL (replace-all semantics
    match engine-for-engine, overlaps included)."""
    docs = load_table(spark, sf, "documents")
    out = TX.bpe_encode_token_counts(docs, _BPE_MERGES)
    return O.sort(out, ["doc_id"])


def _bpe_encode_oracle() -> str:
    """Generated twin of q_bpe_encode: same tokenize split, same
    char-join, same merge chain in rank order — emitted from the SAME
    _BPE_MERGES list the Spark query uses, so the two sides cannot
    drift."""
    expr = "ARRAY_TO_STRING(STRING_SPLIT(w, ''), ' ')"
    for a, b in _BPE_MERGES:
        expr = f"REPLACE({expr}, '{a} {b}', '{a}{b}')"
    return f"""
        WITH w AS (
            SELECT doc_id,
                   UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents
        )
        SELECT doc_id,
               COUNT(*) AS n_words,
               CAST(SUM(LEN(STRING_SPLIT({expr}, ' '))) AS BIGINT) AS n_tokens
        FROM w GROUP BY doc_id ORDER BY doc_id
    """


def q_table_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-gap analog (round 5): Change Data Feed — row-level diffs
    between versions of a versioned table. v0=first fortnight,
    v1=+second fortnight, v2=DELETE clicks; changes(0→1) must be
    exactly the second-fortnight inserts, changes(1→2) exactly the
    deleted click rows. Deterministic → full DuckDB oracle over the
    same event filters."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        delete_where,
        table_changes,
    )

    ev = load_table(spark, sf, "events")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned")
        append_versioned(ev.filter(F.dayofmonth("ts") <= 15), path, "fn-1")
        append_versioned(ev.filter(F.dayofmonth("ts") > 15), path, "fn-2")
        delete_where(spark, path, F.col("event_type") == "click")
        snap = lambda df: df.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).collect()
        c01 = snap(table_changes(spark, path, 0, 1))
        c12 = snap(table_changes(spark, path, 1, 2))
    rows = [("0to1", r["_change_type"], int(r.n), float(r.sum_value)) for r in c01]
    rows += [("1to2", r["_change_type"], int(r.n), float(r.sum_value)) for r in c12]
    return spark.createDataFrame(
        rows, "diff string, change_type string, n bigint, sum_value double"
    ).orderBy("diff", "change_type")


def q_zonemap_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Data-skipping staple (round 5): zone-map file pruning — events
    range-partitioned by user_id into 16 files, per-file min/max stats
    built in one scan (``layout.write_zonemap``), then a point lookup
    reads ONLY the files whose interval covers the key
    (``layout.zonemap_lookup``). Row results replay as a plain filter
    in the oracle; the file invariants are SF-robust: the index must
    cover every data file at any SF, and pruning (scanned < total) is
    asserted only when the range split actually produced ≥4 files —
    at sf0.001 the tiny events table legitimately collapses to fewer
    range files than requested (round-5 sf0.001 sweep finding; the
    strict pruning proof lives in
    tests/test_dq_layout.py::test_zonemap_prunes_files... on a
    controlled fixture)."""
    from nyc_tlc_trip_data_pipelines_spark.operators import layout as LO2

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        table = os.path.join(d, "events_clustered")
        ev.repartitionByRange(16, "user_id").write.parquet(table)
        idx = os.path.join(d, "zonemap")
        n_files = LO2.write_zonemap(spark, table, ["user_id"], idx)
        hit, n_scanned, n_total = LO2.zonemap_lookup(spark, table, idx, "user_id", 7)
        row = hit.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(row.n_rows),
                float(row.sum_value),
                n_total == n_files and n_files >= 1,
                0 < n_scanned and (n_scanned < n_total or n_total < 4),
            )
        ],
        "n_rows bigint, sum_value double, index_complete boolean, pruned boolean",
    )


def q_versioned_zone_skip(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-level data skipping on versioned tables.
    ``optimize_versioned(cluster_by=...)`` records per-file min/max
    ``zones`` for the cluster columns in the manifest it commits (the
    Delta-log ``add``-action stats analog), and
    ``read_version(prune=...)`` drops files whose zone disproves a
    predicate BEFORE Spark opens a single footer — the read-path payoff
    of the Z-ORDER layout. Events appended as one versioned
    job, z-order-optimized on (user_id, value); a 3-conjunct range read
    must return exactly the plain-filter rows (full DuckDB oracle).
    The file-skipping booleans follow the q_zonemap_prune SF-robust
    convention: ``pruned`` is asserted strictly only when the rewrite
    produced >=4 files (tiny SFs legitimately compact to fewer); the
    strict skip-count proofs live in tests/test_zorder.py on a
    controlled 1M-row fixture."""
    from nyc_tlc_trip_data_pipelines_spark.io import (
        append_versioned,
        optimize_versioned,
        read_version,
        zone_prune_stats,
    )

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    # ONE conjunct list drives both the zone skip and the row filters
    # (the predicate cannot diverge from its correctness-protecting
    # residual)
    P = [("user_id", ">=", 10), ("user_id", "<", 40), ("value", "<", 250.0)]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "versioned_z")
        append_versioned(ev.repartition(8), path, "batch0")
        optimize_versioned(spark, path, target_mb=1, cluster_by=["user_id", "value"])
        st = zone_prune_stats(path, prune=P)
        row = read_version(spark, path, prune=P).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(row.n_rows),
                float(row.sum_value),
                int(row.n_users),
                bool(st["has_zones"]),
                0 < st["files_kept"]
                and (st["files_kept"] < st["files_total"] or st["files_total"] < 4),
            )
        ],
        "n_rows bigint, sum_value double, n_users bigint, "
        "zones_recorded boolean, pruned boolean",
    )


def q_versioned_sidecar(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-stat SIDECARS. Inline manifest
    zones are measured-wrong past ~30k file entries (tools/
    zone_boundary.py: 16 MB re-uploaded AND byte-compared per commit
    at 100k files, 128 MB at a 100 TB table's 800k), so a per-job
    zone map past ``ZONE_SIDECAR_MIN_FILES`` spills to a
    content-addressed ``_manifests/zstats/<job>.<sha12>.json`` and the
    manifest carries only a tiny marker. This query forces the spill
    at fixture scale (threshold lowered to 2, restored in a finally),
    OPTIMIZEs clustered so the rewrite records a sidecar-backed zone
    map, checks the manifest holds a MARKER exactly when the packing
    rule says so, and reads through the marker with
    ``read_version(prune=...)`` — the rows must equal the plain filter
    (full DuckDB oracle). ``spill_rule_ok`` asserts marker-present ==
    (file count >= threshold) so the column is SF-robust (a tiny SF
    that compacts to one file legitimately stays inline); ``pruned``
    follows the q_zonemap_prune >=4-files convention. Strict
    spill/resolve/degrade/vacuum-sweep proofs live in
    tests/test_zorder.py."""
    import json as _json

    from nyc_tlc_trip_data_pipelines_spark import io as _io

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    P = [("user_id", ">=", 5), ("user_id", "<", 12), ("value", "<", 280.0)]
    saved = _io.ZONE_SIDECAR_MIN_FILES
    _io.ZONE_SIDECAR_MIN_FILES = 2
    try:
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "versioned_sc")
            _io.append_versioned(ev.repartition(8), path, "batch0")
            v = _io.optimize_versioned(
                spark, path, target_mb=1, cluster_by=["user_id", "value"]
            )
            with open(os.path.join(path, "_manifests", f"v{v}.json")) as fh:
                meta = _json.load(fh)
            job_dir = os.path.join(path, f"__job_id=optimize.o{v}")
            n_files = len(
                [
                    f
                    for f in os.listdir(job_dir)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                ]
            )
            z = (meta.get("zones") or {}).get(f"optimize.o{v}")
            marker = isinstance(z, dict) and isinstance(z.get("sidecar"), str)
            spill_rule_ok = marker == (n_files >= _io.ZONE_SIDECAR_MIN_FILES)
            st = _io.zone_prune_stats(path, prune=P)
            row = _io.read_version(spark, path, prune=P).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("value"), 4).alias("sum_value"),
                F.countDistinct("user_id").alias("n_users"),
            ).collect()[0]
    finally:
        _io.ZONE_SIDECAR_MIN_FILES = saved
    return spark.createDataFrame(
        [
            (
                int(row.n_rows),
                float(row.sum_value),
                int(row.n_users),
                bool(spill_rule_ok),
                bool(st["has_zones"]),
                0 < st["files_kept"]
                and (st["files_kept"] < st["files_total"] or st["files_total"] < 4),
            )
        ],
        "n_rows bigint, sum_value double, n_users bigint, "
        "spill_rule_ok boolean, zones_recorded boolean, pruned boolean",
    )


def q_sample_es(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-curation staple (round 5): weighted sampling WITHOUT
    replacement via Efraimidis-Spirakis exponential keys — 100 docs
    drawn proportional to text length from a salted-hash u-draw
    (deterministic, engine-portable, TakeOrderedAndProject top-k).
    The selection key stays out of the output; the oracle replays the
    md5 draw + ln-key ordering and must select the exact same ids."""
    docs = load_table(spark, sf, "documents")
    picked = CP.weighted_sample_without_replacement(
        docs, weight=F.length("text"), k=100, id_col="doc_id", salt="v1"
    )
    return O.sort(picked.select("doc_id", "lang"), ["doc_id"])


def q_graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Graph staple (round 5): per-node triangle counts with
    degree-ordered orientation (Suri-Vassilvitskii) — every triangle
    found exactly once via its unique 2-out-degree pivot, out-degrees
    bounded ~sqrt(|E|) so a hub vertex can't melt one reducer. Edge set
    derived deterministically from customer (u = custkey % 400; ring
    edges u→u+1, u→u+2 and doubling edges u→2u mod 400), so the oracle
    replays the whole construction + orientation in SQL."""
    c = load_table(spark, sf, "customer")
    nodes = c.select((F.col("c_custkey") % 400).cast("long").alias("u")).distinct()
    edges = (
        nodes.select("u", ((F.col("u") + 1) % 400).alias("v"))
        .unionAll(nodes.select("u", ((F.col("u") + 2) % 400).alias("v")))
        .unionAll(nodes.select("u", ((F.col("u") * 2) % 400).alias("v")))
    )
    out = GR.triangle_count(edges, src="u", dst="v")
    return O.sort(out, ["node"])


def q_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """E35d: stream-STREAM interval join — purchases matched to clicks
    of the same user within 1 hour, counted per user. Two independent
    replay streams; inner-join matches are emitted as both sides drain
    (availableNow), so the final result equals the batch interval join
    the oracle runs."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    s1 = _replay_events(spark, sf)
    s2 = _replay_events(spark, sf)
    clicks = s1.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = s2.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    # Replay files are not time-ordered, so one stream's watermark can
    # outrun the other and silently drop "late" rows mid-replay. For the
    # batch-equivalence contract the watermark must cover the whole
    # replayed span (events span ~30 days); production streams with
    # near-ordered arrival use real delays instead.
    joined = ST.stream_stream_interval_join(
        clicks,
        purchases,
        "c_user",
        "p_user",
        "click_ts",
        "purchase_ts",
        "1 hour",
        watermark_delay="40 days",
    )
    out = ST.run_to_memory_sink(
        joined.select("c_user", "click_ts", "purchase_ts"),
        "q_stream_stream_join_sink",
        output_mode="append",
    )
    return O.sort(
        out.groupBy(F.col("c_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_matches")
        ),
        ["user_id"],
    )


def q_vector_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """North star (storage path): int8 scalar quantization fidelity —
    per-vector cosine between dequantized and original embedding, plus
    a ≥0.999 verdict. Element-ordered float64 arithmetic replays
    exactly in the DuckDB twin."""
    em = load_table(spark, sf, "embeddings")
    return O.sort(V.scalar_quantize_cosine(em), ["vec_id"])


def q_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Scale diagnostics: key-skew profile of the lineitem join key —
    top-10 heaviest keys with their share vs a perfectly uniform
    distribution (the number that decides salting / AQE skew-join
    thresholds; pairs with q_join_salted)."""
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n_rows").alias("total")
    )
    top = O.top_k(
        counts.crossJoin(F.broadcast(stats)).select(
            "l_orderkey",
            "n_rows",
            F.round(F.col("n_rows") * F.col("n_keys") / F.col("total"), 6).alias(
                "skew_factor"
            ),
        ),
        [F.col("n_rows").desc(), F.col("l_orderkey")],
        10,
    )
    return top


def q_stream_foreach_batch(spark: SparkSession, sf: str) -> DataFrame:
    """E35b: foreachBatch parquet sink — batch-id-stamped appends,
    readback row count must equal the source."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    d = scratch_dir("fbsink_")
    q = ST.foreach_batch_parquet_sink(
        stream.select("event_id", "user_id", "value"),
        os.path.join(d, "out"),
        os.path.join(d, "ckpt"),
    )
    q.awaitTermination()
    back = spark.read.parquet(os.path.join(d, "out"))
    return spark.createDataFrame(
        [(back.count(), back.select("__batch_id").distinct().count() > 0)],
        "n_rows bigint, has_batches boolean",
    )


def q_stream_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """E35f (round 5): CDC changelog replayed as a STREAM into a
    versioned table, merge-on-read — closes the loop between the CDC
    (q_cdc_apply) and streaming surfaces. The same derived I/U/D log
    over customer (seq1 inserts all, seq2 updates custkey%13, seq3
    deletes custkey%29) is written as three files, replayed one file
    per micro-batch, and appended idempotently per batch id
    (``streaming.cdc_changelog_sink`` → ``io.append_versioned``); the
    final state is changelog compaction over the accumulated log
    (``streaming.cdc_read_state``). A deliberate re-append of batch 0
    (simulating foreachBatch's crash-between-sink-and-checkpoint
    redelivery) must be a cross-manifest-dedup no-op — asserted
    in-query, so a regression turns the driver row red. Oracle: the
    q_cdc_apply window twin (final state is micro-batch- and
    order-independent)."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST
    from nyc_tlc_trip_data_pipelines_spark.io import append_versioned, list_versions
    from nyc_tlc_trip_data_pipelines_spark.streaming import read_file_stream

    c = load_table(spark, sf, "customer")
    ins = c.select(
        "c_custkey", "c_name", F.round("c_acctbal", 6).alias("bal"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    upd = c.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal") + 100.0, 6).alias("bal"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    dels = c.filter(F.col("c_custkey") % 29 == 0).select(
        "c_custkey", "c_name", F.lit(0.0).alias("bal"),
        F.lit("D").alias("op"), F.lit(3).alias("seq"),
    )
    d = scratch_dir("cdc_stream_")
    src = os.path.join(d, "changelog")
    for batch in (ins, upd, dels):  # one file each → one micro-batch each
        batch.coalesce(1).write.mode("append").parquet(src)
    stream = read_file_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    table = os.path.join(d, "state")
    ST.cdc_changelog_sink(
        stream, table, os.path.join(d, "ckpt")
    ).awaitTermination()
    n_versions = len(list_versions(table))
    # redelivered micro-batch: must dedup, not re-append
    append_versioned(ins, table, "cdc-b0")
    assert len(list_versions(table)) == n_versions, "batch redelivery minted a version"
    state = ST.cdc_read_state(spark, table, ["c_custkey"], "seq")
    return O.sort(state.select("c_custkey", "c_name", "bal"), ["c_custkey"])


def q_stream_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """E35e: dead-letter routing — every micro-batch splits on a
    validity gate (value in [0, 100) and event_type known); valid rows
    append to the main table, invalid rows to the quarantine table with
    a batch stamp. Readback counts must reproduce the batch SQL split
    exactly (nothing lost, nothing duplicated)."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    d = scratch_dir("quarantine_")
    valid = (
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("value") < 100)
        & F.col("event_type").isin("view", "click", "purchase", "signup")
    )
    q = ST.quarantine_sink(
        stream.select("event_id", "event_type", "value"),
        valid,
        os.path.join(d, "good"),
        os.path.join(d, "bad"),
        os.path.join(d, "ckpt"),
    )
    q.awaitTermination()
    good = spark.read.parquet(os.path.join(d, "good"))
    try:
        bad = spark.read.parquet(os.path.join(d, "bad"))
        n_bad = bad.count()
    except Exception:  # no invalid rows → dead-letter dir never created
        n_bad = 0
    return spark.createDataFrame(
        [(good.count(), n_bad)], "n_good bigint, n_bad bigint"
    )


def q_multimodal_video_decode(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL decode — retires the last stubbed
    modality): YUV4MPEG2 payloads parsed from the raw container (header
    tokens, FRAME markers, planar 4:2:0 geometry) inside Arrow-batched
    mapInPandas — frame count, geometry, fps and plane means per video.
    Fixture planes follow closed-form integer formulas, so the oracle
    recomputes every statistic from first principles: a hash match
    proves the encode→decode round trip, not just the plumbing."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    media = MM.make_y4m_media(spark, 24)
    return O.sort(MM.decode_video_features(media), ["media_id"])


def q_multimodal_framesample(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL frame sampling): decode the Y4M
    stream and emit every 2nd frame with its luma mean — the
    decode-then-explode shape real frame extraction uses at scale
    (formerly a metadata-only explode over a stub; now each sampled
    frame's statistic is decoded from real plane bytes and
    oracle-checked against the fixture formula)."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    media = MM.make_y4m_media(spark, 24)
    return O.sort(MM.sample_y4m_frames(media, every_n=2), ["media_id", "frame"])


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL transform — formerly a stub byte
    truncation): audio decimation. Every 2nd PCM sample of a real WAV is
    kept and re-encoded at half the rate, then decoded AGAIN for the
    verdict stats, so the hash match proves the full
    decode→resample→encode→decode chain against the closed-form sample
    formula."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    media = MM.make_wav_media(spark, 48)
    return O.sort(
        MM.decode_audio_features(MM.resample_wav_media(media, factor=2)),
        ["media_id"],
    )


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """North star (multimodal, REAL features — formerly a hash-pool
    stub): 8-dim image descriptor [w, h, channel means, channel ranges]
    decoded from real BMP payloads via Arrow mapInPandas. Every entry is
    integer-exact or an exact integer ratio, so the whole vector is
    oracle-checked from the fixture pixel formula. The contract query
    unpacks the descriptor into 8 scalar columns — the driver's pandas
    canonicalizer crashes on array cells (r5 verdict §wrong-2); the
    library operator keeps the vector form."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    # repartition to a few substantial Arrow batches — 32 near-empty
    # partitions would each pay a Python-worker round trip
    media = MM.make_bmp_media(spark, 48).repartition(4)
    feats = MM.extract_image_features(media)
    dims = ["w", "h", "mean_r", "mean_g", "mean_b", "range_r", "range_g", "range_b"]
    return O.sort(
        feats.select(
            "media_id",
            "n_bytes",
            *[F.element_at("feature", i + 1).alias(d) for i, d in enumerate(dims)],
        ),
        ["media_id"],
    )


# --------------------------------------------------------------------------
# Time-series operators (north star: events/log pipeline surface).
# Sessionization / as-of / gap-fill — single-shuffle formulations
# (operators/timeseries.py), not nested-loop range joins.
# --------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Batch sessionization: 30-min-gap sessions per user over events,
    collapsed to per-session stats. One shuffle on user_id; both window
    passes share the (user_id, ts) spec."""
    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    ev = load_table(spark, sf, "events")
    sess = TS.sessionize(ev, "user_id", "ts", 1800, tiebreak_cols=("event_id",))
    return TS.session_stats(sess, "user_id", "ts")


def q_join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (latest prior purchase per click) via the union-merge
    window formulation — O(n log n), one shuffle, vs DuckDB ASOF LEFT JOIN."""
    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = TS.asof_join(clicks, purchases, "user_id", "ts", "ts", "last_purchase_ts")
    return out.select(
        "event_id", "user_id", F.col("ts").alias("click_ts"), "last_purchase_ts"
    )


def q_time_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Dense hourly spine left-joined with aggregated facts, gaps
    zero-filled. Spine and aggregated facts are both bucket-sized, so the
    join is broadcast — the fact table shuffles only for its own groupBy."""
    from nyc_tlc_trip_data_pipelines_spark.operators import timeseries as TS

    ev = load_table(spark, sf, "events")
    spine = TS.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-30 23:00:00", "1 hour", "bucket_ts"
    )
    facts = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    return TS.gapfill(spine, facts, "bucket_ts", ["n_events", "sum_value"])


# --------------------------------------------------------------------------
# Window/aggregate surface extensions
# --------------------------------------------------------------------------


def q_window_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """E15b: distribution windows — percent_rank, cume_dist, ntile(4) per
    nation ordered by account balance (unique tie-break on custkey).

    The ratios are compared SCALED BACK TO EXACT INTEGERS:
    round(percent_rank·(n−1)) ≡ rank−1 and round(cume_dist·n) ≡ rank.
    Engines compute the ratio doubles differently (direct division vs
    reciprocal multiplication), so any fixed-decimal rounding of the
    raw ratio has boundary cases where a one-ulp difference flips a
    digit (found by the round-5 sf0.1 sweep: 41/640 = 0.0640625 on the
    round-half boundary). The scaled form's true value is an INTEGER,
    so round-to-nearest is always an ulp-wide margin from any
    boundary — correct at every SF, and it still verifies the
    built-ins end-to-end (a wrong ratio yields the wrong integer)."""
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_nationkey")
    n = F.count(F.lit(1)).over(wn)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w) * (n - 1), 0).cast("long").alias("pr_scaled"),
        F.round(F.cume_dist().over(w) * n, 0).cast("long").alias("cume_scaled"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_agg_conditional(spark: SparkSession, sf: str) -> DataFrame:
    """E10d: conditional + correlation aggregates — count_if, bool_or,
    median, corr, covar_samp per order priority."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_f"),
        F.round(F.median("o_totalprice"), 6).alias("med_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("corr_price_cust"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 2).alias("covar_price_cust"),
    )


def q_agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """E13b: explicit GROUPING SETS with grouping() indicator columns
    (finer-grained than ROLLUP/CUBE — exactly the requested sets)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Relational completion: unpivot/melt wide aggregates to long form
    (Spark ``DataFrame.unpivot``; oracle is the UNION ALL expansion)."""
    li = load_table(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "val"
    )


def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram binning on price (floor-div bucketing) —
    the scalable binning shape: one map-side projection + hash agg."""
    li = load_table(spark, sf, "lineitem")
    bucket = (F.floor(F.col("l_extendedprice") / 5000) * 5000).cast("long")
    return li.select(bucket.alias("price_bucket")).groupBy("price_bucket").agg(
        F.count(F.lit(1)).alias("n_items")
    )


# --------------------------------------------------------------------------
# Scalar / array surface extensions
# --------------------------------------------------------------------------


def q_array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """E24b: array functions beyond explode — size, min/max, element_at,
    slice + higher-order aggregate (dot-product building block)."""
    e = load_table(spark, sf, "embeddings")
    head4_sum = F.aggregate(
        F.slice(F.col("embedding"), 1, 4),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("arr_max"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("arr_min"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("head"),
        F.round(head4_sum, 6).alias("head4_sum"),
    )


def q_string_distance(spark: SparkSession, sf: str) -> DataFrame:
    """E21b: string-distance functions — levenshtein edit distance
    (fuzzy-matching building block for entity resolution)."""
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.levenshtein(F.lower("p_brand"), F.lower("p_type")).cast("long").alias("lev_brand_type"),
        F.levenshtein(F.lower("p_name"), F.lower("p_brand")).cast("long").alias("lev_name_brand"),
    )


def q_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB pattern: incremental aggregation — per-ingest-batch partial
    aggregates merged by RE-aggregation (counts and sums add; the mean is
    derived at the end — never an average of averages). The result must
    equal the direct single-pass aggregate (the oracle)."""
    ev = load_table(spark, sf, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("DAY", F.col("ts")).alias("day_bucket")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
        )

    batch1 = partial(ev.filter(F.col("event_id") % 2 == 0))
    batch2 = partial(ev.filter(F.col("event_id") % 2 == 1))
    merged = batch1.unionByName(batch2).groupBy("day_bucket").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 6).alias("sum_value"),
        F.round(F.sum("sv") / F.sum("n"), 6).alias("avg_value"),
    )
    return merged


def q_grouped_map(spark: SparkSession, sf: str) -> DataFrame:
    """E27b: grouped-map applyInPandas — per-user z-score normalization.
    Completes the pandas API family (scalar pandas_udf, grouped-agg,
    mapInPandas, applyInPandasWithState, grouped-map). Arrow ships each
    user's rows to Python once; oracle is the window-SQL z-score."""
    import pandas as pd

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        if sd and sd > 0:
            z = ((pdf["value"] - m) / sd).round(6)
        else:
            z = pd.Series([None] * len(pdf), dtype="float64")
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z": z}
        )

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        zscore, "event_id bigint, user_id bigint, z double"
    )


def q_rollup_time(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-grain time rollup (SURVEY §4.3 custom-op
    list): day and day+hour aggregates from ONE scan via GROUPING SETS
    on time buckets — the continuous-aggregate shape without a second
    pass over the fact table."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day_bucket,
               CAST(date_trunc('HOUR', ts) AS TIMESTAMP) AS hour_bucket,
               CAST(grouping(date_trunc('HOUR', ts)) AS INT) AS g_hour,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM events
        GROUP BY GROUPING SETS ((date_trunc('DAY', ts)),
                                (date_trunc('DAY', ts), date_trunc('HOUR', ts)))
        """
    )


def q_join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """E4b: full outer join — keys unique to either side survive with
    NULLs on the other (suppliers vs customers per nation)."""
    c = load_table(spark, sf, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = load_table(spark, sf, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    j = J.join(c, s, on=[c.c_nationkey == s.s_nationkey], how="full")
    return j.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def q_set_ops_all(spark: SparkSession, sf: str) -> DataFrame:
    """E19b: multiset set ops — UNION ALL / INTERSECT ALL / EXCEPT ALL
    keep duplicate multiplicity (vs the distinct variants in q_set_ops)."""
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    tagged = (
        c.unionAll(s).withColumn("op", F.lit("union_all"))
        .unionByName(c.intersectAll(s).withColumn("op", F.lit("intersect_all")))
        .unionByName(c.exceptAll(s).withColumn("op", F.lit("except_all")))
    )
    return tagged.groupBy("op", "nationkey").agg(F.count(F.lit(1)).alias("n"))


def q_string_funcs2(spark: SparkSession, sf: str) -> DataFrame:
    """E21c: second string batch — lpad/rpad, regexp_replace, repeat,
    reverse, left/right substrings."""
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.reverse("p_brand").alias("brand_rev"),
        F.substring("p_name", 1, 3).alias("name_left3"),
    )


def q_date_extract2(spark: SparkSession, sf: str) -> DataFrame:
    """E22b: extended calendar extraction — quarter, ISO week, day-of-week
    (aligned conventions: Spark dayofweek is 1=Sunday, DuckDB dow is
    0=Sunday), last day of month, months_between."""
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofweek("o_orderdate").alias("dow1"),  # 1=Sunday
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months(F.col("o_orderdate").cast("date"), 2).alias("plus_2mo"),
    )


def q_window_time_range(spark: SparkSession, sf: str) -> DataFrame:
    """E17b: time-based RANGE frame — trailing 1-hour average/count per
    user over epoch-second ordering (rangeBetween, not rowsBetween: the
    frame is defined by value distance, so same-second ties are all in)."""
    ev = load_table(spark, sf, "events")
    epoch = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy(epoch).rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """North star (event analytics): ordered funnel signup → click →
    purchase per user via conditional min-timestamps — one shuffle on
    user_id, then a singleton aggregate."""
    ev = load_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step1 = F.col("t_signup").isNotNull()
    step2 = step1 & (F.col("t_click") > F.col("t_signup"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return per_user.agg(
        flag(step1).alias("n_signup"),
        flag(step2).alias("n_click_after"),
        flag(step3).alias("n_purchase_after"),
    )


def q_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """E3b: join over BUCKETED tables — both sides pre-shuffled on the
    join key at write time, so the join itself needs no exchange (the
    100 TB co-location strategy; plan asserted in tests/test_plans.py).
    Result must equal the plain-join oracle."""
    from nyc_tlc_trip_data_pipelines_spark.io import write_bucketed

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    spark.sql("DROP TABLE IF EXISTS q_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS q_ord_bucketed")
    write_bucketed(li, "q_li_bucketed", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    write_bucketed(o, "q_ord_bucketed", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    j = spark.table("q_li_bucketed").join(
        spark.table("q_ord_bucketed"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


def q_sink_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink + schema-declared readback; the readback aggregate
    must equal the direct-query oracle (exact double round-trip)."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_json, write_json

    ev = load_table(spark, sf, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "events_json")
        write_json(ev, p)
        back = read_json(spark, p, "event_id bigint, event_type string, value double")
        rows = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .collect()
        )
    return spark.createDataFrame(rows, "event_type string, n bigint, sum_value double")


def q_sink_orc(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink + readback (second columnar format beside parquet)."""
    from nyc_tlc_trip_data_pipelines_spark.io import read_orc, write_orc

    li = load_table(spark, sf, "lineitem").select("l_returnflag", "l_quantity")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "lineitem_orc")
        write_orc(li, p)
        rows = (
            read_orc(spark, p)
            .groupBy("l_returnflag")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
            .collect()
        )
    return spark.createDataFrame(rows, "l_returnflag string, sum_qty double")


def q_vector_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """North star (similarity): per-label centroid — elementwise mean via
    posexplode + (label, pos) hash agg. This is the k-means/IVF update
    step: fully distributed, shuffle sized by labels × dim, never by rows."""
    e = load_table(spark, sf, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "val"))
    return (
        ex.withColumn("pos", (F.col("pos0") + 1).cast("long"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
    )


def q_vector_norms(spark: SparkSession, sf: str) -> DataFrame:
    """North star (similarity): L2 norm per vector via higher-order
    aggregate — JVM-side, sequential accumulation (bit-identical to the
    oracle's list_sum)."""
    e = load_table(spark, sf, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select("vec_id", F.round(F.sqrt(sq_sum), 6).alias("l2_norm"))


def q_stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """E35c: stream-static equi-join (events stream ⋈ customer dim) +
    running aggregate. The static side is re-broadcast per micro-batch;
    no state store needed for the join itself."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    stream = _replay_events(spark, sf)
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = stream.join(F.broadcast(cust), "user_id")
    aggd = joined.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_events"))
    return O.sort(
        ST.run_to_memory_sink(aggd, "q_stream_static_join_sink"), ["c_nationkey"]
    )


def q_text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """North star (text analysis): TF-IDF top-5 terms per document.
    Corpus size enters via a broadcast one-row crossJoin (no driver
    collect); ranking tie-broken on (rounded score, term) so the result
    is deterministic on both engines."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokenize("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency as a window over term — ONE derivation of tf
    # (a separate groupBy would re-scan + re-aggregate the whole corpus)
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def q_text_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """North star (text analysis): corpus bigram counts via the
    higher-order ngrams expression (JVM-side, no Python UDF)."""
    docs = load_table(spark, sf, "documents")
    grams = docs.select(F.explode(TX.ngrams(TX.tokenize("text"), 2)).alias("bigram"))
    return grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))


def q_window_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """E16b: first_value / last_value / nth_value over an explicit
    unbounded frame (the frame spec is the point — last_value under the
    default frame would be the current row)."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


def q_agg_collect_list(spark: SparkSession, sf: str) -> DataFrame:
    """E11b: grouped array construction — array_sort(collect_list) so the
    result is set-deterministic despite Spark's unordered aggregation.
    The final select serializes the array with to_json: the driver's
    pandas canonicalizer sorts rows by every column and crashes on
    unhashable list cells, so contract outputs must be scalar-only
    (r5 verdict §wrong-1); Spark and DuckDB both render '[1,2,3]'."""
    c = load_table(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.to_json(F.array_sort(F.collect_list("c_custkey"))).alias("custkeys_json"),
        F.count(F.lit(1)).alias("n_cust"),
    )


# --------------------------------------------------------------------------
# SQL surface: subqueries + more TPC-H shapes
# --------------------------------------------------------------------------


def q_subquery_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Uncorrelated scalar subquery in WHERE (price above global mean).
    Threshold rounded to cents on both sides for float determinism."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_above
        FROM orders
        WHERE o_totalprice > (SELECT ROUND(AVG(o_totalprice), 2) FROM orders)
        GROUP BY o_orderstatus
        """
    )


def q_sql_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to available
    columns: correlated EXISTS — orders with a line shipped within 30
    days of the order date."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate < o_orderdate + INTERVAL 30 DAYS
          )
        GROUP BY o_orderpriority
        """
    )


def q_sql_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    returned revenue in a quarter — 3-way join + agg + deterministic top-k."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT c_custkey, c_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """
    )


def q_sql_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregate ratio over a
    fact⋈dim join — Catalyst broadcasts the part side."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT ROUND(
                 100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
        """
    )


def q_sql_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): IN-subquery with HAVING over
    a grouped aggregate, then join + re-aggregate."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
               ROUND(o_totalprice, 4) AS totalprice,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
        )
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        """
    )


def q_sql_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations per year — double nation join (supplier vs customer side)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               ROUND(SUM(volume), 4) AS revenue
        FROM (
            SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                   CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM supplier
            JOIN lineitem  ON s_suppkey = l_suppkey
            JOIN orders    ON o_orderkey = l_orderkey
            JOIN customer  ON c_custkey = o_custkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            WHERE ns.n_name IN ('NATION_1', 'NATION_2')
              AND nc.n_name IN ('NATION_1', 'NATION_2')
              AND ns.n_name <> nc.n_name
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """
    )


def q_sql_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit), adapted to available
    columns (no partsupp): profit = revenue − 10% retail-price cost,
    for parts matching a name pattern, by supplier nation and year."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT nation, o_year, ROUND(SUM(amount), 4) AS sum_profit
        FROM (
            SELECT n_name AS nation,
                   CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity AS amount
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
        """
    )


def q_sql_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    regional revenue per year — conditional-sum ratio over a 6-way join."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT o_year,
               ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                     / SUM(volume), 6) AS mkt_share
        FROM (
            SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume,
                   ns.n_name AS nation
            FROM lineitem
            JOIN supplier  ON s_suppkey = l_suppkey
            JOIN orders    ON o_orderkey = l_orderkey
            JOIN customer  ON c_custkey = o_custkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            JOIN region    ON nc.n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ) all_nations
        GROUP BY o_year
        """
    )


def q_sql_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): correlated-min join over a
    derived per-part price table + region-filtered supplier lookup.
    Adapted (no partsupp): unit price = l_extendedprice / l_quantity from
    lineitem; exact double equality against the per-part MIN is
    deterministic because both engines divide the same parquet values.
    min_price is emitted UNROUNDED: the quotient/MIN is bitwise-identical
    across engines, while ROUND(x, 4) half-way rules are not (Spark
    half-up on the shortest repr vs DuckDB on the binary value — a real
    observed 26.2412-vs-26.2413 divergence)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT DISTINCT s_suppkey, s_name, p_partkey, p_name,
               pc.min_price AS min_price
        FROM part
        JOIN (
            SELECT l_partkey, MIN(l_extendedprice / l_quantity) AS min_price
            FROM lineitem GROUP BY l_partkey
        ) pc ON pc.l_partkey = p_partkey
        JOIN lineitem ON lineitem.l_partkey = p_partkey
             AND l_extendedprice / l_quantity = pc.min_price
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'STANDARD'
        """
    )


def q_sql_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): group aggregate kept only when
    it exceeds a FRACTION OF THE GLOBAL TOTAL (scalar subquery in
    HAVING). Adapted: per-part sales value by one nation's suppliers."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
        HAVING SUM(l_extendedprice * (1 - l_discount)) > (
            SELECT 0.001 * SUM(l_extendedprice * (1 - l_discount))
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
        )
        """
    )


def q_sql_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): LEFT join with an
    ON-clause filter so zero-order customers survive, then a histogram
    of the per-customer counts (two-level aggregation)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        """
    )


def q_sql_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): CTE revenue view + scalar-MAX subquery
    selecting the argmax supplier(s)."""
    _register(spark, sf)
    return spark.sql(
        """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, ROUND(total_revenue, 4) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


def q_sql_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT)
    per attribute tuple with a NOT IN anti-subquery on the counted key.
    Adapted: suppliers seen in lineitem; negative-balance suppliers
    excluded (in lieu of the complaints comment filter)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        """
    )


def q_sql_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): correlated scalar
    AVG subquery per part. l_quantity is integral, so the per-part AVG
    is the exact ratio of exact sums on both engines — the comparison
    has no float-accumulation ambiguity."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < (
            SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
        """
    )


def q_sql_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunction of conjunctive
    brand/size/quantity blocks — the OR-of-ANDs predicate-pushdown
    stress shape."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 30)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 5 AND l_quantity <= 40)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 10 AND l_quantity <= 50)
        """
    )


def q_sql_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (part promotion): nested IN chains — suppliers of
    name-matched parts shipped in volume during one year."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
            )
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING SUM(l_quantity) > 50
          )
        """
    )


def q_sql_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS +
    NOT EXISTS self-correlations on lineitem. Adapted (no receipt/commit
    dates): "late" = shipped > 60 days after the order date; the
    supplier was the ONLY late one on a multi-supplier finished order."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders   ON o_orderkey = l1.l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY s_name
        """
    )


def q_sql_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): substring bucketing,
    scalar-AVG threshold subquery, and NOT EXISTS anti-correlation.
    Adapted: bucket = first digit of the customer key; anti-join is
    against URGENT orders (every customer has SOME order, so the
    literal Q22 anti-join would be vacuous on this corpus)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT cntrycode, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 4) AS totacctbal
        FROM (
            SELECT SUBSTRING(CAST(c_custkey AS STRING), 1, 1) AS cntrycode, c_acctbal
            FROM customer
            WHERE c_acctbal > (
                SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
            )
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
              )
        ) custsale
        GROUP BY cntrycode
        """
    )


def q_agg_filter_clause(spark: SparkSession, sf: str) -> DataFrame:
    """E10e: SQL FILTER clause on aggregates (per-aggregate predicates
    without CASE scaffolding) — identical syntax on both engines."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 4)
                 AS urgent_value
        FROM orders
        GROUP BY o_orderstatus
        """
    )


def q_join_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated join (operators/skew.py salted_join): result must
    equal the plain equi-join — oracle is the unsalted SQL. At 100 TB this
    is the fallback when AQE skew-splitting isn't enough."""
    from nyc_tlc_trip_data_pipelines_spark.operators import skew

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    j = skew.salted_join(o, c, ["o_custkey"], salt_buckets=8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


def q_graph_bfs(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative graph (round 5): minimum-hop BFS from a seed node over
    the same deterministic directed graph q_graph_triangles builds
    (u = custkey % 400; edges u→u+1, u→u+2, u→2u mod 400). Frontier
    expansion with an anti-join against visited (operators/graph.py
    bfs_hops); the oracle replays reachability with a bounded recursive
    CTE and takes MIN(hop) per node. Complements q_pagerank (fixed
    iterations) and q_graph_components (convergence loop) with the
    third iterative shape: frontier BFS with early exit."""
    c = load_table(spark, sf, "customer")
    nodes = c.select((F.col("c_custkey") % 400).cast("long").alias("u")).distinct()
    edges = (
        nodes.select("u", ((F.col("u") + 1) % 400).alias("v"))
        .unionAll(nodes.select("u", ((F.col("u") + 2) % 400).alias("v")))
        .unionAll(nodes.select("u", ((F.col("u") * 2) % 400).alias("v")))
    )
    seeds = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    out = GR.bfs_hops(edges, seeds, src="u", dst="v", max_hops=12)
    return O.sort(out, ["node"])


# BM25 probe: frequent corpus terms so tf saturation and the dl/avgdl
# length normalization both actually engage at sf0.01.
_BM25_TERMS = ("spark", "join", "window")


def q_bm25_rank(spark: SparkSession, sf: str) -> DataFrame:
    """North star (text retrieval): BM25 top-10 documents for a fixed
    3-term query (operators/text.py bm25_rank — Okapi BM25 with the
    Lucene non-negative IDF). Per-(doc,term) partials are rounded to
    6 dp before the per-doc sum so Spark's partial-aggregation addition
    order and DuckDB's serial sum round identically; ties break on
    doc_id."""
    docs = load_table(spark, sf, "documents")
    return TX.bm25_rank(docs, _BM25_TERMS, top_k=10)


def q_doc_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """North star (training-sample prep): sliding-window token chunking
    (operators/text.py chunk_sliding, window=64 stride=48) — each doc
    becomes overlapping ≤64-token windows starting every 48 tokens,
    the split step between corpus cleaning and tokenization. Zero
    shuffles: tokenize + sequence/explode + slice are all row-local
    codegen, so the plan is scan → project → sink even at 100 TB."""
    docs = load_table(spark, sf, "documents")
    return TX.chunk_sliding(docs, window=64, stride=48)


def q_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Robust feature stats (round 5): per-language winsorization of
    n_chars at the exact interpolated p05/p95 (SQL ``percentile`` on
    Spark, ``quantile_cont`` in DuckDB — both rank (n−1)·p with linear
    interpolation), then clipped mean + clip counts per language. The
    percentile agg and the clip re-join are the two-pass shape exact
    winsorization forces; at 100 TB swap pass one to
    approx_percentile and the re-join stays broadcast (one row per
    group)."""
    docs = load_table(spark, sf, "documents")
    cuts = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    clipped = docs.join(F.broadcast(cuts), "lang").select(
        "lang",
        "n_chars",
        F.least(F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")).alias("w"),
        (F.col("n_chars") < F.col("p05")).cast("int").alias("lo"),
        (F.col("n_chars") > F.col("p95")).cast("int").alias("hi"),
    )
    # mean over exact integer micro-units (partition-order-free; the
    # clipped values are interpolated-percentile doubles, and a bare
    # round(avg(double)) is order-dependent in its last ulp)
    micro_w = F.round(F.col("w") * F.lit(1000000.0), 0).cast("long")
    out = clipped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum(micro_w) / F.count(F.lit(1)) / F.lit(1000000.0), 6).alias(
            "winsor_mean"
        ),
        F.sum("lo").alias("n_clipped_low"),
        F.sum("hi").alias("n_clipped_high"),
    )
    return O.sort(out, ["lang"])


def q_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionized marketing attribution (round 5): every purchase is
    attributed to the user's FIRST event (first-touch) in the 7 days
    strictly before it; purchases and distinct purchasers counted per
    first-touch event type. The first touch is selected with a single
    MIN over a sortable key (zero-padded epoch-micros ‖ event_id ‖
    type) — one aggregate instead of a three-pass argmin, identical in
    both engines. The candidate join is a time-bounded range join; at
    100 TB bucket both sides by (user, day) so each purchase probes
    only adjacent buckets instead of the user's full history."""
    e = load_table(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = e.select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
    )
    touch_key = F.concat_ws(
        ":",
        F.lpad(F.unix_micros("t_ts").cast("string"), 20, "0"),
        F.lpad(F.col("t_id").cast("string"), 12, "0"),
        F.col("t_type"),
    )
    first = (
        p.join(
            t,
            (F.col("p_user") == F.col("t_user"))
            & (F.col("t_ts") < F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("p_id", "p_user")
        .agg(F.min(touch_key).alias("fk"))
    )
    out = first.select(
        "p_id",
        "p_user",
        F.substring_index(F.col("fk"), ":", -1).alias("first_touch_type"),
    ).groupBy("first_touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("p_user").alias("n_users"),
    )
    return O.sort(out, ["first_touch_type"])


def q_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index training (round 5): Lloyd's k-means over the embedding
    corpus (operators/vectors.py kmeans_train, k=4, 2 iterations,
    deterministic init = the 4 smallest vec_ids) — the training step
    that produces ivf_topk's centroids. Distances are exact
    int64 sums over micro-unit coordinates, centroid means exact
    integer micro-unit sums rounded to 6 dp. The oracle unrolls both
    Lloyd iterations in SQL (_kmeans_micro_cte) and must land on the
    identical final assignment for every vector."""
    emb = load_table(spark, sf, "embeddings")
    assigned, _ = V.kmeans_train(emb, k=4, iterations=2)
    out = assigned.select(F.col("id").alias("vec_id"), "cluster")
    return O.sort(out, ["vec_id"])


def q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 6): SemDeDup semantic near-dup scan (Abbas et
    al. 2023, arXiv:2303.09540 — operators/vectors.py
    semantic_dedup_pairs): k-means clusters the embedding corpus
    (q_kmeans's exact deterministic training), then pairwise cosine
    runs ONLY within each cluster — learned buckets where
    q_dedup_embedding uses LSH buckets. The driver corpus is random
    vectors with no true near-dups, so this returns the top-50
    most-similar within-cluster pairs — the same plan a real
    cosine ≥ τ dedup would run. The oracle replays the full chain:
    both micro-grid Lloyd iterations (the CTE q_kmeans's oracle
    uses) + the within-cluster pair scan."""
    emb = load_table(spark, sf, "embeddings")
    pairs = V.semantic_dedup_pairs(emb, k=4, iterations=2)
    return O.top_k(pairs, [F.col("cosine").desc(), F.col("id_a"), F.col("id_b")], 50)


def q_dedup_semantic_scaled(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 7): SemDeDup at SCALE-k — the configuration
    the 100 TB story depends on (the paper grows k with the corpus,
    k ≈ n/5000, to hold the (n/k)² per-cluster pair term constant).
    Nearest-centroid assignment is one exact-int64 micro-unit matmul
    per Arrow batch (operators/vectors.py _micro_argmin), the same
    contract as q_dedup_semantic at k=4, and flat in k over this
    range. The oracle replays the integer Lloyd chain exactly:
    micro-grid distances are associative integer sums, so not even a
    fold-order ulp can diverge the assignment."""
    emb = load_table(spark, sf, "embeddings")
    pairs = V.semantic_dedup_pairs(emb, k=32, iterations=2)
    return O.top_k(pairs, [F.col("cosine").desc(), F.col("id_a"), F.col("id_b")], 50)


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 7): DSIR — Data Selection via Importance
    Resampling (Xie et al. 2023, NeurIPS; operators/corpus.py
    dsir_select): target-domain unigram model vs source model, add-one
    smoothed over the shared vocabulary; per-candidate log importance
    weight; Gumbel-top-k draw (noise from the portable 60-bit hash, so
    sampling-without-replacement ∝ w(x) replays exactly). Target =
    the 'src0' documents, candidates = everything else."""
    docs = load_table(spark, sf, "documents")
    return CP.dsir_select(docs, F.col("source") == "src0", top_n=50, seed=13)


def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (round 7): Reciprocal Rank Fusion (Cormack et
    al. SIGIR 2009; operators/text.py rrf_fuse) of a lexical and a
    dense shortlist — BM25 over documents and brute-force cosine over
    embeddings (ids shared by fixture construction), each cut to its
    top-100, ranks fused as Σ 1/(60+rank). The RAG-stack combiner in
    its standard shortlist form — the only window runs over ≤100 rows
    per ranker."""
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    bm = TX.bm25_rank(docs, ["spark", "join", "window"], top_k=100).select(
        F.col("doc_id"), F.col("bm25").alias("score")
    )
    cos = V.cosine_topk(emb, [1.0] * 64, k=100).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("score")
    )
    return TX.rrf_fuse([bm, cos], id_col="doc_id", score_col="score",
                       k0=60, shortlist=100, top_k=20)


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive training-data mining (round 7): per-anchor hardest
    different-label neighbors (operators/vectors.py
    hard_negative_pairs; DPR/ANCE-style negative mining). Candidates
    are cluster-scoped at SCALE-k (k=32, the micro-grid k-means —
    the same configuration the 100 TB story uses:
    the n²/k directed-pair term is 8× smaller than at k=4, measured
    9.4 s → ~2 s at sf0.1); the oracle replays the integer Lloyd
    chain plus the directed labeled pair scan."""
    emb = load_table(spark, sf, "embeddings")
    out = V.hard_negative_pairs(emb, k=32, iterations=2, per_anchor=3)
    return O.sort(out, ["anchor", "rank"])


def q_knn_label_noise(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise screening (round 7): plurality vote of the 5
    nearest same-cluster neighbors vs the row's own label
    (operators/vectors.py knn_label_vote; the confident-learning
    signal for pruning annotation errors before training). Same
    scale-k (k=32) candidate discipline and replayed
    integer-Lloyd chain as q_hard_negatives."""
    emb = load_table(spark, sf, "embeddings")
    return O.sort(V.knn_label_vote(emb, k=32, iterations=2, n_neighbors=5), ["vec_id"])


def q_stl_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series decomposition (round 7): STL-lite additive
    seasonal/trend/residual split of the hourly event-value series
    (operators/timeseries.py stl_decompose; classical MA decomposition
    under Cleveland et al. 1990) — 24-hour phase, ±12 h centered
    trend window, every stage an exact integer micro-unit mean. The
    post-aggregate series is time-range-sized (720 buckets), so the
    ordered windows are sketch-sized by construction."""
    e = load_table(spark, sf, "events")
    return TS.stl_decompose(e, "ts", "value", period=24, trend_halfwidth=12)


def q_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-statistics audit (round 7): Zipf's-law OLS fit of
    ln(count) on ln(rank) over the vocabulary head (operators/text.py
    zipf_fit) — the one-row slope/r² corpus health check next to
    PSI/KS drift. Sufficient-statistics OLS over micro-quantized ln
    values (exact bigint sums, the ols_group contract)."""
    docs = load_table(spark, sf, "documents")
    return TX.zipf_fit(docs, "text", top_n=1000)


def q_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast evaluation (round 7): rolling-origin backtest of the
    seasonal-naive baseline ŷ(t) = y(t−24h) over the hourly event
    series, scored per day with sMAPE + bias
    (operators/timeseries.py seasonal_naive_backtest; the
    M-competition baseline every forecaster must beat). Exact
    micro-unit daily means; the LAG window runs over the
    time-range-sized post-aggregate series."""
    e = load_table(spark, sf, "events")
    return TS.seasonal_naive_backtest(e, "ts", "value", period=24)


def q_nb_classify(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 7, wave 3): multinomial Naive Bayes document
    classifier (operators/corpus.py nb_classify) — the distributed
    bag-of-words classifier stage of LLM curation (CCNet language
    filter / GPT-3 quality model / FineWeb-edu shape). Portable-hash
    holdout split (1/5), add-one-smoothed per-(word, lang) model,
    integer micro-unit log-posteriors so the per-doc argmax is an
    EXACT bigint reduction; ties break to the smallest class. One
    tokenize pass, vocabulary×classes broadcast model, grouped-MAX
    argmax — never a corpus window."""
    docs = load_table(spark, sf, "documents")
    out = CP.nb_classify(docs, label_col="lang", id_col="doc_id",
                         holdout_mod=5, holdout_rem=0, seed=11)
    return O.sort(out, ["doc_id"])


def q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 7, wave 3): Poisson-bootstrap confidence
    intervals for per-event-type mean value (operators/aggregates.py
    poisson_bootstrap_ci; Chamandy et al. 2012 — the one-pass massive-
    data bootstrap). Each row enters each of B=40 replicates with a
    deterministic Poisson(1) weight drawn by inverse-CDF from the
    portable hash; replicate sums are exact bigint micro-units, the SE
    comes from point-estimate-centered exact sums, and the CI bounds
    are order statistics of the replicate means — no quantile
    interpolation, every draw oracle-replayable. The B× explode
    collapses in map-side partial aggregation (shuffle ∝ groups·B,
    not rows·B)."""
    e = load_table(spark, sf, "events")
    out = agg.poisson_bootstrap_ci(
        e, ["event_type"], F.col("value"), "event_id", n_boot=40, seed=17
    )
    return O.sort(out, ["event_type"])


def q_event_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Row-pattern matching (round 7, wave 3): the SQL:2016
    MATCH_RECOGNIZE / Flink-CEP shape Spark lacks natively
    (operators/timeseries.py event_pattern_match) — per-user event
    histories encoded to character sequences ordered by (ts,
    event_id), matched against the funnel regex ``s[cv]*p`` (signup,
    any clicks/views, purchase; an error breaks the match). One
    user-keyed shuffle; sequences are entity-sized; regex runs
    codegen-side. Complements q_funnel (conditional-min milestones)
    with true ORDER-sensitive, repeatable-match semantics."""
    ev = load_table(spark, sf, "events")
    out = TS.event_pattern_match(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        {"signup": "s", "click": "c", "purchase": "p", "view": "v", "error": "e"},
        r"s[cv]*p",
    )
    return O.sort(
        out.withColumnRenamed("user", "user_id"), ["user_id"]
    )


def q_sample_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive-pair construction (round 7, wave 4): uniform random
    negative sampling (operators/vectors.py uniform_negatives) — each
    embedding draws 4 portable-hash candidates from the dense id
    space with is_self/same_label/missing validity FLAGS instead of
    silent rejection (missing surfaces id-space gaps via the LEFT
    label join — round-7 advice), so the emitted set replays exactly.
    The random half of the DPR recipe next to q_hard_negatives'
    cluster-scoped hard half; one map-side explode + one keyed
    equi-join, no windows."""
    emb = load_table(spark, sf, "embeddings")
    return V.uniform_negatives(emb, id_col="vec_id", label_col="label",
                               n_neg=4, seed=29)


def q_topic_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus exploration (round 7, wave 4): c-TF-IDF distinctive
    keywords per source domain (operators/corpus.py topic_keywords;
    Grootendorst 2022, the BERTopic labeling step) — each domain as
    one concatenated document, score = normalized class tf × ln(1 +
    avg-class-size / corpus term frequency), top-5 per domain with
    (score DESC, term ASC) ties. One corpus aggregate; the ranking
    window is vocabulary-bounded."""
    docs = load_table(spark, sf, "documents")
    return CP.topic_keywords(docs, domain_col="source", top_k=5)


def q_nb_cross_validate(spark: SparkSession, sf: str) -> DataFrame:
    """Model validation (round 7, wave 4): 5-fold cross-validation of
    the NB classifier (operators/corpus.py nb_cross_validate) — each
    portable-hash fold trains on the rest and scores its own slice;
    one exact-count accuracy row per fold. The oracle replays the NB
    chain once per fold (generated CTE renames). k corpus passes —
    the irreducible k-fold cost; the scale note prefers a single
    holdout or per-fold jobs over materialized tokenization."""
    docs = load_table(spark, sf, "documents")
    return CP.nb_cross_validate(docs, label_col="lang", k_folds=5, seed=11)


def q_mixture_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture health (round 7, wave 4): Gini + HHI + top-share of
    per-domain token mass (operators/corpus.py mixture_concentration)
    — the one-row concentration audit next to q_domain_mixture /
    q_doremi_step. Exact integer token counts; HHI over micro-unit
    shares; Gini by the sorted-rank closed form with an exact Σ r·c
    reduction; one corpus aggregate, then |domains|-row arithmetic."""
    docs = load_table(spark, sf, "documents")
    return CP.mixture_concentration(docs, domain_col="source")


def q_doremi_step(spark: SparkSession, sf: str) -> DataFrame:
    """Learned data mixtures (round 7, wave 4): one DoReMi
    exponentiated-gradient domain-reweighting step (Xie et al. 2023;
    operators/corpus.py doremi_step) — per-domain excess loss under
    the shared corpus unigram model vs the domain's own model drives
    the multiplicative update, with 10% uniform mixing. Iterating
    from q_domain_mixture's temperature weights toward the DoReMi
    optimum. One tokenize pass, two keyed aggregates, |domains|-row
    update arithmetic; single exp() per domain on a 6-dp grid
    argument."""
    docs = load_table(spark, sf, "documents")
    return CP.doremi_step(docs, domain_col="source", eta=1.0, smooth=0.1)


def q_classifier_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Model evaluation (round 7, wave 4): per-class precision /
    recall / F1 of the NB classifier's holdout predictions
    (operators/mining.py classifier_eval over corpus.nb_classify) —
    the measurement layer a trained corpus filter needs before its
    verdicts gate data. F1 via the exact-integer 2tp/(nA+nP)
    identity; classes = union of actual and predicted; degenerate
    denominators yield NULL."""
    docs = load_table(spark, sf, "documents")
    preds = CP.nb_classify(docs, label_col="lang", id_col="doc_id",
                           holdout_mod=5, holdout_rem=0, seed=11)
    return MN.classifier_eval(preds, "actual", "predicted")


def q_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup capstone (round 7, wave 4): the savings report
    (operators/text.py dedup_savings_report) — per near-dup group the
    canonical KEEP doc (longest, then smallest id) and exact
    total/kept/saved characters; the artifact a storage owner signs
    off on, complementing q_dedup_pipeline's group sizes. Inherits
    the verified-LSH grouping (unique texts only, never all-pairs)."""
    docs = load_table(spark, sf, "documents")
    return TX.dedup_savings_report(docs, jaccard_threshold=0.8)


def q_abtest_sprt(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential testing (round 7, wave 4): Wald SPRT over HOURLY
    enrollment cohorts (operators/aggregates.py sprt_daily_walk —
    grain is caller-chosen) — the always-valid early-stopping
    complement to q_abtest_welch's fixed-horizon test. Users hash
    into two arms (portable hash, so the split replays); conversion =
    a purchase WITHIN the user's enrollment hour (a fixed
    post-enrollment horizon ending at the cohort close, round-7
    advice) — so the LLR at each cohort's close uses only events an
    online monitor would already have observed at that boundary,
    keeping the always-valid early-stopping framing honest. The
    cumulative Bernoulli LLR walks the time-range-sized cohort table
    in exact integer micro-units against the ln((1−β)/α) /
    ln(β/(1−α)) boundaries. The per-observation textbook walk would
    be a corpus-sized serial scan; the cohort-grain walk is the
    aggregate-exact scale form."""
    ev = load_table(spark, sf, "events")
    close = F.date_trunc(
        "hour", F.min("ts").over(Window.partitionBy("user_id"))
    ) + F.expr("INTERVAL 1 HOUR")
    users = ev.withColumn("__close", close).groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("ts") < F.col("__close"))
            ).cast("int")
        ).alias("cv"),
    )
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("user_id").cast("string"), F.lit("31"))
    )
    obs = users.select(
        (h % 2).cast("int").alias("arm"),
        F.date_trunc("hour", F.col("first_ts")).alias("day"),
        F.col("cv"),
    )
    return agg.sprt_daily_walk(
        obs, F.col("arm"), F.col("cv"), F.col("day"),
        p0=0.25, p1=0.40, alpha=0.05, beta=0.05,
        period_name="cohort_hour",
    )


def q_percentile_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted quantiles (round 7, wave 3): exact quantity-weighted
    price percentiles per return flag (operators/aggregates.py
    weighted_percentile) — the importance-weighted quantile family
    (inverse-CDF definition: smallest value whose cumulative weight
    reaches ⌈p·total⌉, pure integer arithmetic on micro-unit weights,
    no interpolation). The corpus reduces to per-distinct-value cells
    before the running sum — the equidepth/KS sketch-size rule."""
    li = load_table(spark, sf, "lineitem")
    out = agg.weighted_percentile(
        li,
        ["l_returnflag"],
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        percentiles=(0.5, 0.9),
    )
    return O.sort(out, ["l_returnflag"])


def q_forecast_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-free forecast uncertainty (round 7, wave 3):
    split-conformal prediction intervals for the seasonal-naive
    forecaster (operators/timeseries.py conformal_forecast_intervals;
    Vovk / Lei et al. 2018) — calibration prefix (75%), interval
    half-width = the ⌈(n_cal+1)·0.9⌉-th smallest absolute calibration
    residual (an order statistic, no interpolation), per-day coverage
    on the evaluation tail. Exact micro-unit residual chain; all
    post-aggregate windows are time-range-sized."""
    e = load_table(spark, sf, "events")
    return TS.conformal_forecast_intervals(
        e, "ts", "value", period=24, cal_frac=0.75, alpha=0.1
    )


def q_retrieval_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval evaluation (round 7, wave 3): recall@10 / MRR@10 /
    nDCG@10 of the BM25 ranker over four single-term queries against
    the tf≥3 pseudo-relevance oracle (operators/text.py
    retrieval_eval) — the measurement layer of the retrieval stack.
    Base-e DCG discounts (the ratio IS standard nDCG) quantized to
    integer micro-units so DCG/IDCG are exact bigint sums; one
    tokenize pass, per-query ranking window, metric math on ≤k rows
    per query."""
    docs = load_table(spark, sf, "documents")
    return TX.retrieval_eval(
        docs, ["spark", "join", "window", "scan"], k=10, rel_tf=3
    )


def q_changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Drift monitor (round 7, wave 3): two-sided CUSUM over the hourly
    mean series (operators/timeseries.py cusum_changepoints; Page
    1954) — the sustained-shift detector that complements the
    per-point fences (q_anomaly_mad, q_anomaly_seasonal). The
    recurrence is rewritten as cumsum-minus-running-extremum (two
    ordered windows over the time-range-sized series), every
    accumulation an exact integer micro-unit, full trajectory + alarm
    flags emitted."""
    e = load_table(spark, sf, "events")
    return TS.cusum_changepoints(e, "ts", "value", slack=1.0, threshold=8.0)


def q_anomaly_seasonal(spark: SparkSession, sf: str) -> DataFrame:
    """Composed monitoring pipeline (round 7, wave 3): STL residual
    anomalies (operators/timeseries.py seasonal_anomalies) — decompose
    the hourly series (q_stl_decompose's exact micro-unit chain), then
    flag buckets whose residual breaks the 3σ-equivalent MAD fence.
    Residual thresholds catch departures from expected trend+season
    that raw-value fences (q_anomaly_mad) miss, and the medians run
    over the time-range-sized bucket series — sketch-sized at any
    corpus scale."""
    e = load_table(spark, sf, "events")
    return TS.seasonal_anomalies(e, "ts", "value", period=24,
                                 trend_halfwidth=12, n_sigmas=3.0)


def q_graph_labelprop(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative algorithm (round 7, wave 3): semi-supervised label
    propagation (operators/graph.py label_propagation) over the
    VERIFIED near-dup pair graph — a 1-in-4 portable-hash seed set
    keeps its lang label, and unlabeled docs adopt the majority
    neighbor label frontier-by-frontier for 2 rounds (monotone
    variant: labeled nodes never flip, so no oscillation and the
    oracle unrolls both rounds as CTEs over the same exact-Jaccard
    pair replay as q_graph_components). Ties break (count DESC,
    label ASC) via grouped MAX + equi-join."""
    docs = load_table(spark, sf, "documents")
    pairs = TX.minhash_verified_pairs(docs, threshold=0.8)
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("doc_id").cast("string"), F.lit("23"))
    )
    seeds = docs.filter(h % 4 == 0).select("doc_id", F.col("lang").alias("label"))
    out = GR.label_propagation(
        pairs, seeds, src="id_a", dst="id_b", node_col="doc_id", rounds=2
    )
    return O.sort(
        out.select(F.col("node").alias("doc_id"), "label", "round_assigned"),
        ["doc_id"],
    )


def q_stats_equidepth(spark: SparkSession, sf: str) -> DataFrame:
    """Optimizer statistics (round 7, wave 3): per-event-type
    equi-depth histogram of value (operators/aggregates.py
    equidepth_histogram) — the ANALYZE-style equal-frequency bins CBOs
    store. Boundaries are actual data values picked by pure integer
    ceil arithmetic on exact cumulative counts (no quantile
    interpolation); the corpus reduces to per-distinct-value cells
    before any window touches it (the KS sketch-size rationale)."""
    e = load_table(spark, sf, "events")
    out = agg.equidepth_histogram(e, ["event_type"], F.col("value"), n_bins=8)
    return O.sort(out, ["event_type", "bin"])


def q_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 6): top principal component of the embedding
    covariance by matrix-free distributed power iteration
    (operators/vectors.py pca_top_component) — the whitening /
    compression primitive before quantization or IVF-PQ. Each
    iteration is ONE aggregate pass (per-row centered dot against the
    broadcast v, then per-dimension exact integer micro-unit sums —
    the kmeans determinism contract), with v re-normalized and rounded
    to 6 dp at every boundary so the DuckDB twin replays the entire
    trajectory (mean → two iterations → Rayleigh eigenvalue)
    bit-for-bit."""
    emb = load_table(spark, sf, "embeddings")
    return O.sort(V.pca_top_component(emb, iterations=2), ["dim"])


def q_dp_release(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 6): ε-differentially-private aggregate release
    (operators/privacy.py — Laplace mechanism, Dwork et al. TCC 2006):
    per-event-type noisy counts (Δ=1) and contribution-CLIPPED noisy
    sums (value clamped to [0, 50] ⇒ Δ=50), ε=1. The Laplace draws are
    deterministic inverse-CDF transforms of the portable 60-bit hash of
    (key, seed), so the oracle replays hash → u → −(Δ/ε)·sign(u)·
    ln(1−2|u|) → release exactly; swapping the hash draw for rand()
    recovers the production mechanism with the same aggregate plan."""
    from nyc_tlc_trip_data_pipelines_spark.operators import privacy as PV

    e = load_table(spark, sf, "events")
    counts = PV.dp_noisy_counts(e, ["event_type"], epsilon=1.0, seed=7)
    sums = PV.dp_noisy_sum(
        e, ["event_type"], F.col("value"), 0.0, 50.0, epsilon=1.0, seed=7
    )
    return O.sort(counts.join(sums, "event_type"), ["event_type"])


def q_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series smoothing (round 5): bounded-window EWMA (α=0.5,
    window=10) of event value per user (operators/timeseries.py ewma).
    All weights and the normalizer are exact powers of two, so the
    fixed LAG chain is bit-reproducible across engines; the row_number
    completeness filter shares the SAME window spec (one exchange,
    plan-fenced). Rows with fewer than 9 prior events are dropped
    rather than averaged over a short window."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    smoothed = TS.ewma(
        "value", ["user_id"], [F.col("ts"), F.col("event_id")], alpha=0.5, window=10
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(smoothed, 6).alias("ewma_value"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 10)
        .drop("rn")
    )


def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus quality scoring (round 5): bigram language model with
    add-k smoothing trained on the corpus itself, each document scored
    by its average negative log-likelihood — the CCNet-style
    perplexity-partition signal used to rank web text against a
    reference LM. ``logp(b|a) = ln((C(ab)+k)/(C(a)+k·V))``, k = 0.5.

    Plan shape: one tokenize pass feeds unigram counts (vocabulary-
    sized) and bigram counts (≤V² rows); both model tables broadcast
    back onto the per-occurrence bigram stream, so the only corpus-
    sized shuffle is the final per-doc aggregate. At 100 TB with a
    real vocabulary, the model tables stay vocabulary-sized (not
    corpus-sized) — broadcast while they fit, shuffle-join beyond.
    Float-order determinism: per-bigram log-probs are quantized to
    integer MICRO-NATS (round(lp·1e6) as bigint) so the per-doc sum
    is exact integer arithmetic — a rounded mean of doubles sits on a
    rounding boundary every few thousand docs, an integer sum never
    does (same scaled-integer pattern as q_window_distribution).
    Docs with <2 tokens have no bigrams and drop out on both
    engines. Consumers take nll_unats / (1e6·n_bigrams) as the
    per-token score."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokenize("text")).alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    # codegen shingling (token_ngram_rows), NOT the interpreted
    # higher-order ngrams lambda — measured 4× on this exact stream
    # (big.count at sf0.1: 3.5 s interpreted vs codegen sub-second),
    # and the bigram stream is checkpointed: the model and the scoring
    # both read it
    big = TX.token_ngram_rows(docs, "doc_id", "text", 2, gram_alias="bg").localCheckpoint()
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        big.join(F.broadcast(bgc), "bg")
        .withColumn("a", F.substring_index("bg", " ", 1))
        .join(F.broadcast(uni.withColumnRenamed("term", "a")), "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("cb") + F.lit(0.5)) / (F.col("cu") + F.lit(0.5) * F.col("v")))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("lp_unats"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("lp_unats")).cast("long").alias("nll_unats"),
    )


def q_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Featurization (round 5): the hashing trick (Weinberger et al.,
    "Feature Hashing for Large Scale Multitask Learning") — tokens
    hashed into 32 buckets with a sign bit from a disjoint hash range,
    emitted as the sparse (doc, bucket, count, signed_sum) layout a
    trainer consumes. Uses the cross-engine portable_hash60 (md5-
    derived, non-negative) so bucket and sign replay bit-identically
    in SQL. Zero joins: tokenize → hash → one (doc, bucket)
    aggregate; dimensionality is fixed at write time, so at 100 TB
    this is one shuffle keyed on (doc, bucket) regardless of
    vocabulary growth — the point of hashing features."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokenize("text")).alias("term"))
    h = TX.portable_hash60(F.col("term"))
    sign = (F.shiftright(h, 5) % 2) * 2 - 1
    return (
        toks.select(
            "doc_id",
            F.pmod(h, F.lit(32)).alias("bucket"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("s").cast("long").alias("signed_sum"),
        )
    )


def q_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series robust smoothing (round 5): exact sliding-window
    median (the median filter — outlier-resistant where q_ewma is not)
    over the trailing 9 rows per user. ``percentile(…, 0.5)`` as a
    WINDOW aggregate over a ROWS frame — exact interpolated median on
    both engines (same (n−1)·p rank rule as q_winsorize). One window
    exchange shared with the completeness row_number. At 100 TB exact
    windowed percentiles re-sort each frame — for wide frames switch
    to approx_percentile or a two-heap applyInPandas; the 9-row frame
    here is the cheap regime."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-8, 0)
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.expr("percentile(value, 0.5)").over(wf), 6).alias("med9"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 9)
        .drop("rn")
    )


def q_crosstab_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical feature audit (round 5): lang × length-bucket
    contingency table with per-cell chi-squared contributions — the
    independence check a corpus curator runs before stratifying on a
    feature (is document length confounded with language?). Observed
    counts are exact integers; expected counts and the χ² contribution
    ``(obs−exp)²/exp`` are a fixed arithmetic tree over those integers
    (rounded 6 dp), so the oracle replays bit-identically. Plan: the
    cell table plus each marginal is its own aggregate over the
    2-column pruned scan (4 cheap passes), all joined by broadcast —
    deliberately NOT a grouping-sets single pass, which would Expand
    (×3) the fact rows through one shuffle; re-scanning two pruned
    columns is the better trade at 100 TB."""
    docs = load_table(spark, sf, "documents")
    d = docs.select(
        "lang", (F.col("n_chars") >= 300).cast("int").alias("len_bucket")
    )
    cells = d.groupBy("lang", "len_bucket").agg(F.count(F.lit(1)).alias("obs"))
    row_m = d.groupBy("lang").agg(F.count(F.lit(1)).alias("row_n"))
    col_m = d.groupBy("len_bucket").agg(F.count(F.lit(1)).alias("col_n"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    out = (
        cells.join(F.broadcast(row_m), "lang")
        .join(F.broadcast(col_m), "len_bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "len_bucket",
            "obs",
            F.round(exp, 6).alias("expected"),
            F.round((F.col("obs") - exp) * (F.col("obs") - exp) / exp, 6).alias(
                "chi2_cell"
            ),
        )
    )
    return O.sort(out, ["lang", "len_bucket"])


def q_source_jsonl(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL corpus source (round 5): newline-delimited JSON — THE
    interchange format LLM corpora ship in — read under an explicit
    schema with PERMISSIVE corrupt-record capture (the JSON twin of
    q_csv_corrupt_isolation's row-level quarantine; reference per-file
    isolation: ``pasta1_etl/src/main.py:154-199``). A deterministic
    200-line fixture (every 9th line truncated JSON, every 7th valid
    JSON whose score field is a wrong-typed string — which in JSON
    PERMISSIVE parsing corrupts the RECORD, not just the field, unlike
    CSV) is parsed; the oracle recomputes counts + checksum closed-form.
    At 100 TB: explicit schema (no inference pass), corrupt rows
    quarantined not fatal, and .json(path) parallelizes by file
    split — the standard ingest posture."""
    n = 200
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "docs.jsonl")
        with open(path, "w") as fh:
            for i in range(n):
                if i % 9 == 0:
                    fh.write(f'{{"id": {i}, "text": "broke\n')  # truncated JSON
                elif i % 7 == 0:
                    fh.write(f'{{"id": {i}, "text": "t{i}", "score": "notnum"}}\n')
                else:
                    fh.write(f'{{"id": {i}, "text": "t{i}", "score": {i * 2}}}\n')
        schema = "id BIGINT, text STRING, score BIGINT, _corrupt_record STRING"
        df = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
            .cast("long")
            .alias("n_corrupt"),
            F.sum(F.col("_corrupt_record").isNull().cast("int"))
            .cast("long")
            .alias("n_valid"),
            F.sum(F.coalesce(F.col("score"), F.lit(0))).cast("long").alias("score_sum"),
        ).collect()[0]
    return spark.createDataFrame(
        [tuple(row)], "n_rows bigint, n_corrupt bigint, n_valid bigint, score_sum bigint"
    )


def q_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Forensic DQ (round 5): Benford first-significant-digit analysis
    of o_totalprice — the classic fabricated-data detector (naturally
    occurring multi-magnitude amounts follow P(d)=log10(1+1/d); entered
    or synthesized ones usually don't). Exact integer digit counts, the
    Benford expectation as a fixed arithmetic tree, and the deviation
    in counts — one aggregate over the scan, a broadcast total, zero
    joins on the fact side beyond it. Complements q_dq_profile
    (structure) and q_dq_validate (rules) with a distributional
    audit."""
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 0)
    # exact integer cents, then the leading digit of the INTEGER's
    # string form — double→string rendering differs across engines,
    # bigint→string never does (×100 preserves the significant digit
    # for any amount ≥ 0.01)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("n"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    out = counts.crossJoin(F.broadcast(tot)).select(
        "d",
        "n_obs",
        F.round(expected, 6).alias("benford_p"),
        F.round(F.col("n_obs").cast("double") / F.col("n") - expected, 6).alias(
            "deviation"
        ),
    )
    return O.sort(out, ["d"])


def q_join_nullsafe(spark: SparkSession, sf: str) -> DataFrame:
    """Relational surface (round 5): null-safe equality join (``<=>`` /
    IS NOT DISTINCT FROM) — NULL keys MATCH each other instead of
    dropping, the semantics dedup/merge pipelines need when a business
    key is nullable. Fixture derives a nullable key on both sides
    (priority prefix, NULLed for one slice); the hash join still plans as
    a hash join (null-safe equality is hashable), unlike an OR-based
    emulation which degrades to nested-loop."""
    o = load_table(spark, sf, "orders")
    left = o.select(
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.substring(F.col("o_orderpriority"), 1, 1))
        .alias("k"),
    )
    right = (
        o.groupBy(
            F.when(F.col("o_orderkey") % 5 == 0, None)
            .otherwise(F.substring(F.col("o_orderpriority"), 1, 1))
            .alias("k")
        )
        .agg(F.count(F.lit(1)).alias("grp_n"))
    )
    j = left.join(right, left["k"].eqNullSafe(right["k"])).select(
        left["k"].alias("k"), "grp_n"
    )
    out = j.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("grp_n").alias("grp_sum")
    )
    return O.sort(out, ["k"])


def q_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Relational surface (round 5): LATERAL correlated subquery — for
    each region, the top-2 nations by total customer account balance,
    where the inner query references the outer row (Spark 4 LATERAL,
    same syntax DuckDB runs verbatim). The decorrelated plan is a
    window top-k, not N executions of the subquery — Catalyst rewrites
    the lateral into a join, which is what survives 100 TB."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.bal
        FROM region r,
        LATERAL (
            SELECT n.n_name, ROUND(SUM(c.c_acctbal), 4) AS bal
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY bal DESC, n.n_name
            LIMIT 2
        ) t
        ORDER BY r.r_name, t.bal DESC, t.n_name
        """
    )


def q_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence analytics (round 5, wave 3): first-order Markov
    transition matrix over the event stream — count and conditional
    probability of every observed event-type transition per user
    session stream (operators/timeseries.py markov_transitions). One
    lag exchange on user_id; the matrix itself is |states|² rows, so
    everything after the lag is broadcast-sized at any corpus scale."""
    e = load_table(spark, sf, "events")
    out = TS.markov_transitions(
        e, "event_type", ["user_id"], [F.col("ts"), F.col("event_id")]
    )
    return O.sort(out, ["prev_state", "state"])


def q_time_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series repair (round 5, wave 3): linear interpolation of
    NULL value gaps per user (operators/timeseries.py
    interpolate_linear) — every event whose value is masked (event_id %
    7 == 0, a deterministic stand-in for sensor dropout) is rebuilt as
    the time-weighted blend of its nearest surviving neighbours; edge
    gaps clamp to the single neighbour. Timestamps enter the ratio as
    exact integer microseconds so both engines divide identical
    doubles. One window exchange on user_id, no join (the complement of
    q_time_gapfill, which fills missing ROWS)."""
    e = (
        load_table(spark, sf, "events")
        .withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("v", F.when(F.col("event_id") % 7 != 0, F.col("value")))
    )
    interp = TS.interpolate_linear("v", "ts_us", ["user_id"], [F.col("ts_us"), F.col("event_id")])
    return e.select(
        "event_id",
        "user_id",
        (F.col("event_id") % 7 == 0).alias("was_gap"),
        F.round(interp, 6).alias("value_filled"),
    )


def q_group_regress(spark: SparkSession, sf: str) -> DataFrame:
    """Analytics surface (round 5, wave 3): per-event-type OLS of value
    against hour-of-day (operators/aggregates.py ols_group) — the
    "does this metric drift over the day" trend test, computed from
    sufficient statistics in ONE aggregate pass (never per-group
    vectors). x = hour (int), y = centi-units (round(value·100) —
    the column is 2-dp money, so the quantization is LOSSLESS and
    Σy² stays far inside bigint; micro-units would overflow Spark's
    bigint Σy² at 10⁴ rows/group), so both engines sum exact integers
    and divide identical doubles."""
    e = load_table(spark, sf, "events")
    out = agg.ols_group(
        e,
        ["event_type"],
        F.hour("ts"),
        F.round(F.col("value") * 100, 0),
        y_scale=100,
    )
    return O.sort(out, ["event_type"])


def q_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Analytics surface (round 5, wave 3): 2-D Pareto frontier over
    lineitem — the (quantity, extendedprice) points nothing else beats
    on both axes (operators/windows.py skyline_2d). Sort-based linear
    algorithm: best-y-per-x aggregate, then one running-max window —
    never the quadratic NOT-EXISTS self-join the ORACLE deliberately
    uses (independent formulations, same rows)."""
    li = load_table(spark, sf, "lineitem")
    out = W.skyline_2d(li, "l_quantity", "l_extendedprice")
    return O.sort(
        out.select(F.col("x").alias("quantity"), F.col("y").alias("best_price")),
        ["quantity"],
    )


def q_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval surface (round 5, wave 3): exact quoted-phrase search
    — documents containing "table value" as consecutive tokens,
    with per-doc occurrence counts (operators/text.py phrase_count).
    Codegen position-explode + scalar element_at adjacency, filtered
    BEFORE the aggregate so the only shuffle is hits-sized; no posting
    join; counts overlapping starts — order-aware where BM25 is
    bag-of-words. Oracle replays the same indexed adjacency via a
    DuckDB list comprehension (regex is not equivalent: non-overlapping
    and RE2 has no lookahead)."""
    docs = load_table(spark, sf, "documents")
    out = TX.phrase_count(docs, ["table", "value"])
    return O.sort(out, ["doc_id"])


def q_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch surface (round 5, wave 3): DataSketches HLL distinct
    users per (lang, source) UNIONED up to per-lang — the second grain
    re-aggregates kilobyte sketch binaries, never rescans the corpus
    (operators/aggregates.py hll_rollup; the mergeable-sketch step
    approx_count_distinct can't express because it hides the sketch).
    Oracle contract: exact per-lang distinct via DuckDB, plus an
    ``est_ok`` verdict that the union estimate lands within ±5 % of
    exact (DataSketches rse at lg_k=12 is ≈1.6 %, so the band is ~3σ;
    same tolerance-verdict pattern as q_ann_recall / E12)."""
    docs = load_table(spark, sf, "documents")
    est = agg.hll_rollup(docs, ["lang", "source"], ["lang"], "doc_id", lg_k=12)
    exact = docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n_exact"))
    out = est.join(exact, "lang").select(
        "lang",
        "n_sketches",
        "n_exact",
        (
            F.abs(F.col("distinct_est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("est_ok"),
    )
    return O.sort(out, ["lang"])


def q_heavy_hitters_cms(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch surface (round 5, wave 3): Count-Min point-frequency
    estimates for the event-type heavy hitters (operators/aggregates.py
    cms_point_estimates) — one fixed-size mergeable sketch pass, probed
    for the 5 known types. Oracle contract: exact counts from DuckDB
    plus a ``cms_ok`` verdict replaying the one-sided CM guarantee
    ``exact ≤ est ≤ exact + eps·N`` (est can only overcount; at
    eps=1e-4 the slack is N/10000)."""
    e = load_table(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    est = agg.cms_point_estimates(e, "event_type", types, eps=0.0001, seed=42)
    # N for the eps·N slack comes from a global window over the exact
    # per-type aggregate (a handful of rows) — NOT a third full scan of
    # events via an eager count()
    exact = e.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    exact = exact.withColumn(
        "__n_total", F.sum("n_exact").over(Window.partitionBy(F.lit(1)))
    )
    out = est.join(exact, "key").select(
        F.col("key").alias("event_type"),
        "n_exact",
        (
            (F.col("est") >= F.col("n_exact"))
            & (F.col("est") <= F.col("n_exact") + 0.0001 * F.col("__n_total"))
        ).alias("cms_ok"),
    )
    return O.sort(out, ["event_type"])


def q_join_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Join optimization (round 5, wave 3): bloom-filter semi-join
    reduction — lineitem is filtered by a portable 8192-bit bloom over
    the p_size=15 part keys BEFORE the exact join (operators/joins.py
    bloom_prefilter), the standard technique for cutting a 100 TB fact
    shuffle down to near the match set. False negatives are impossible,
    so the aggregated result is byte-identical to the plain join — the
    oracle IS the plain join, which checks exactly that invariant.
    min_big_bytes=0 forces the bloom on: the round-8 production floor
    (64 MiB big-side size estimate) would skip it at bench SFs, and
    this query exists to exercise the bloom machinery itself."""
    li = load_table(spark, sf, "lineitem")
    parts = load_table(spark, sf, "part").filter(F.col("p_size") == 15)
    pruned = J.bloom_prefilter(li, "l_partkey", parts, "p_partkey", min_big_bytes=0)
    out = (
        pruned.join(F.broadcast(parts), pruned.l_partkey == parts.p_partkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )
    return O.sort(out, ["l_returnflag"])


def q_train_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Training-export surface (round 5, wave 3): deterministic seeded
    shuffle of the corpus into 8 shards with stable in-shard positions
    (operators/corpus.py stable_shuffle) — the reproducible-epoch
    contract: same salt ⇒ same permutation on any engine or cluster
    size; the oracle replays the md5 draw and the (hash, id) rank, so
    the hash match proves the EXACT permutation, not just shard
    counts."""
    docs = load_table(spark, sf, "documents")
    out = CP.stable_shuffle(docs, id_col="doc_id", n_shards=8, salt="epoch1")
    return O.sort(out.select("doc_id", "shard", "shard_pos"), ["doc_id"])


def q_dedup_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion dedup (round 5, wave 3): the LSH index as
    a MATERIALIZED table — signatures+bands of the existing corpus
    (doc_id % 10 != 0) written to parquet partitioned by band, then a
    new ingest batch (doc_id % 10 == 0) probes the stored index and
    exact-verifies candidates (operators/text.py minhash_band_index /
    probe_band_index). The 100 TB mode: each document is
    signature-hashed ONCE ever; later batches never re-LSH the corpus
    (the text twin of q_ann_index_probe). Oracle is the independent
    all-pairs exact cross-batch Jaccard at the same threshold."""
    docs = load_table(spark, sf, "documents")
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "lsh_index")
        # repartition by the partition column first: one file per band
        # (16) instead of tasks × bands small files (512 measured)
        index = TX.minhash_band_index(TX.minhash_signatures(existing))
        index.repartition("band").write.partitionBy("band").parquet(path)
        idx = spark.read.parquet(path)
        rows = [
            (r.new_id, r.idx_id, r.jaccard)
            for r in TX.probe_band_index(idx, batch, docs, threshold=0.8).collect()
        ]
    out = spark.createDataFrame(
        rows or [(None, None, None)], "new_id bigint, idx_id bigint, jaccard double"
    )
    if not rows:
        out = out.filter(F.col("new_id").isNotNull())
    return O.sort(out, ["new_id", "idx_id"])


def q_join_interval_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Join optimization (round 5, wave 3): bucketed interval-overlap
    join (operators/joins.py interval_bucket_join) — purchases that
    fall inside "incident windows" (error events above the ~p99 value,
    window = value minutes). With NO equi-key, Spark plans the raw
    range predicate as BroadcastNestedLoopJoin — O(n·m); the bucket
    decomposition (intervals exploded to 1 h buckets, points mapped
    to their single bucket, hash equi-join on bucket, exact re-check)
    is linear and AQE-splittable. Coordinates are exact integer
    microseconds. Oracle is the plain theta join — byte-identical
    results, different plan class."""
    e = load_table(spark, sf, "events")
    incidents = e.filter((F.col("event_type") == "error") & (F.col("value") > 200)).select(
        F.col("event_id").alias("incident_id"),
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.round(F.col("value") * 60_000_000, 0).cast("long")).alias(
            "e_us"
        ),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.unix_micros("ts").alias("p_us")
    )
    out = J.interval_bucket_join(
        incidents, purchases, "s_us", "e_us", "p_us", bucket_width=3_600_000_000
    )
    return O.sort(out.select("incident_id", "purchase_id"), ["incident_id", "purchase_id"])


def q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """DQ surface (round 5, wave 3): Population Stability Index — did
    the event-type mix move between the baseline week and the rest of
    the month (operators/dq.py psi_drift)? The production drift
    monitor: per-bucket (p−q)·ln(p/q) terms from one hash aggregate
    per side plus a broadcast totals join; buckets on one side only
    surface as NULL terms instead of a clamped ±inf. The
    distributional complement to q_dq_profile (structure) /
    q_dq_validate (rules) / q_benford (digit law)."""
    e = load_table(spark, sf, "events")
    cut = "2024-01-08 00:00:00"
    out = DQ.psi_drift(
        e.filter(F.col("ts") < cut),
        e.filter(F.col("ts") >= cut),
        "event_type",
        alias="event_type",
    )
    return O.sort(out, ["event_type"])


def q_jackknife(spark: SparkSession, sf: str) -> DataFrame:
    """Statistics surface (round 5, wave 3): delete-one-group jackknife
    (operators/aggregates.py jackknife_group_means) — for each event
    type, the global mean value WITHOUT that type, from sufficient
    statistics in one pass: the "is one source dragging the metric"
    error-bar primitive, at aggregate cost instead of B bootstrap
    rescans. Centi-unit integer sums keep both engines exact."""
    e = load_table(spark, sf, "events")
    out = agg.jackknife_group_means(
        e, "event_type", F.round(F.col("value") * 100, 0), y_scale=100
    )
    return O.sort(out, ["event_type"])


def q_multimodal_scene_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal surface (round 5, wave 3): shot-boundary keyframe
    detection — decode every Y4M frame's luma mean and flag jumps
    > 20 from the previous frame (operators/multimodal.py
    detect_scene_changes). The temporal diff happens INSIDE the decode
    UDF (a video's frames are row-local): one Arrow mapInPandas pass,
    no window, no shuffle of payload bytes. Oracle replays the fixture
    pixel formula with a LAG — the hash match proves decode AND the
    scene flags."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    media = MM.make_y4m_media(spark, 24)
    return O.sort(MM.detect_scene_changes(media, threshold=20.0), ["media_id", "frame"])


def q_multimodal_silence_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal surface (round 5, wave 3): VAD-style silence
    segmentation — 80-sample (10 ms) energy frames per WAV, a frame is
    silent when its peak |amplitude| stays under 5000, trim points are
    the first/last voiced frame (operators/multimodal.py
    segment_silence). The leading/trailing-silence trim audio training
    pipelines run before featurization, and the audio counterpart of
    q_multimodal_scene_detect — temporal structure resolved INSIDE one
    row's payload, no window, no shuffle. Oracle replays the PCM
    fixture formula per frame."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as MM

    media = MM.make_wav_media(spark, 48)
    return O.sort(MM.segment_silence(media, frame_len=80, threshold=5000), ["media_id"])


def q_custom_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Connector surface (round 5, wave 3): custom Python DataSource
    WRITER (datasource.py ObjectStoreJsonlSink) — executor-parallel
    JSONL shards with a temp-file + driver-manifest commit protocol,
    the egress twin of q_custom_datasource's listing reader (reference
    boto3 upload, utils.py:68-84). The query plants a stray
    non-committed shard before reading back THROUGH the manifest, so
    the hash match proves both the write path and that readers can't
    see uncommitted files. Oracle aggregates the source directly."""
    from nyc_tlc_trip_data_pipelines_spark import datasource as DS

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "sink")
        DS.register(spark)
        docs.write.format("objectstore_jsonl").option("root", root).mode(
            "append"
        ).save()
        with open(os.path.join(root, "part-zzz-stray.jsonl"), "w") as fh:
            fh.write('{"doc_id": 999999999, "lang": "xx", "n_chars": 1}\n')
        back = DS.read_jsonl_sink(
            spark, root, "doc_id bigint, lang string, n_chars bigint"
        )
        rows = (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .collect()
        )
    out = spark.createDataFrame(
        [(r.lang, r.n_docs, r.sum_chars) for r in rows],
        "lang string, n_docs bigint, sum_chars bigint",
    )
    return O.sort(out, ["lang"])


def q_stream_drift(spark: SparkSession, sf: str) -> DataFrame:
    """E35g (round 5, wave 3): streaming drift monitor — the
    current-window event-type counts are maintained INCREMENTALLY by a
    streaming aggregation (availableNow replay, complete mode), then
    PSI'd against the static baseline week via operators/dq.py
    psi_from_counts, so the monitor never re-reads the stream. Output
    and oracle are IDENTICAL to the batch q_psi_drift — the
    batch-stream equivalence contract the other E35 queries use."""
    from nyc_tlc_trip_data_pipelines_spark import streaming as ST

    cut = "2024-01-08 00:00:00"
    stream = _replay_events(spark, sf)
    curr_stream = (
        stream.filter(F.col("ts") >= cut)
        .groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_curr"))
    )
    curr = ST.run_to_memory_sink(curr_stream, "q_stream_drift_sink")
    base = (
        load_table(spark, sf, "events")
        .filter(F.col("ts") < cut)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    return O.sort(DQ.psi_from_counts(base, curr, alias="event_type"), ["event_type"])


def q_geo_radius_join(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial surface (round 5, wave 3): grid-bucketed radius
    self-join (operators/layout.py grid_radius_pairs) — all point
    pairs within Euclidean distance 1.5 over the same synthetic
    lat/lon as q_geo_binning, via cells of side r and a 3×3 neighbor
    explode on one side: hash equi-join on cell, exact squared-
    distance re-check, never the O(n²) nested loop the raw predicate
    plans as. The 2-D sibling of q_join_interval_bucket. Oracle is
    the plain theta self-join — byte-identical pairs, different plan
    class."""
    ev = load_table(spark, sf, "events")
    pts = ev.select(
        F.col("event_id").alias("pid"),
        ((F.col("user_id") % 180) - 90 + 0.25).cast("double").alias("x"),
        ((F.col("event_id") % 360) - 180 + 0.25).cast("double").alias("y"),
    )
    out = LO.grid_radius_pairs(pts, "pid", "x", "y", radius=1.5)
    return O.sort(out, ["id_a", "id_b"])


def q_xml_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Format surface (round 5, wave 3): XML ingest via Spark 4's
    native ``from_xml`` — the third semi-structured format beside JSON
    (q_json_flatten / q_source_jsonl) and VARIANT (q_variant_json),
    and a real enterprise interchange gap until Spark 4 absorbed
    spark-xml. Round-trip contract: XML records are BUILT from orders
    rows (entity-escaped), parsed back under an explicit schema, and
    the aggregate of the parsed fields must equal the direct source
    aggregate — proving build, escape, parse, and typed extraction in
    one hash. DuckDB has no XML parser, so the oracle aggregates the
    source directly (the round-trip identity IS the test, same pattern
    as q_json_flatten)."""
    o = load_table(spark, sf, "orders")
    esc = F.replace(
        F.replace(
            F.replace(F.col("o_orderpriority"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    xml = o.select(
        F.format_string(
            "<order><k>%d</k><st>%s</st><tp>%.2f</tp><pri>%s</pri></order>",
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            esc,
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "k BIGINT, st STRING, tp DOUBLE, pri STRING").alias("r")
    ).select("r.*")
    out = parsed.groupBy("st").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("tp"), 2).alias("sum_price"),
        F.countDistinct("pri").alias("n_priorities"),
    )
    return O.sort(out, ["st"])


def q_sql_parameterized(spark: SparkSession, sf: str) -> DataFrame:
    """API surface (round 5, wave 3): parameterized SQL (Spark 3.4+
    named parameters) — the TPC-H Q6 shape with every constant bound
    via ``args={...}`` instead of string interpolation: the
    injection-proof templating a multi-tenant query service needs
    (parameters are typed literals in the plan, never re-parsed text,
    so a hostile string cannot change query structure). Same pushed
    scan filters as the inlined Q6 (plan-identical)."""
    _register(spark, sf)
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
        FROM lineitem
        WHERE l_shipdate >= :date_lo AND l_shipdate < :date_hi
          AND l_discount BETWEEN :disc - 0.01 AND :disc + 0.01
          AND l_quantity < :qty
        """,
        args={"date_lo": "1994-01-01", "date_hi": "1995-01-01", "disc": 0.06, "qty": 24},
    )


def q_grouped_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """API surface (round 5, wave 3): Arrow-NATIVE grouped map
    (``applyInArrow``, Spark 4) — the zero-pandas lane of the Python
    execution surface: each group arrives as a ``pyarrow.Table`` and
    per-group stats come from Arrow compute kernels, skipping the
    pandas conversion tax ``applyInPandas`` (q_grouped_map) pays.
    For exact built-in-expressible stats like these the JVM aggregate
    is still the right plan — this query exists to pin the API lane a
    real pipeline needs when a Python-only library must see whole
    groups; outputs are rounded so the Arrow kernel results replay in
    SQL exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = load_table(spark, sf, "events")

    # NOTE: no type annotations on the UDF — applyInArrow infers its
    # eval type from hints and trips over string annotations
    def stats(key, table):
        v = table["value"]
        return pa.table(
            {
                "event_type": [key[0]],
                "n": [table.num_rows],
                "mean_v": [round(pc.mean(v).as_py(), 6)],
                "max_v": [pc.max(v).as_py()],
            }
        )

    out = e.groupBy("event_type").applyInArrow(
        stats, "event_type string, n bigint, mean_v double, max_v double"
    )
    return O.sort(out, ["event_type"])


def q_csv_inrow(spark: SparkSession, sf: str) -> DataFrame:
    """Format surface (round 5, wave 3): IN-ROW CSV — ``to_csv`` packs
    typed columns into one delimited string per row, ``from_csv``
    parses it back under an explicit schema (the embedded-CSV-column
    shape: Kafka payloads, log fields — distinct from the file-level
    q_sink_csv). Round-trip contract like q_xml_ingest: the aggregate
    of the re-parsed fields must equal the direct source aggregate."""
    li = load_table(spark, sf, "lineitem")
    packed = li.select(
        F.to_csv(F.struct("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")).alias(
            "line"
        )
    )
    parsed = packed.select(
        F.from_csv(
            "line", F.lit("k bigint, qty double, price double, rf string")
        ).alias("r")
    ).select("r.*")
    out = parsed.groupBy("rf").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("qty"), 2).alias("sum_qty"),
        F.round(F.sum("price"), 2).alias("sum_price"),
    )
    return O.sort(out, ["rf"])


def q_collated_group(spark: SparkSession, sf: str) -> DataFrame:
    """String-semantics surface (round 5, wave 3): collation-aware
    grouping (Spark 4 collations) — a mixed-case lang column groups
    case-insensitively under ``UTF8_LCASE`` without rewriting the data
    through lower(); the deterministic canonical key is recovered as
    ``min(lower(col))`` inside the aggregate (the grouped
    REPRESENTATIVE of a collated key is otherwise first-seen — never
    hash on it). SCALE TRAP, measured here and worth knowing: collated
    strings lose binary equality, so Spark 4.1 refuses HASH joins on
    collated keys (falls back to BroadcastNestedLoop — the planner
    warns "keys that don't support binary equality"). Collation is a
    comparison-semantics tool; for 100 TB JOINS keep a normalized
    binary-stable key column and reserve collation for
    filters/grouping like this one."""
    docs = load_table(spark, sf, "documents").withColumn(
        "lang_mixed",
        F.when(F.col("doc_id") % 2 == 0, F.initcap("lang")).otherwise(F.col("lang")),
    )
    out = (
        docs.groupBy(F.collate(F.col("lang_mixed"), "UTF8_LCASE").alias("__ck"))
        .agg(
            F.min(F.lower("lang_mixed")).alias("lang_key"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("lang_key", "n_docs")
    )
    return O.sort(out, ["lang_key"])


def q_sketch_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch surface (round 5, wave 3): distinct-INTERSECTION
    estimation via KMV sketches (operators/aggregates.py kmv_sketch /
    kmv_intersection) — "how many (user, day) activity slots saw BOTH
    a click and a purchase", answered from two 256-hash sketches
    instead of a full distinct-intersect: the set operation HLL union
    can't express. Exact counts ride along hash-checked; the estimate
    carries a ±20 % verdict (measured rel. err 0.5 % at k=256 —
    the band is ~5σ)."""
    e = load_table(spark, sf, "events")
    slot = (F.col("user_id") * 100 + F.dayofmonth("ts")).alias("slot")
    clicks = e.filter(F.col("event_type") == "click").select(slot)
    buys = e.filter(F.col("event_type") == "purchase").select(slot)
    sk_c = agg.kmv_sketch(clicks, F.col("slot"), k=256)
    sk_p = agg.kmv_sketch(buys, F.col("slot"), k=256)
    est = agg.kmv_intersection(sk_c, sk_p, k=256).collect()[0]
    n_a = clicks.distinct().count()
    n_b = buys.distinct().count()
    n_int = clicks.intersect(buys).count()
    return spark.createDataFrame(
        [
            (
                n_a,
                n_b,
                n_int,
                bool(abs(est.est_intersection - n_int) <= 0.2 * n_int),
            )
        ],
        "n_a_exact bigint, n_b_exact bigint, n_int_exact bigint, est_ok boolean",
    )


def q_corr_group(spark: SparkSession, sf: str) -> DataFrame:
    """Statistics surface (round 5, wave 3): per-returnflag Pearson
    correlation of quantity vs extended price (operators/aggregates.py
    corr_group) — integer sufficient statistics accumulated as exact
    128-bit DECIMAL (bigint Σy² would overflow at sf0.1's row counts),
    one cast to double per sum, closed form over identical doubles.
    The bit-stable contract twin of the built-in ``corr``."""
    li = load_table(spark, sf, "lineitem")
    out = agg.corr_group(
        li,
        ["l_returnflag"],
        F.col("l_quantity"),                       # integer-valued already
        F.round(F.col("l_extendedprice") * 100, 0),  # lossless centi-units
    )
    return O.sort(out, ["l_returnflag"])


def q_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Engagement surface (round 5, wave 3): longest consecutive-day
    activity streak per user (operators/timeseries.py longest_streak)
    — the canonical islands-and-gaps pattern: day − row_number() is
    constant within each island, so streaks cost one window pass + two
    aggregates over the distinct (user, day) grid; no self-join, no
    iteration. The day key is an absolute epoch-day so month
    boundaries don't split streaks."""
    e = load_table(spark, sf, "events")
    out = TS.longest_streak(e, "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
    return O.sort(out, ["user_id"])


def q_partition_overwrite_dynamic(spark: SparkSession, sf: str) -> DataFrame:
    """Lakehouse semantics (round 5, wave 3): DYNAMIC partition
    overwrite — ``partitionOverwriteMode=dynamic`` replaces ONLY the
    partitions present in the incoming batch (here: one re-stated day
    of events), leaving every other partition untouched; static mode
    would wipe the whole table first. The restatement pattern every
    partitioned warehouse runs nightly. Verified by reading the final
    table state back: day 5 must contain exactly the restated rows
    (values doubled), all other days the original rows."""
    e = load_table(spark, sf, "events").withColumn("day", F.dayofmonth("ts"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_by_day")
        e.write.partitionBy("day").parquet(path)
        restated = (
            e.filter(F.col("day") == 5)
            .withColumn("value", F.round(F.col("value") * 2, 2))
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            restated.write.mode("overwrite").partitionBy("day").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        back = spark.read.parquet(path)
        rows = (
            back.groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .collect()
        )
    out = spark.createDataFrame(
        [(int(r.day), r.n_rows, float(r.sum_value)) for r in rows],
        "day int, n_rows bigint, sum_value double",
    )
    return O.sort(out, ["day"])


def q_session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization, native lane (round 5, wave 3): Spark's built-in
    ``session_window(ts, gap)`` in BATCH mode — the same 30-minute
    session semantics q_sessionize derives manually (lag-flag +
    running sum); running both lanes under ONE oracle pins their
    equivalence: the oracle replays the MANUAL formulation in SQL, so
    a hash match proves the native session assignment agrees with the
    textbook one. Per (user, session): event count and value sum.
    Session-window grouping shuffles once on the entity key like any
    per-entity window."""
    e = load_table(spark, sf, "events")
    out = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return O.sort(out, ["user_id", "session_start"])


def q_udf_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """UDF surface, third lane (round 5, wave 3): the Arrow-OPTIMIZED
    scalar Python UDF (``useArrow=True``, Spark 3.5+) — row-at-a-time
    author ergonomics with Arrow-batched transfer, sitting between the
    interpreted pickle UDF (never used in this repo) and the
    vectorized pandas_udf (q_udf_scalar). The kernel is the same
    surcharge rule as the pandas lane so the two Python lanes are
    pinned to identical results; rounding inside the UDF keeps the
    oracle replay exact."""

    @F.udf("double", useArrow=True)
    def surcharge(v: float) -> float:
        return round(v * 1.07 + 0.5, 4)

    e = load_table(spark, sf, "events")
    out = e.groupBy("event_type").agg(
        F.round(F.sum(surcharge("value")), 2).alias("sum_surcharged")
    )
    return O.sort(out, ["event_type"])


def q_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Mining surface (round 5, wave 4): pairwise association rules —
    support / confidence / lift over order baskets (operators/mining.py
    assoc_rules; Apriori depth 2). Items are part-families (l_partkey
    mod 40) so pair supports are dense enough to rank. The pair fanout
    is bounded BEFORE the self-join by the (basket, item) dedup; the
    single-item count table is broadcast."""
    li = load_table(spark, sf, "lineitem")
    baskets = li.select(
        "l_orderkey", F.pmod(F.col("l_partkey"), F.lit(40)).alias("item")
    )
    out = MN.assoc_rules(baskets, "l_orderkey", "item", min_pair_count=5)
    return O.sort(out, ["item_a", "item_b"])


def q_collocations_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Mining surface (round 5, wave 4): word-pair PMI collocations over
    document co-occurrence (operators/mining.py collocations_pmi,
    Church & Hanks). The vocabulary is df-pruned with a broadcast
    semi-join BEFORE pair generation — the step that keeps the
    self-join vocab-bounded at corpus scale — and PMI is one double
    expression over exact integer document frequencies, rounded 6 dp."""
    d = load_table(spark, sf, "documents")
    out = MN.collocations_pmi(d, min_df=20, min_pair_df=10)
    return O.sort(out, ["tok_a", "tok_b"])


def q_rolling_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Engagement surface (round 5, wave 4): trailing-7-day distinct
    active users per day (operators/timeseries.py
    rolling_distinct_count) — the sliding COUNT(DISTINCT) no RANGE
    window can express. Day-grain dedup first (the volume reducer),
    then a broadcast day-spine join with fanout ≤ 7, then one
    distinct-agg keyed by day."""
    e = load_table(spark, sf, "events")
    out = TS.rolling_distinct_count(e, "ts", "user_id", window_days=7)
    return O.sort(out, ["target_day"])


def q_abtest_welch(spark: SparkSession, sf: str) -> DataFrame:
    """Statistics surface (round 5, wave 4): Welch two-sample t-test per
    event type — week 1 (ts < 2024-01-08) as arm A vs the rest of the
    month (operators/aggregates.py welch_ttest). Centi-scaled values
    accumulate as exact DECIMAL sufficient statistics in ONE aggregate
    pass; t and the Welch–Satterthwaite df are closed forms over
    identical doubles, so the oracle replays them bit-for-bit."""
    e = load_table(spark, sf, "events")
    out = agg.welch_ttest(
        e,
        ["event_type"],
        F.round(F.col("value") * 100, 0),  # lossless centi-units
        F.col("ts") < F.to_timestamp(F.lit("2024-01-08")),
    )
    return O.sort(out, ["event_type"])


def q_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 5, wave 4): SimHash near-dup pairs within
    Hamming distance ≤ 3 via block permutation (operators/text.py
    simhash_hamming_pairs; Manku/Jain/Sarma WWW'07) — the tolerance
    generalization of q_dedup_simhash's identical-signature buckets.
    4 × 15-bit block equality joins guarantee 100% recall at distance
    ≤ 3 by pigeonhole; verification is one codegen XOR + popcount. The
    portable 60-bit hash lets the oracle replay the full pipeline."""
    d = load_table(spark, sf, "documents")
    out = TX.simhash_hamming_pairs(d, n_blocks=4, max_hamming=3)
    return O.sort(out, ["id_a", "id_b"])


def q_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch surface (round 5, wave 4): mergeable fixed-bin quantile
    rollup (operators/aggregates.py binned_quantile_rollup) — the
    quantile twin of q_sketch_rollup's HLL re-aggregation: per-(type,
    week) histograms built in one scan are SUMMED up to per-type and
    p50/p95 interpolated from the exact cumulative counts, never
    rescanning the raw data. Deterministic (unlike t-digest/KLL),
    accuracy bounded by the bin width."""
    e = load_table(spark, sf, "events").withColumn(
        "wk", F.floor((F.dayofmonth("ts") - 1) / 7)
    )
    out = agg.binned_quantile_rollup(
        e,
        ["event_type", "wk"],
        ["event_type"],
        F.col("value"),
        lo=0.0,
        width=16.0,
        n_bins=32,
        quantiles=(0.5, 0.95),
    )
    return O.sort(out, ["event_type"])


def q_minhash_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """North star (round 5, wave 4): MinHash estimator-quality harness —
    the text twin of q_ann_recall (operators/text.py minhash_accuracy).
    For every LSH candidate pair (16 hashes, 4 bands of 4), the
    signature-estimated Jaccard vs the EXACT shingle Jaccard and the
    absolute error — the measurement a real pipeline runs on a sample
    before trusting an LSH configuration at corpus scale. Portable
    signature path, so the ENTIRE pipeline (md5-60-bit shingle hash,
    affine permutations, banding, estimate, exact verify) replays in
    the oracle bit-for-bit."""
    d = load_table(spark, sf, "documents")
    out = TX.minhash_accuracy(d, num_hashes=16, bands=4, shingle_k=5)
    return O.sort(out, ["id_a", "id_b"])


def q_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """DQ surface (round 5, wave 4): anti-entropy table diff — compare
    two copies of events via order-independent per-bucket content
    checksums (operators/dq.py checksum_diff): portable 60-bit row
    fingerprints summed as exact DECIMAL per bucket, each side reducing
    to 16 summary rows before any data crosses. The right copy
    deterministically "lost" every 97th row; exactly the buckets those
    rows hash into must surface, with row-count deltas. Fingerprint
    columns are ints/strings only (double rendering is engine-
    specific)."""
    e = load_table(spark, sf, "events")
    damaged = e.where(F.pmod(F.col("event_id"), F.lit(97)) != 0)
    out = DQ.checksum_diff(
        e, damaged, ["event_id", "user_id", "event_type"], n_buckets=16
    )
    return O.sort(out, ["bucket"])


def q_stream_source_custom(spark: SparkSession, sf: str) -> DataFrame:
    """E35h (round 5, wave 4): custom Python DataSource STREAM reader
    (PySpark 4 SimpleDataSourceStreamReader) — the last connector
    quadrant (batch read/write and stream write existed; this is
    stream READ): the object-store listing replayed INCREMENTALLY,
    ``batch_size`` objects per microbatch in sorted-key order with
    durable JSON offsets (datasource.py ObjectStoreListingStreamSource
    — the local stand-in for S3 StartAfter-incremental ingest).
    Fixture: 16 files with closed-form sizes (i*10+3), batch_size=5 →
    batches 5/5/5/1 whose per-batch byte totals the oracle recomputes
    from first principles. Python microbatch streams don't support
    Trigger.AvailableNow (Spark falls back to one batch), so the query
    polls foreachBatch until the listing is exhausted — the
    processingTime path a production incremental ingest runs."""
    import time as _time

    from nyc_tlc_trip_data_pipelines_spark import datasource as DSRC

    DSRC.register(spark)
    base = scratch_dir("osls_q_")
    d = os.path.join(base, "objects")
    os.makedirs(d)
    for i in range(16):
        with open(os.path.join(d, f"obj_{i:02d}.bin"), "wb") as fh:
            fh.write(b"x" * (i * 10 + 3))
    got: list[tuple[int, int, int]] = []
    done_bids: set[int] = set()

    def fb(df: DataFrame, bid: int) -> None:
        # batch-id idempotence: foreachBatch is at-least-once (a batch
        # interrupted between sink and offset-commit is redelivered
        # with the SAME id), so a production sink dedupes by bid
        if int(bid) in done_bids:
            return
        done_bids.add(int(bid))
        rows = df.collect()
        if rows:
            got.append((int(bid), len(rows), int(sum(r["n_bytes"] for r in rows))))

    q = (
        spark.readStream.format("objectstore_listing_stream")
        .option("root", d)
        .option("batch_size", "5")
        .load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    t0 = _time.time()
    while _time.time() - t0 < 120 and sum(g[1] for g in got) < 16:
        _time.sleep(0.25)
    q.stop()
    # fail LOUDLY on timeout: a truncated result would reach the oracle
    # comparison as a confusing value mismatch instead of this error
    n_got = sum(g[1] for g in got)
    if n_got < 16:
        raise TimeoutError(
            f"objectstore stream delivered {n_got}/16 objects within 120s"
        )
    return spark.createDataFrame(
        sorted(got), "batch_id int, n_objects bigint, total_bytes bigint"
    )


def q_image_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal surface (round 5, wave 4): perceptual-hash image
    near-dup buckets — average-hash (aHash) fingerprints computed from
    REAL decoded BMP payloads inside Arrow mapInPandas
    (operators/multimodal.py ahash_images: integer block sums,
    cross-multiplied against the image average, packed into one long),
    then the SAME hash-groupBy the text dedup stack uses. The fixture's
    closed-form pixels make the full decode→hash→bucket chain
    SQL-replayable; aHash's brightness-invariance is exactly what makes
    the synthetic gradient images collide — the property real pipelines
    exploit for near-dup detection."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as M

    media = M.make_bmp_media(spark, 48)
    hashed = M.ahash_images(media, block=2)
    out = (
        hashed.groupBy("ahash")
        .agg(
            F.min("media_id").alias("first_media"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .where(F.col("n_images") >= 2)
        .select("first_media", "n_images")
    )
    return O.sort(out, ["first_media"])


def q_agg_maxby(spark: SparkSession, sf: str) -> DataFrame:
    """E10c (round 5, wave 4): arg-aggregates — max_by / min_by ("which
    user produced the extreme value"), the lookup that otherwise costs
    a window + filter or a self-join back to the base table. Ordering
    key is a composite bigint (centi-value · 10¹⁰ + event_id) so ties
    on value resolve deterministically by event_id in every engine —
    bare max_by over a non-unique key is tie-nondeterministic and
    would never hash-match an oracle."""
    e = load_table(spark, sf, "events")
    key = (
        F.round(F.col("value") * 100, 0).cast("long") * F.lit(10_000_000_000)
        + F.col("event_id")
    )
    out = e.groupBy("event_type").agg(
        F.max_by("user_id", key).alias("top_user"),
        F.min_by("user_id", key).alias("bottom_user"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.min("value"), 6).alias("min_value"),
    )
    return O.sort(out, ["event_type"])


def q_log_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Log-parsing staple (round 5, wave 4): structured fields recovered
    from unstructured log lines with regexp groups — the classic
    ingest shape for printf-style application logs. Lines are RENDERED
    from events (integer cents, so the round trip is lossless and
    engine-identical), then parsed back with ``regexp_extract`` and
    aggregated; the parse path is pure codegen (no UDF) and the
    aggregate proves every field survived. At 100 TB parsing happens
    in the scan stage — zero extra shuffles."""
    e = load_table(spark, sf, "events")
    line = F.concat(
        F.lit("evt id="), F.col("event_id").cast("string"),
        F.lit(" user="), F.col("user_id").cast("string"),
        F.lit(" type="), F.col("event_type"),
        F.lit(" cents="), F.round(F.col("value") * 100, 0).cast("long").cast("string"),
    )
    logs = e.select(line.alias("line"))
    parsed = logs.select(
        F.regexp_extract("line", r"user=([0-9]+)", 1).cast("long").alias("uid"),
        F.regexp_extract("line", r"type=([a-z]+)", 1).alias("typ"),
        F.regexp_extract("line", r"cents=([0-9]+)", 1).cast("long").alias("cents"),
    )
    out = parsed.groupBy("typ").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.countDistinct("uid").alias("n_users"),
    )
    return O.sort(out, ["typ"])


def q_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """Web-corpus staple (round 5, wave 5): URL canonicalization +
    URL-keyed dedup (operators/web.py) — the FIRST dedup pass a
    crawl-derived pipeline runs, before any content hashing. URLs are
    RENDERED deterministically from documents (mixed-case scheme/host,
    ``utm_*`` tracking params, fragments — the three classic spurious
    variants), canonicalized with pure regexp codegen (host lowercased,
    tracking stripped, fragment dropped, path case preserved), then
    grouped keep-first exactly like the text exact-dedup stack. At
    100 TB canonicalization happens in the scan stage and the only
    shuffle is the canonical-key groupBy."""
    from nyc_tlc_trip_data_pipelines_spark.operators import web as WB

    d = load_table(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?id="),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("&utm_source=feed&utm_campaign=c"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 4).cast("string"),
    )
    pages = d.select("doc_id", url.alias("url"))
    out = WB.url_dedup(pages).where(F.col("n_docs") >= 2)
    return O.sort(out, ["canonical_url"])


def q_html_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Web-corpus staple (round 5, wave 5): HTML boilerplate removal
    (operators/web.py strip_html) — script/style blocks dropped
    wholesale, tags to spaces, prose entities unescaped, whitespace
    collapsed; all RE2∩Java-regex codegen (no backreferences, no UDF).
    Pages are RENDERED around the document text so the strip is exactly
    invertible for the oracle; per-source token totals prove the text
    survived and the markup did not. The regex tier is the pass that
    touches every byte at 100 TB — a DOM-aware extractor for the hard
    pages layers behind mapInPandas like the multimodal decoders."""
    from nyc_tlc_trip_data_pipelines_spark.operators import web as WB

    d = load_table(spark, sf, "documents")
    html = F.concat(
        F.lit(
            '<html><head><script type="text/javascript">if (x&&y) { nav(); }'
            "</script><style>.m{color:#333}</style></head><body><h1>"
        ),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><div>footer &amp; links&nbsp;&lt;here&gt;</div></body></html>"),
    )
    stripped = WB.strip_html(html)
    out = (
        d.select(
            F.col("source"),
            F.size(TX.tokenize(stripped)).alias("tok_stripped"),
            F.size(TX.tokenize(F.col("text"))).alias("tok_text"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_stripped").alias("sum_tok_stripped"),
            F.sum("tok_text").alias("sum_tok_text"),
        )
    )
    return O.sort(out, ["source"])


def q_fixed_width_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest staple (round 5, wave 5): FIXED-WIDTH record parsing —
    the mainframe/EDI flat-file shape where fields live at byte
    offsets, not behind delimiters (the substring-offset twin of
    q_log_parse's regexp groups). Records are RENDERED from orders
    with zero-padded numeric fields (integer cents, so the round trip
    is lossless and engine-identical), then parsed back with pure
    ``substring`` offsets and aggregated per (status, year); every
    field must survive the round trip for the totals to hash-match.
    At 100 TB the parse is scan-stage codegen — zero extra shuffles,
    and the fixed offsets make it branchless (no regex engine)."""
    o = load_table(spark, sf, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
        F.col("o_orderstatus"),
        F.lpad(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            12,
            "0",
        ),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
    )
    recs = o.select(line.alias("line"))
    parsed = recs.select(
        F.substring("line", 1, 10).cast("long").alias("okey"),
        F.substring("line", 11, 1).alias("status"),
        F.substring("line", 12, 12).cast("long").alias("cents"),
        F.substring("line", 24, 4).cast("int").alias("year"),
    )
    out = parsed.groupBy("status", "year").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("okey").alias("key_checksum"),
    )
    return O.sort(out, ["status", "year"])


def q_audio_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal surface (round 5, wave 5): energy-envelope audio
    near-dup buckets — eHash fingerprints computed from REAL decoded
    WAV payloads inside Arrow mapInPandas (operators/multimodal.py
    ehash_wav: per-frame integer |amplitude| sums compared against the
    clip-head mean, packed into one long), then the SAME hash-groupBy
    the text and image dedup stacks use. Completes the near-dup matrix
    (minhash/simhash text, aHash image, eHash audio); loudness
    invariance is the production collision property, and the fixture's
    closed-form PCM samples make decode→hash→bucket SQL-replayable."""
    from nyc_tlc_trip_data_pipelines_spark.operators import multimodal as M

    media = M.make_wav_media(spark, 48)
    hashed = M.ehash_audio(media)
    out = (
        hashed.groupBy("ehash")
        .agg(
            F.min("media_id").alias("first_media"),
            F.count(F.lit(1)).alias("n_clips"),
        )
        .where(F.col("n_clips") >= 2)
        .select("first_media", "n_clips")
    )
    return O.sort(out, ["first_media"])


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship composition (round 5, wave 5): the full corpus-curation
    pipeline as ONE dataflow — exact dedup (keep-first by md5
    fingerprint) → Gopher-style quality filter (corpus.quality_filter)
    → token-entropy diversity filter (corpus.token_entropy, rounded
    ratio ≥ 0.85) → deterministic train/holdout split
    (corpus.stable_split, portable hash) → per-(split, lang) corpus
    accounting. Proves the curation operators COMPOSE: every stage is
    the same library calls the standalone queries use, chained on
    doc_id keys. Scale shape: one md5-keyed exchange for dedup, two
    id-keyed exchanges for the FUSED quality+entropy aggregate
    (corpus.curation_stats — one tokenize/explode pass feeds both
    filters instead of two independent chains), a co-partitioned id
    join (AQE), a pure-expression split, and a ~|splits×langs| final
    aggregate; the deduped corpus is persisted once because two stages
    consume it — at 100 TB that persist is the checkpoint a real
    pipeline writes between curation phases anyway."""
    d = load_table(spark, sf, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    first = (
        d.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .persist()
    )
    stats = (
        CP.curation_stats(first)
        .where(
            (F.col("n_words") >= 40) & (F.col("n_words") <= 100000)
            & (F.col("mean_wlen") >= 2.0) & (F.col("mean_wlen") <= 12.0)
            & (F.col("top_word_frac") <= 0.12)
            & (F.col("entropy_ratio") >= 0.85)
        )
        .select("doc_id", "n_words")
    )
    kept = first.select("doc_id", "lang").join(stats, "doc_id")
    out = (
        CP.stable_split(kept)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("sum_words"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )
    return O.sort(out, ["split", "lang"])


def q_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-signal staple (round 5, wave 5): within-document token
    Shannon entropy (operators/corpus.py token_entropy) — the
    model-free detector for keyword-stuffed / template pages that
    never repeat an exact n-gram (complementing q_repetition_profile)
    and needs no corpus LM pass (complementing q_unigram_logprob).
    Shuffle-friendly ``ln(n) − Σ c·ln c / n`` form: two keyed hash
    exchanges, both bounded by per-doc vocabulary then doc count."""
    d = load_table(spark, sf, "documents")
    return O.sort(CP.token_entropy(d), ["doc_id"])


def q_dedup_span(spark: SparkSession, sf: str) -> DataFrame:
    """LLM-curation dedup (round 6): exact duplicated-substring profile
    (operators/corpus.py duplicated_span_profile) — the distributed
    analog of suffix-array dedup (Lee et al. 2022): a 5-token span seen
    in >= 2 distinct documents is boilerplate; documents that are >= 50%
    duplicated spans are flagged for removal. Posting-list formulation:
    gram-keyed join, linear in corpus size, no doc x doc pairing —
    complements q_dedup_minhash (whole-doc similarity) with span-level
    memorization risk."""
    d = load_table(spark, sf, "documents")
    return O.sort(CP.duplicated_span_profile(d, n=5), ["doc_id"])


def q_domain_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Pretraining mixture design (round 6): temperature-scaled domain
    sampling weights (operators/corpus.py domain_mixture_weights,
    alpha=0.5) — p_i^alpha / Z over per-source token shares, the
    alpha-smoothed sampling of multilingual pretraining and the
    DoReMi starting point. One aggregation to |domains| rows; the
    normalizer Z sums integer micro-units so both engines reduce
    exactly."""
    d = load_table(spark, sf, "documents")
    return O.sort(CP.domain_mixture_weights(d, "source", alpha=0.5), ["domain"])


def q_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    """Dependency audit (round 6): pointwise + expected mutual
    information between the corpus lang and source labels
    (operators/mining.py mutual_information) — per-cell PMI and
    I(X;Y) contributions from one joint groupBy plus broadcast
    marginals. Per-cell emission keeps the output order-independent
    (no cross-engine float-sum drift); complements q_crosstab_chi2
    (significance) with information content."""
    d = load_table(spark, sf, "documents")
    out = MN.mutual_information(d, "lang", "source")
    return O.sort(out, ["x", "y"])


def q_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift (round 6): two-sample Kolmogorov–Smirnov
    statistic between click and error event values
    (operators/aggregates.py ks_two_sample) — sup-norm ECDF distance
    with the alpha=0.05 critical threshold. Aggregates to per-distinct-
    value counts BEFORE the running sum, so the only serial window runs
    over a sketch-sized table; complements q_abtest_welch (means) and
    q_psi_drift (binned shift) with a shape test."""
    e = load_table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    return agg.ks_two_sample(e, "value", F.col("event_type") == "click")


def q_bitmap_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Re-aggregatable distinct (round 6): blocked-bitmap distinct-user
    rollup (operators/aggregates.py bitmap_distinct_rollup) — per
    (event_type, day) bitmaps OR-merge into exact per-type distinct
    totals without re-scanning the fact table, the Druid/ClickHouse
    bitmap-index shape. The oracle is an INDEPENDENT formulation
    (plain COUNT(DISTINCT) at both grains), so the hash match proves
    the bitmap algebra, not just replay parity."""
    e = load_table(spark, sf, "events")
    out = agg.bitmap_distinct_rollup(
        e, "event_type", F.to_date("ts").alias("sub"), "user_id"
    )
    return O.sort(out, ["event_type"])


def q_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """ANN compression (round 6): product quantization + asymmetric-
    distance scan (operators/vectors.py pq_train_encode / pq_adc_topk;
    Jégou et al. 2011, the FAISS IVF-PQ compression path) — 4
    subspaces × 4-centroid codebooks trained with the deterministic
    k-means (integer micro-unit means), vectors encoded to 4 code ids,
    and the query answered from an m×k lookup table summed in exact
    integer micro-units. Completes the ANN tier list: brute force →
    LSH → IVF → PQ. The oracle replays each subspace's fused 6-dp
    Lloyd chain plus the ADC lookup."""
    emb = load_table(spark, sf, "embeddings")
    codes, books = V.pq_train_encode(emb, m=4, k=4, iterations=1)
    out = V.pq_adc_topk(codes, books, [1.0] * 64, k_top=10)
    return out.withColumnRenamed("id", "vec_id")


def q_ann_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """ANN flagship composite (round 7, wave 3): IVF-PQ
    (operators/vectors.py ivfpq_topk; Jégou et al. 2011 §IV — the
    FAISS IndexIVFPQ shape): coarse k-means cells (kc=4), 6-dp
    RESIDUAL encoding through the fused PQ trainer (m=4, k=4), probe
    of the 2 query-nearest cells, per-cell ADC lookup summed in exact
    integer micro-units — the scan touches n_probe/kc of the corpus
    and never the raw vectors. The oracle replays the ENTIRE
    composite: coarse Lloyd → residuals → 4 sliced Lloyd chains →
    probe rank → per-cell LUT → integer ADC."""
    emb = load_table(spark, sf, "embeddings")
    out = V.ivfpq_topk(emb, [1.0] * 64, kc=4, n_probe=2, m=4, k_codes=4,
                       k_top=10)
    return out.withColumnRenamed("id", "vec_id")


def _rp_signs(d_out: int = 16, dim: int = 64) -> list[list[float]]:
    """Seeded ±1 JL sign matrix — the ONE definition both the Spark
    query and the DuckDB oracle literal derive from."""
    import numpy as np

    r = np.random.RandomState(13)
    return [
        [1.0 if x >= 0 else -1.0 for x in r.randn(dim)] for _ in range(d_out)
    ]


def q_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Dimensionality reduction (round 6): Johnson–Lindenstrauss ±1
    random projection (operators/vectors.py random_projection,
    Achlioptas 2003) — 64 dims down to 16 in one map-side codegen
    pass, with the per-vector norm-ratio distortion witness. The cheap
    alternative to q_pca_power before clustering/ANN; the oracle
    replays the same seeded sign matrix as LIST_DOT_PRODUCT
    literals."""
    emb = load_table(spark, sf, "embeddings")
    out = V.random_projection(emb, _rp_signs(), keep_dims=4)
    return O.sort(out.withColumnRenamed("id", "vec_id"), ["vec_id"])


def q_attribution_decay(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing analytics (round 6): time-decay MULTI-touch
    attribution (operators/timeseries.py multi_touch_attribution) —
    each purchase splits one credit unit across every touch in its
    7-day lookback, weighted 1/(1+age_days) in integer micro-units so
    every reduction is exact integer addition (no libm pow, no double
    sums). Complements q_attribution's first-touch single-winner view
    with assist credit; same time-bounded range join, so the same
    (user, day) bucketing carries it at 100 TB."""
    e = load_table(spark, sf, "events")
    out = TS.multi_touch_attribution(e)
    return O.sort(out, ["event_type"])


def q_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Survival analysis (round 8): Kaplan-Meier product-limit curve
    of user LIFETIME (operators/timeseries.py km_survival) — duration
    = days between a user's first and last event; a user whose last
    event falls within 1 day of the corpus end is right-CENSORED
    (still active) and leaves the at-risk set without counting as
    churn (the fixture spans ~30 days, so a 1-day inactivity horizon
    yields a non-degenerate censored/churned mix at every SF). The churn/retention curve every subscription analytics
    stack starts with; exact integer at-risk accounting, factors
    ln-summed at 9 dp. All windows run over the duration-grain cell
    table, never per-user rows."""
    ev = load_table(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    obs = users.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias("dur"),
        (F.col("last_ts") < F.col("__mx") - F.expr("INTERVAL 1 DAYS"))
        .cast("int")
        .alias("churned"),
    )
    return TS.km_survival(obs, F.col("dur"), F.col("churned"))


def q_acf(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-structure diagnostic (round 8): sample autocorrelation of
    the hourly value series at lags 1..12 (operators/timeseries.py
    autocorrelation) — the test that justifies q_stl_decompose's
    period choice and q_anomaly_seasonal's seasonality assumption.
    Per-hour micro-sums are exact; pairwise products accumulate in
    DECIMAL(38,0); one equi-join on (hour + lag) over the
    time-range-sized series."""
    ev = load_table(spark, sf, "events")
    return TS.autocorrelation(ev, "ts", "value", grain_seconds=3600, max_lag=12)


def q_abtest_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """Experimentation (round 8): CUPED variance reduction
    (operators/aggregates.py cuped_adjust; Deng et al. WSDM 2013) —
    the third leg next to q_abtest_welch (fixed-horizon) and
    q_abtest_sprt (sequential). Covariate X = the user's view count
    (pre-exposure engagement proxy), metric Y = purchase value sum in
    micro-units; arms by portable hash so the split replays. One
    exact-integer sufficient-stats aggregate; θ, x̄ pooled via a
    2-row window."""
    ev = load_table(spark, sf, "events")
    users = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("int")).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1e6, 0).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("y_micro"),
    )
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("user_id").cast("string"), F.lit("37"))
    )
    arms = users.select(
        (h % 2).cast("int").alias("arm"), F.col("x"), F.col("y_micro")
    )
    return agg.cuped_adjust(arms, "arm", F.col("x"), F.col("y_micro"))


def q_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Model evaluation (round 8): reliability table + expected
    calibration error of the NB classifier's holdout scores
    (operators/mining.py calibration_bins over corpus.nb_classify) —
    the companion to q_classifier_eval: precision/recall say WHAT the
    filter gets right, the reliability curve says whether its scores
    mean anything at a threshold. Confidence = min-max-normalized
    winning log-posterior (exact integer floor-div); 10 equi-width
    bins; ECE over the 10-row cell table."""
    docs = load_table(spark, sf, "documents")
    preds = CP.nb_classify(docs, label_col="lang", id_col="doc_id",
                           holdout_mod=5, holdout_rem=0, seed=11)
    return MN.calibration_bins(preds, "score", "correct", n_bins=10)


def q_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Concentration audit (round 8): per-nation Gini coefficient of
    customer revenue (operators/aggregates.py gini_group) — the
    Lorenz-ordering complement to q_mixture_concentration's
    HHI-style share audit (HHI reads squared shares; Gini reads the
    full sorted cumulative distribution). Revenue = exact micro-unit
    o_totalprice sums per customer; rank window is group-sized;
    Σ rank·value in DECIMAL(38,0)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    rev = (
        o.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias(
                "rev_micro"
            )
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return agg.gini_group(
        rev, ["c_nationkey"], F.col("rev_micro"), F.col("c_custkey")
    )


def q_graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """Graph density filter (round 8): 2-core of the VERIFIED
    near-dup pair graph after 3 synchronous peels (operators/graph.py
    k_core; Seidman 1983) — strips pendant docs so only mutually-
    duplicated clusters remain, the densification step between
    q_graph_components (who connects) and q_graph_triangles (how
    tightly). Deterministic bounded peeling, oracle-unrolled; per
    round one degree aggregate + two semi-joins."""
    docs = load_table(spark, sf, "documents")
    pairs = TX.minhash_verified_pairs(docs, threshold=0.8)
    out = GR.k_core(pairs, src="id_a", dst="id_b", k=2, rounds=3)
    return out.withColumnRenamed("node", "doc_id")


def q_mmr_diversify(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval diversification (round 8): Maximal Marginal
    Relevance slate over embeddings (operators/vectors.py
    mmr_diversify; Carbonell & Goldstein 1998) — relevance top-20
    pool (TakeOrderedAndProject), then a 5-step greedy walk on the
    pool's 6-dp-rounded cosine table with λ = 0.75 (exact binary
    fraction, so 1−λ is too). Each step collects one id — bounded
    model-state reads, never corpus rows. The slate-side twin of
    SemDeDup's corpus-side dedup."""
    em = load_table(spark, sf, "embeddings")
    return V.mmr_diversify(em, [1.0] * 64, k=5, pool=20, lam=0.75)


def q_seq_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining (round 8): happens-before pair support
    (operators/mining.py sequential_pairs) — for each ordered
    event-type pair (a → b), the share of users whose FIRST a
    precedes their first b. Order-sensitive across any gap, unlike
    q_markov_transitions (adjacent only) and q_assoc_rules
    (unordered). First occurrences via one keyed aggregate on exact
    (µs, event_id) keys; ordered pairs by the assoc-rules sorted-
    array higher-order expansion — no self-join."""
    ev = load_table(spark, sf, "events")
    return MN.sequential_pairs(ev, "user_id", "ts", "event_type", "event_id")


def q_path_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining (round 8): top user journeys
    (operators/mining.py top_paths) — each user's first 5 events in
    (ts, event_id) order joined into a '>' path string, counted
    across users, top 20 by (count DESC, path ASC). The click-path
    exploration report; prefix cap bounds path strings regardless of
    history length, TakeOrderedAndProject serves the top."""
    ev = load_table(spark, sf, "events")
    return MN.top_paths(ev, "user_id", "ts", "event_type", "event_id",
                        prefix_len=5, top_n=20)


def q_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    """Recommendation (round 8): item-item collaborative filtering
    (operators/mining.py item_cf_neighbors; Sarwar et al. 2001 /
    Amazon item-to-item) — part-family cosine similarity over order
    baskets, each item's top-5 "also bought" neighbors by (sim DESC,
    neighbor ASC). Co-occurrence via the round-8 sorted-set
    higher-order expansion (no self-join); the pair table and the
    rank window are items²-bounded, never corpus-sized."""
    li = load_table(spark, sf, "lineitem")
    baskets = li.select(
        "l_orderkey", F.pmod(F.col("l_partkey"), F.lit(40)).alias("item")
    )
    return MN.item_cf_neighbors(baskets, "l_orderkey", "item",
                                min_pair_count=2, k=5)


def q_ccf(spark: SparkSession, sf: str) -> DataFrame:
    """Lead-lag diagnostic (round 8): cross-correlation between the
    hourly click-count series and the hourly purchase-value series
    (operators/timeseries.py cross_correlation) at lags -6..+6 — "do
    clicks now predict purchases k hours later?", the two-series
    complement to q_acf. Same exactness contract: micro-unit integer
    series, DECIMAL(38,0) pairwise sums, one lag equi-join over the
    time-range-sized series."""
    ev = load_table(spark, sf, "events")
    return TS.cross_correlation(
        ev,
        "ts",
        (F.col("event_type") == "click").cast("int"),
        F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
            F.lit(0.0)
        ),
        grain_seconds=3600,
        max_lag=6,
    )


def q_mannwhitney(spark: SparkSession, sf: str) -> DataFrame:
    """Nonparametric testing (round 8): Mann-Whitney U / Wilcoxon
    rank-sum between click and purchase value distributions
    (operators/aggregates.py mann_whitney_u) — the outlier-robust leg
    of the testing surface next to q_abtest_welch (parametric),
    q_ks_test (full-distribution) and q_abtest_sprt (sequential).
    Exact midranks on the distinct-value cell table via DOUBLED-rank
    integers; tie-corrected z from exact sums."""
    ev = load_table(spark, sf, "events")
    return agg.mann_whitney_u(
        ev, "event_type", F.round(F.col("value") * 1e6, 0), "click", "purchase"
    )


def q_survival_logrank(spark: SparkSession, sf: str) -> DataFrame:
    """Survival inference (round 8): log-rank / Mantel-Cox test
    (operators/timeseries.py logrank_test) between two portable-hash
    user cohorts over the same lifetime/censoring construction as
    q_survival_km — does cohort A churn faster than B? Exact integer
    at-risk accounting; per-time hypergeometric expectation and
    variance quantize to micro-units BEFORE the sums, so the
    reductions are exact in any engine; chi2 compares to 3.84 for
    p < 0.05."""
    ev = load_table(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("user_id").cast("string"), F.lit("41"))
    )
    obs = users.crossJoin(F.broadcast(mx)).select(
        (h % 2).cast("int").alias("cohort"),
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias("dur"),
        (F.col("last_ts") < F.col("__mx") - F.expr("INTERVAL 1 DAYS"))
        .cast("int")
        .alias("churned"),
    )
    return TS.logrank_test(
        obs, F.col("dur"), F.col("churned"), F.col("cohort"), 0, 1
    )


def q_spearman(spark: SparkSession, sf: str) -> DataFrame:
    """Rank correlation (round 8): Spearman's rho between the hourly
    click-count and purchase-value series (operators/aggregates.py
    spearman_corr) — the monotone-association leg next to
    q_corr_group's Pearson and q_mannwhitney's rank-sum test. Exact
    midrank ties via doubled ranks on the hour-grain cell tables
    (time-range-sized, broadcast); DECIMAL(38,0) sufficient stats."""
    ev = load_table(spark, sf, "events")
    series = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("i")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1e6, 0).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    )
    return agg.spearman_corr(series, F.col("x"), F.col("y"))


def q_graph_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction (round 8): neighbor-set Jaccard similarity
    over the item co-occurrence graph (operators/graph.py
    node_jaccard; Liben-Nowell & Kleinberg 2003) — items whose
    co-purchase NEIGHBORHOODS overlap are substitutes/complements
    even when never bought together. Edges = part-family pairs
    co-occurring in ≥ 5 baskets (the assoc_rules pair table); wedge
    join pivots on the shared neighbor, never all-pairs."""
    li = load_table(spark, sf, "lineitem")
    baskets = li.select(
        "l_orderkey", F.pmod(F.col("l_partkey"), F.lit(40)).alias("item")
    )
    pairs = MN.assoc_rules(baskets, "l_orderkey", "item", min_pair_count=5)
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    )
    return GR.node_jaccard(edges, min_common=1)


def q_abtest_srm(spark: SparkSession, sf: str) -> DataFrame:
    """Experimentation guardrail (round 8): sample-ratio-mismatch
    check (operators/aggregates.py chi2_goodness_of_fit) — chi-square
    goodness-of-fit of the portable-hash arm assignment against the
    designed 50/50 split, the test every A/B platform runs BEFORE
    trusting a readout (a biased assignment invalidates q_abtest_welch
    / q_abtest_cuped downstream). Per-arm contributions micro-quantize
    before the sum; compare chi2 to 3.84 (1 dof)."""
    ev = load_table(spark, sf, "events")
    users = ev.select("user_id").distinct()
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("user_id").cast("string"), F.lit("37"))
    )
    arms = users.select((h % 2).cast("int").cast("string").alias("arm"))
    return agg.chi2_goodness_of_fit(
        arms, "arm", {"0": 0.5, "1": 0.5}
    )


def q_abtest_did(spark: SparkSession, sf: str) -> DataFrame:
    """Quasi-experimental inference (round 8): difference-in-
    differences (operators/aggregates.py diff_in_diff; Card & Krueger
    1994) — per-user purchase value in the pre (days 1-15) vs post
    (day 16+) halves of the month, treatment by portable hash; DID
    removes the group baseline and the shared time trend under the
    parallel-trends assumption. Completes the causal family:
    welch/CUPED randomized, SPRT sequential, SRM validity, DID
    observational. One 4-cell sufficient-stats pass."""
    ev = load_table(spark, sf, "events")
    per = ev.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") >= 16, F.lit("post"))
        .otherwise(F.lit("pre"))
        .alias("period"),
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1e6, 0).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("y")
    )
    h = TX.portable_hash60(
        F.concat_ws("\x1f", F.col("user_id").cast("string"), F.lit("43"))
    )
    obs = per.select((h % 2).cast("int").alias("grp_raw"), "period", "y")
    return agg.diff_in_diff(
        obs, "grp_raw", "period", F.col("y"),
        treat_value=1, post_value="post",
        control_value=0, pre_value="pre",
    )


# --------------------------------------------------------------------------
# Contract
# --------------------------------------------------------------------------


_HERE = os.path.dirname(os.path.abspath(__file__))


def _latest_rounds(root: str = _HERE) -> dict[str, int]:
    """Query id -> the latest round N whose committed
    ``CORRECTNESS_r{N}.json`` in ``root`` holds a row for it. A
    malformed file raises: it must not silently reorder the registry."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                for k in json.load(fh):
                    latest[k] = max(latest.get(k, 0), int(m.group(1)))
    return latest


def _stalest_first(keys, root: str = _HERE) -> list[str]:
    """``keys`` ordered by (latest checked round, 0 if never; name):
    the driver checks the first 50 ids, so the stalest evidence is
    refreshed first and no id can age out."""
    latest = _latest_rounds(root)
    return sorted(keys, key=lambda k: (latest.get(k, 0), k))


def _prepared(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``fn`` on a session ``configure_session`` has prepared: ids that
    build their input without ``load_table`` (the media generators)
    still find the package on the Python workers of a session that
    nothing else prepared."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf: str) -> DataFrame:
        return fn(configure_session(spark), sf)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry id -> query, stalest ``CORRECTNESS_r*.json`` evidence
    first; every query prepares its session (``_prepared``)."""
    base = {
        "q_scd2_merge": q_scd2_merge,
        "q_json_flatten": q_json_flatten,
        "q_text_normalize": q_text_normalize,
        "q_window_first_last": q_window_first_last,
        "q_agg_collect_list": q_agg_collect_list,
        "q_join_full_outer": q_join_full_outer,
        "q_join_bucketed": q_join_bucketed,
        "q_join_salted": q_join_salted,
        "q_set_ops_all": q_set_ops_all,
        "q_string_funcs2": q_string_funcs2,
        "q_date_extract2": q_date_extract2,
        "q_sink_json": q_sink_json,
        "q_sink_orc": q_sink_orc,
        "q_multimodal_video_decode": q_multimodal_video_decode,
        "q_multimodal_features": q_multimodal_features,
        "q_multimodal_framesample": q_multimodal_framesample,
        "q_multimodal_resize": q_multimodal_resize,
        "q_dedup_simhash": q_dedup_simhash,
        "q_time_travel": q_time_travel,
        "q_bpe_pairs": q_bpe_pairs,
        "q_stable_split": q_stable_split,
        "q_sample_per_group": q_sample_per_group,
        "q_dq_profile": q_dq_profile,
        "q_compact": q_compact,
        "q_schema_evolution": q_schema_evolution,
        "q_delete_where": q_delete_where,
        "q_merge_versioned": q_merge_versioned,
        "q_source_discovery": q_source_discovery,
        "q_text_fingerprint": q_text_fingerprint,
        "q_stream_cdc_apply": q_stream_cdc_apply,
        "q_vacuum": q_vacuum,
        "q_table_changes": q_table_changes,
        "q_ann_index_probe": q_ann_index_probe,
        "q_zonemap_prune": q_zonemap_prune,
        "q_versioned_zone_skip": q_versioned_zone_skip,
        "q_versioned_sidecar": q_versioned_sidecar,
        "q_custom_datasource": q_custom_datasource,
        "q_file_provenance": q_file_provenance,
        "q_dq_observe": q_dq_observe,
        "q_variant_json": q_variant_json,
        "q_recursive_cte": q_recursive_cte,
        "q_csv_corrupt_isolation": q_csv_corrupt_isolation,
        "q_source_jsonl": q_source_jsonl,
        "q_graph_bfs": q_graph_bfs,
        "q_graph_triangles": q_graph_triangles,
        "q_kmeans": q_kmeans,
        "q_dedup_semantic": q_dedup_semantic,
        "q_dedup_semantic_scaled": q_dedup_semantic_scaled,
        "q_dsir_select": q_dsir_select,
        "q_rrf_fusion": q_rrf_fusion,
        "q_hard_negatives": q_hard_negatives,
        "q_knn_label_noise": q_knn_label_noise,
        "q_stl_decompose": q_stl_decompose,
        "q_zipf_fit": q_zipf_fit,
        "q_forecast_backtest": q_forecast_backtest,
        "q_nb_classify": q_nb_classify,
        "q_bootstrap_ci": q_bootstrap_ci,
        "q_event_pattern": q_event_pattern,
        "q_stats_equidepth": q_stats_equidepth,
        "q_graph_labelprop": q_graph_labelprop,
        "q_anomaly_seasonal": q_anomaly_seasonal,
        "q_changepoint_cusum": q_changepoint_cusum,
        "q_retrieval_eval": q_retrieval_eval,
        "q_ann_ivfpq": q_ann_ivfpq,
        "q_forecast_conformal": q_forecast_conformal,
        "q_percentile_weighted": q_percentile_weighted,
        "q_abtest_sprt": q_abtest_sprt,
        "q_dedup_savings": q_dedup_savings,
        "q_classifier_eval": q_classifier_eval,
        "q_doremi_step": q_doremi_step,
        "q_mixture_concentration": q_mixture_concentration,
        "q_nb_cross_validate": q_nb_cross_validate,
        "q_topic_keywords": q_topic_keywords,
        "q_sample_negatives": q_sample_negatives,
        "q_pca_power": q_pca_power,
        "q_dp_release": q_dp_release,
        "q_bpe_encode": q_bpe_encode,
        "q_lm_perplexity": q_lm_perplexity,
        "q_bm25_rank": q_bm25_rank,
        "q_sample_es": q_sample_es,
        "q_geo_binning": q_geo_binning,
        "q_doc_chunk": q_doc_chunk,
        "q_markov_transitions": q_markov_transitions,
        "q_time_interpolate": q_time_interpolate,
        "q_group_regress": q_group_regress,
        "q_skyline": q_skyline,
        "q_phrase_search": q_phrase_search,
        "q_sketch_rollup": q_sketch_rollup,
        "q_heavy_hitters_cms": q_heavy_hitters_cms,
        "q_join_bloom_prefilter": q_join_bloom_prefilter,
        "q_train_shuffle": q_train_shuffle,
        "q_dedup_index_probe": q_dedup_index_probe,
        "q_join_interval_bucket": q_join_interval_bucket,
        "q_psi_drift": q_psi_drift,
        "q_jackknife": q_jackknife,
        "q_multimodal_scene_detect": q_multimodal_scene_detect,
        "q_multimodal_silence_trim": q_multimodal_silence_trim,
        "q_custom_sink": q_custom_sink,
        "q_stream_drift": q_stream_drift,
        "q_geo_radius_join": q_geo_radius_join,
        "q_xml_ingest": q_xml_ingest,
        "q_sql_parameterized": q_sql_parameterized,
        "q_grouped_arrow": q_grouped_arrow,
        "q_csv_inrow": q_csv_inrow,
        "q_collated_group": q_collated_group,
        "q_sketch_intersection": q_sketch_intersection,
        "q_corr_group": q_corr_group,
        "q_streaks": q_streaks,
        "q_partition_overwrite_dynamic": q_partition_overwrite_dynamic,
        "q_session_window_native": q_session_window_native,
        "q_udf_arrow": q_udf_arrow,
        "q_assoc_rules": q_assoc_rules,
        "q_collocations_pmi": q_collocations_pmi,
        "q_rolling_distinct": q_rolling_distinct,
        "q_abtest_welch": q_abtest_welch,
        "q_simhash_hamming": q_simhash_hamming,
        "q_quantile_rollup": q_quantile_rollup,
        "q_minhash_accuracy": q_minhash_accuracy,
        "q_table_diff": q_table_diff,
        "q_agg_maxby": q_agg_maxby,
        "q_log_parse": q_log_parse,
        "q_image_dedup": q_image_dedup,
        "q_stream_source_custom": q_stream_source_custom,
        "q_url_canonicalize": q_url_canonicalize,
        "q_html_strip": q_html_strip,
        "q_token_entropy": q_token_entropy,
        "q_curation_pipeline": q_curation_pipeline,
        "q_audio_dedup": q_audio_dedup,
        "q_fixed_width_ingest": q_fixed_width_ingest,
        "q_winsorize": q_winsorize,
        "q_attribution": q_attribution,
        "q_ewma": q_ewma,
        "q_feature_hash": q_feature_hash,
        "q_rolling_median": q_rolling_median,
        "q_crosstab_chi2": q_crosstab_chi2,
        "q_benford": q_benford,
        "q_join_nullsafe": q_join_nullsafe,
        "q_lateral_topk": q_lateral_topk,
        "q_udf_scalar": q_udf_scalar,
        "q_udaf_grouped": q_udaf_grouped,
        "q_udtf_tokenize": q_udtf_tokenize,
        "q_sink_append": q_sink_append,
        "q_sink_partitioned": q_sink_partitioned,
        "q_sink_csv": q_sink_csv,
        "q_ddl_create": q_ddl_create,
        "q_join_broadcast": q_join_broadcast,
        "q_join_star": q_join_star,
        "q_join_range": q_join_range,
        "q_join_cross": q_join_cross,
        "q_window_avg_two_grains": q_window_avg_two_grains,
        "q_window_rank": q_window_rank,
        "q_window_lag_lead": q_window_lag_lead,
        "q_window_running_sum": q_window_running_sum,
        "q_map_funcs": q_map_funcs,
        "q_json_extract": q_json_extract,
        "q_text_wordcount": q_text_wordcount,
        "q_text_quality": q_text_quality,
        "q_text_token_count": q_text_token_count,
        "q_sessionize": q_sessionize,
        "q_window_time_range": q_window_time_range,
        "q_dedup_pipeline": q_dedup_pipeline,
        "q_decontaminate": q_decontaminate,
        "q_repetition_profile": q_repetition_profile,
        "q_quality_filter": q_quality_filter,
        "q_vocab_build": q_vocab_build,
        "q_sample_weighted": q_sample_weighted,
        "q_dedup_containment": q_dedup_containment,
        "q_pii_redact": q_pii_redact,
        "q_dq_validate": q_dq_validate,
        "q_time_weighted_avg": q_time_weighted_avg,
        "q_ohlc": q_ohlc,
        "q_entity_resolve": q_entity_resolve,
        "q_zorder_layout": q_zorder_layout,
        "q_cohort_retention": q_cohort_retention,
        "q_pagerank": q_pagerank,
        "q_anomaly_mad": q_anomaly_mad,
        "q_unigram_logprob": q_unigram_logprob,
        "q_cdc_apply": q_cdc_apply,
        "q_stream_ohlc": q_stream_ohlc,
        "q_multimodal_audio_decode": q_multimodal_audio_decode,
        "q_multimodal_image_decode": q_multimodal_image_decode,
        "q_multimodal_resize_real": q_multimodal_resize_real,
        "q_ann_recall": q_ann_recall,
        "q_stream_quarantine": q_stream_quarantine,
        "q_sql_tpch_q2": q_sql_tpch_q2,
        "q_sql_tpch_q11": q_sql_tpch_q11,
        "q_sql_tpch_q13": q_sql_tpch_q13,
        "q_sql_tpch_q15": q_sql_tpch_q15,
        "q_sql_tpch_q16": q_sql_tpch_q16,
        "q_sql_tpch_q17": q_sql_tpch_q17,
        "q_sql_tpch_q19": q_sql_tpch_q19,
        "q_sql_tpch_q20": q_sql_tpch_q20,
        "q_sql_tpch_q21": q_sql_tpch_q21,
        "q_sql_tpch_q22": q_sql_tpch_q22,
        "q_stream_tumbling": q_stream_tumbling,
        "q_stream_sliding": q_stream_sliding,
        "q_stream_session": q_stream_session,
        "q_stream_dedup": q_stream_dedup,
        "q_stream_stateful": q_stream_stateful,
        "q_stream_watermark": q_stream_watermark,
        "q_stream_stream_join": q_stream_stream_join,
        "q_stream_foreach_batch": q_stream_foreach_batch,
        "q_graph_components": q_graph_components,
        "q_vector_quantize": q_vector_quantize,
        "q_skew_profile": q_skew_profile,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_ivf": q_ann_ivf,
        "q_dedup_embedding": q_dedup_embedding,
        "q_join_anti": q_join_anti,
        "q_agg_approx_distinct": q_agg_approx_distinct,
        "q_agg_approx_percentile": q_agg_approx_percentile,
        "q_dedup_minhash": q_dedup_minhash,
        "q_sample_stratified": q_sample_stratified,
        "q_text_pack": q_text_pack,
        "q_lang_id": q_lang_id,
        "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "q_dedup_keep_best": q_dedup_keep_best,
        "q_upsert": q_upsert,
        "q_similarity_topk": q_similarity_topk,
        "q_similarity_pairwise": q_similarity_pairwise,
        "q_text_tfidf": q_text_tfidf,
        "q_text_bigrams": q_text_bigrams,
        "q_vector_centroid": q_vector_centroid,
        "q_vector_norms": q_vector_norms,
        "q_stream_static_join": q_stream_static_join,
        "q_sql_tpch_q1": q_sql_tpch_q1,
        "q_sql_tpch_q3": q_sql_tpch_q3,
        "q_sql_tpch_q5": q_sql_tpch_q5,
        "q_sql_tpch_q6": q_sql_tpch_q6,
        "q_sql_tpch_q12": q_sql_tpch_q12,
        "q_sql_tpch_q4": q_sql_tpch_q4,
        "q_sql_tpch_q10": q_sql_tpch_q10,
        "q_sql_tpch_q14": q_sql_tpch_q14,
        "q_sql_tpch_q18": q_sql_tpch_q18,
        "q_sql_tpch_q7": q_sql_tpch_q7,
        "q_sql_tpch_q8": q_sql_tpch_q8,
        "q_sql_tpch_q9": q_sql_tpch_q9,
        "q_agg_filter_clause": q_agg_filter_clause,
        "q_subquery_scalar": q_subquery_scalar,
        "q_join_asof": q_join_asof,
        "q_time_gapfill": q_time_gapfill,
        "q_funnel": q_funnel,
        "q_rollup_time": q_rollup_time,
        "q_window_tumbling_batch": q_window_tumbling_batch,
        "q_agg_cube": q_agg_cube,
        "q_agg_pivot": q_agg_pivot,
        "q_agg_stats": q_agg_stats,
        "q_agg_percentile": q_agg_percentile,
        "q_window_distribution": q_window_distribution,
        "q_agg_conditional": q_agg_conditional,
        "q_agg_grouping_sets": q_agg_grouping_sets,
        "q_unpivot": q_unpivot,
        "q_histogram": q_histogram,
        "q_array_funcs": q_array_funcs,
        "q_string_distance": q_string_distance,
        "q_incremental_agg": q_incremental_agg,
        "q_grouped_map": q_grouped_map,
        "q_count": q_count,
        "q_cast_schema": q_cast_schema,
        "q_filter_time_range": q_filter_time_range,
        "q_partition_prune": q_partition_prune,
        "q_project_drop": q_project_drop,
        "q_derive_year_month": q_derive_year_month,
        "q_groupby_avg_orderby": q_groupby_avg_orderby,
        "q_date_arithmetic": q_date_arithmetic,
        "q_filter_predicates": q_filter_predicates,
        "q_project_case": q_project_case,
        "q_join_inner": q_join_inner,
        "q_join_outer": q_join_outer,
        "q_join_semi": q_join_semi,
        "q_agg_basic": q_agg_basic,
        "q_agg_count_distinct": q_agg_count_distinct,
        "q_agg_rollup": q_agg_rollup,
        "q_agg_having": q_agg_having,
        "q_topk": q_topk,
        "q_set_ops": q_set_ops,
        "q_dedup_exact": q_dedup_exact,
        "q_string_funcs": q_string_funcs,
        "q_date_funcs": q_date_funcs,
        "q_math_funcs": q_math_funcs,
        "q_array_explode": q_array_explode,
        "q_array_posexplode": q_array_posexplode,
        "q_null_funcs": q_null_funcs,
        "q_dedup_span": q_dedup_span,
        "q_domain_mixture": q_domain_mixture,
        "q_mutual_info": q_mutual_info,
        "q_ks_test": q_ks_test,
        "q_bitmap_rollup": q_bitmap_rollup,
        "q_ann_pq": q_ann_pq,
        "q_random_projection": q_random_projection,
        "q_attribution_decay": q_attribution_decay,
        "q_survival_km": q_survival_km,
        "q_acf": q_acf,
        "q_abtest_cuped": q_abtest_cuped,
        "q_calibration": q_calibration,
        "q_gini": q_gini,
        "q_graph_kcore": q_graph_kcore,
        "q_mmr_diversify": q_mmr_diversify,
        "q_seq_pairs": q_seq_pairs,
        "q_path_mining": q_path_mining,
        "q_item_cf": q_item_cf,
        "q_ccf": q_ccf,
        "q_mannwhitney": q_mannwhitney,
        "q_survival_logrank": q_survival_logrank,
        "q_spearman": q_spearman,
        "q_graph_jaccard": q_graph_jaccard,
        "q_abtest_srm": q_abtest_srm,
        "q_abtest_did": q_abtest_did,
    }
    return {k: _prepared(base[k]) for k in _stalest_first(base)}


def _sql_vec(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


_COS = (
    "ROUND(LIST_DOT_PRODUCT(e, {q}) / "
    "(SQRT(LIST_DOT_PRODUCT(e, e)) * SQRT(LIST_DOT_PRODUCT({q}, {q}))), 6)"
)


def _zorder_oracle_expr() -> str:
    """Morton-interleave arithmetic for the q_zorder_layout oracle —
    generated by the SAME code that documents the portable form
    (operators/layout.py:zorder_sql), evaluated over aliases zx/zy."""
    return LO.zorder_sql("zx", "zy", bits=8)


def _ann_lsh_oracle(n_planes: int = 4) -> str:
    """Replay of q_ann_lsh: the hyperplanes are seeded LITERALS, so the
    oracle recomputes the sign-bit bucket per vector and the query's
    bucket, then brute-forces cosine top-k inside that bucket — the
    exact same restriction the LSH probe makes. Dot products accumulate
    left-to-right in float64 on both engines, so sign bits agree."""
    import numpy as np

    planes = np.random.RandomState(42).randn(4, 64)[:n_planes]
    q = [1.0] * 64
    qb = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(q, p)) >= 0)
    bits = " + ".join(
        f"(CASE WHEN LIST_DOT_PRODUCT(e, {_sql_vec(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    qs = _sql_vec(q)
    cos = _COS.format(q=qs)
    return f"""
        WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        bb AS (SELECT vec_id, e, {bits} AS bucket FROM b)
        SELECT vec_id, {cos} AS cosine
        FROM bb WHERE bucket = {qb}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _ann_recall_oracle() -> str:
    """q_ann_recall: brute top-10 (LIMIT-10 variant of the
    q_similarity_topk oracle) intersected with the LSH probe's top-10
    (the full _ann_lsh_oracle replay, nested as a derived table)."""
    cos = _COS.format(q="q")
    return f"""
        WITH brute AS (
            SELECT vec_id FROM (
                SELECT vec_id, {cos} AS cosine
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
                     (SELECT [1.0 FOR _ IN RANGE(64)]::DOUBLE[] AS q)
                ORDER BY cosine DESC, vec_id LIMIT 10
            )
        ), approx AS (
            SELECT vec_id FROM ({_ann_lsh_oracle(n_planes=2)})
        )
        SELECT COUNT(*)::INT AS n_common,
               ROUND(COUNT(*) / 10.0, 6) AS recall_at_10
        FROM brute JOIN approx USING (vec_id)
    """


def _ann_ivf_oracle() -> str:
    """Replay of q_ann_ivf: centroid literals → per-vector nearest
    centroid (first-argmax, matching Spark's array_position formulation)
    → probe the n_probe centroids nearest the query (computed here the
    same way ivf_topk does) → cosine top-k within probed cells."""
    import numpy as np

    centroids = np.random.RandomState(7).randn(8, 64)
    q = np.asarray([1.0] * 64)
    sims = []
    for i, c in enumerate(centroids):
        denom = float(np.linalg.norm(q) * np.linalg.norm(c)) or 1.0
        sims.append((float(np.dot(q, c)) / denom, i))
    probe = sorted(i for _, i in sorted(sims, reverse=True)[:3])
    cent_sims = ", ".join(
        f"LIST_DOT_PRODUCT(e, {_sql_vec(c)}) / "
        f"(SQRT(LIST_DOT_PRODUCT(e, e)) * SQRT(LIST_DOT_PRODUCT({_sql_vec(c)}, {_sql_vec(c)})))"
        for c in centroids
    )
    cos = _COS.format(q=_sql_vec([1.0] * 64))
    return f"""
        WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        a AS (SELECT vec_id, e,
                     LIST_POSITION(s, LIST_MAX(s)) - 1 AS cent
              FROM (SELECT vec_id, e, [{cent_sims}] AS s FROM b))
        SELECT vec_id, {cos} AS cosine
        FROM a WHERE cent IN ({", ".join(str(i) for i in probe)})
        ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _dedup_embedding_oracle() -> str:
    """Replay of q_dedup_embedding: 6-plane sign buckets, same-bucket
    pair join, exact pairwise cosine, global top-50 with (cosine desc,
    id_a, id_b) tie-break."""
    import numpy as np

    planes = np.random.RandomState(11).randn(6, 64)
    bits = " + ".join(
        f"(CASE WHEN LIST_DOT_PRODUCT(e, {_sql_vec(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        bb AS (SELECT vec_id, e, {bits} AS bucket FROM b)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(LIST_DOT_PRODUCT(a.e, b.e) /
                     (SQRT(LIST_DOT_PRODUCT(a.e, a.e)) * SQRT(LIST_DOT_PRODUCT(b.e, b.e))), 6) AS cosine
        FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ORDER BY cosine DESC, id_a, id_b LIMIT 50
    """


def _kmeans_oracle() -> str:
    """q_kmeans replay: the micro-grid Lloyd chain at k=4, both
    iterations, final assignment per vector."""
    return _kmeans_micro_cte(4) + """
            SELECT vec_id, cluster FROM af ORDER BY vec_id
    """


def _kmeans_micro_cte(k: int, iterations: int = 2, dim: int = 64) -> str:
    """Replay of the k-means Lloyd chain (vectors.py
    _kmeans_fit_micro): coordinates quantized to integer micro-units
    with the engines' shared HALF_UP ROUND, NULL ids dropped,
    distances as EXACT integer sums (associative — no fold-order
    caveat at all), centroid means via the identical
    double-division-then-6-dp-round, re-quantized to the micro grid
    for the next pass. Generated per (k, iterations) so every k-means
    contract query shares one copy of the replay; it defines the CTEs
    emb, embq, c0…c{iterations}, d0/a0…, dfin and af (vec_id,
    cluster)."""
    blocks = [
        f"""
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), embq AS (
                SELECT vec_id,
                       LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                      x -> CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS vq
                FROM embeddings WHERE vec_id IS NOT NULL
            ), c0 AS (
                SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vq AS cq
                FROM (SELECT vec_id, vq FROM embq ORDER BY vec_id LIMIT {k})
            )"""
    ]
    for i in range(iterations):
        blocks.append(f""", d{i} AS (
                SELECT e.vec_id, i.cid,
                       LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}),
                             j -> (e.vq[j] - i.cq[j]) * (e.vq[j] - i.cq[j]))) AS d2
                FROM embq e CROSS JOIN c{i} i
            ), a{i} AS (
                SELECT vec_id, cid AS cluster FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM d{i}
                ) WHERE rn = 1
            ), c{i + 1} AS (
                SELECT i.cid, COALESCE(n.cq, i.cq) AS cq
                FROM c{i} i LEFT JOIN (
                    SELECT cluster AS cid, LIST(mq ORDER BY dim) AS cq FROM (
                        SELECT a.cluster, gs.dim,
                               CAST(ROUND(ROUND(CAST(SUM(e.vq[gs.dim]) AS DOUBLE)
                                     / COUNT(*) / 1000000.0, 6) * 1000000.0, 0) AS BIGINT) AS mq
                        FROM a{i} a JOIN embq e USING (vec_id)
                        CROSS JOIN GENERATE_SERIES(1, {dim}) gs(dim)
                        GROUP BY a.cluster, gs.dim
                    ) GROUP BY cluster
                ) n USING (cid)
            )""")
    blocks.append(f""", dfin AS (
                SELECT e.vec_id, i.cid,
                       LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}),
                             j -> (e.vq[j] - i.cq[j]) * (e.vq[j] - i.cq[j]))) AS d2
                FROM embq e CROSS JOIN c{iterations} i
            ), af AS (
                SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM dfin
                ) WHERE rn = 1
            )""")
    return "".join(blocks)


def _semantic_dedup_oracle(k: int = 4) -> str:
    """SemDeDup replay (q_dedup_semantic at k=4,
    q_dedup_semantic_scaled at k=32): the micro-grid Lloyd chain,
    then pairwise cosine on the original doubles WITHIN each cluster,
    global top-50 with the (cosine desc, id_a, id_b) tie-break — the
    same cosine formulation q_dedup_embedding's oracle uses."""
    return _kmeans_micro_cte(k) + """
            SELECT fa.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                         (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine
            FROM af fa JOIN af fb ON fa.cluster = fb.cluster AND fa.vec_id < fb.vec_id
            JOIN emb a ON a.vec_id = fa.vec_id
            JOIN emb b ON b.vec_id = fb.vec_id
            ORDER BY cosine DESC, id_a, id_b LIMIT 50
    """


_DIRECTED_PAIRS_CTE = """
            , embl AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
            ), pairs AS (
                SELECT a.vec_id AS anchor, a.label AS anchor_label,
                       b.vec_id AS nid, b.label AS nlabel,
                       ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                             (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine
                FROM af fa JOIN af fb ON fa.cluster = fb.cluster AND fa.vec_id <> fb.vec_id
                JOIN embl a ON a.vec_id = fa.vec_id
                JOIN embl b ON b.vec_id = fb.vec_id
            )
"""


def _hard_negatives_oracle() -> str:
    """q_hard_negatives replay: scale-k integer Lloyd chain (k=32,
    kmeans_train's micro-grid contract) + DIRECTED labeled
    within-cluster pair scan, per-anchor rank over different-label
    neighbors (cosine DESC, nid tie-break), rank <= 3."""
    return _kmeans_micro_cte(32) + _DIRECTED_PAIRS_CTE + """
            SELECT anchor, anchor_label, nid, nlabel, cosine, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cosine DESC, nid) AS rank
                FROM pairs WHERE anchor_label <> nlabel
            ) WHERE rank <= 3
            ORDER BY anchor, rank
    """


def _knn_label_noise_oracle() -> str:
    """q_knn_label_noise replay: same scale-k chain and directed pair
    scan, 5-nearest neighbors per anchor, plurality vote
    (votes DESC, label ASC)."""
    return _kmeans_micro_cte(32) + _DIRECTED_PAIRS_CTE + """
            , nn AS (
                SELECT * FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cosine DESC, nid) AS rank
                    FROM pairs
                ) WHERE rank <= 5
            ), votes AS (
                SELECT anchor, anchor_label, nlabel, COUNT(*) AS n_votes
                FROM nn GROUP BY anchor, anchor_label, nlabel
            ), top AS (
                SELECT * FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY n_votes DESC, nlabel) AS vr
                    FROM votes
                ) WHERE vr = 1
            ), tot AS (
                SELECT anchor, CAST(COUNT(*) AS INT) AS n_neighbors FROM nn GROUP BY anchor
            )
            SELECT t.anchor AS vec_id, t.anchor_label AS label, t.nlabel AS vote_label,
                   CAST(t.n_votes AS INT) AS n_votes, tot.n_neighbors,
                   t.anchor_label = t.nlabel AS agree
            FROM top t JOIN tot USING (anchor)
            ORDER BY vec_id
    """


def _rp_oracle(d_out: int = 16, dim: int = 64, keep_dims: int = 4) -> str:
    """q_random_projection replay: the seeded sign rows as list
    literals, LIST_DOT_PRODUCT folds, sqrt(d_out) scaling, and the
    left-associated norm chain over the ROUNDED components."""
    signs = _rp_signs(d_out, dim)
    root = float(d_out) ** 0.5
    y_defs = ",\n                   ".join(
        f"ROUND(LIST_DOT_PRODUCT(v, {_sql_vec(s)}) / {root!r}, 6) AS y_{i}"
        for i, s in enumerate(signs)
    )
    chain = " + ".join(f"y_{i} * y_{i}" for i in range(d_out))
    keep = ", ".join(f"y_{i}" for i in range(keep_dims))
    return f"""
        WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (
            SELECT vec_id,
                   {y_defs},
                   SQRT(LIST_DOT_PRODUCT(v, v)) AS nx
            FROM b
        )
        SELECT vec_id, {keep},
               ROUND(SQRT({chain}) / nx, 6) AS norm_ratio
        FROM p ORDER BY vec_id
    """


def _pq_oracle(m: int = 4, k: int = 4, dim: int = 64) -> str:
    """q_ann_pq replay: per subspace the 1-iteration Lloyd chain of
    pq_train_encode's own contract (init from the first
    ``k`` ids, 6-dp distance argmin with cid tie-break, integer
    micro-unit centroid means, empty clusters keep the init centroid),
    then the ADC lookup table for the all-ones query and the exact
    integer micro-unit distance sum."""
    subdim = dim // m
    ctes = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ]
    for s in range(m):
        o = s * subdim
        ctes.append(f"""i{s} AS (
                SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                       v[{o + 1}:{o + subdim}] AS c
                FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {k})
            )""")
        ctes.append(f"""d{s} AS (
                SELECT e.vec_id, i.cid,
                       ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {subdim}),
                             j -> (e.v[{o} + j] - i.c[j]) * (e.v[{o} + j] - i.c[j]))), 6) AS d2
                FROM emb e CROSS JOIN i{s} i
            )""")
        ctes.append(f"""a{s} AS (
                SELECT vec_id, cid AS cluster FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM d{s}
                ) WHERE rn = 1
            )""")
        ctes.append(f"""u{s} AS (
                SELECT i.cid, COALESCE(n.c, i.c) AS c
                FROM i{s} i LEFT JOIN (
                    SELECT cluster AS cid, LIST(mm ORDER BY dim) AS c FROM (
                        SELECT a.cluster, gs.dim,
                               ROUND(SUM(CAST(ROUND(e.v[{o} + gs.dim] * 1000000, 0) AS BIGINT))
                                     / COUNT(*) / 1000000.0, 6) AS mm
                        FROM a{s} a JOIN emb e USING (vec_id)
                        CROSS JOIN GENERATE_SERIES(1, {subdim}) gs(dim)
                        GROUP BY a.cluster, gs.dim
                    ) GROUP BY cluster
                ) n USING (cid)
            )""")
        ctes.append(f"""f{s} AS (
                SELECT e.vec_id, i.cid,
                       ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {subdim}),
                             j -> (e.v[{o} + j] - i.c[j]) * (e.v[{o} + j] - i.c[j]))), 6) AS d2
                FROM emb e CROSS JOIN u{s} i
            )""")
        ctes.append(f"""code{s} AS (
                SELECT vec_id, CAST(cid AS INT) AS code FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM f{s}
                ) WHERE rn = 1
            )""")
        ctes.append(f"""lut{s} AS (
                SELECT cid, CAST(ROUND(ROUND(LIST_SUM(LIST_TRANSFORM(
                           GENERATE_SERIES(1, {subdim}),
                           j -> (1.0 - c[j]) * (1.0 - c[j]))), 6) * 1000000, 0)
                       AS BIGINT) AS micro
                FROM u{s}
            )""")
    code_joins = " ".join(
        f"JOIN code{s} c{s} USING (vec_id)" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cid = c{s}.code" for s in range(m)
    )
    code_cols = ", ".join(f"c{s}.code AS code_{s}" for s in range(m))
    micro_sum = " + ".join(f"l{s}.micro" for s in range(m))
    return f"""
        WITH {", ".join(ctes)}
        SELECT c0.vec_id, {code_cols},
               ROUND(({micro_sum}) / 1000000.0, 6) AS adc_d2
        FROM code0 c0 {code_joins} {lut_joins}
        ORDER BY adc_d2, c0.vec_id LIMIT 10
    """


def _ivfpq_oracle(
    kc: int = 4, n_probe: int = 2, m: int = 4, k: int = 4, dim: int = 64
) -> str:
    """q_ann_ivfpq replay — the FULL composite in SQL: the coarse
    quantizer is the kmeans_train chain with one iteration
    (_kmeans_micro_cte; centroids ``cu`` = micro-units / 10⁶, cells
    from its final assignment), 6-dp residuals, the _pq_oracle
    per-subspace Lloyd chains over the RESIDUAL table, probe =
    top-n_probe cells by 6-dp distance to the all-ones query,
    per-(cell, sub, code) ADC lookup, exact integer micro-unit
    distance sums."""
    subdim = dim // m
    coarse = _kmeans_micro_cte(kc, 1, dim)
    ctes = [
        """cu AS (
            SELECT cid, LIST_TRANSFORM(cq, x -> CAST(x AS DOUBLE) / 1000000.0) AS c
            FROM c1
        )""",
        "cellof AS (SELECT vec_id, cluster AS cell FROM af)",
    ]
    ctes.append(f"""probe AS (
            SELECT cid FROM (
                SELECT cid,
                       ROW_NUMBER() OVER (ORDER BY
                           ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}),
                                 j -> (1.0 - c[j]) * (1.0 - c[j]))), 6), cid) AS rn
                FROM cu
            ) WHERE rn <= {n_probe}
        )""")
    ctes.append(f"""res AS (
            SELECT e.vec_id, cl.cell,
                   LIST_TRANSFORM(GENERATE_SERIES(1, {dim}),
                                  j -> ROUND(e.v[j] - u.c[j], 6)) AS v
            FROM emb e JOIN cellof cl USING (vec_id) JOIN cu u ON u.cid = cl.cell
        )""")
    # ---- per-subspace PQ Lloyd chains over the residual table
    for s in range(m):
        o = s * subdim
        ctes.append(f"""pi{s} AS (
                SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                       v[{o + 1}:{o + subdim}] AS c
                FROM (SELECT vec_id, v FROM res ORDER BY vec_id LIMIT {k})
            )""")
        ctes.append(f"""pd{s} AS (
                SELECT e.vec_id, i.cid,
                       ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {subdim}),
                             j -> (e.v[{o} + j] - i.c[j]) * (e.v[{o} + j] - i.c[j]))), 6) AS d2
                FROM res e CROSS JOIN pi{s} i
            )""")
        ctes.append(f"""pa{s} AS (
                SELECT vec_id, cid AS cluster FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM pd{s}
                ) WHERE rn = 1
            )""")
        ctes.append(f"""pu{s} AS (
                SELECT i.cid, COALESCE(n.c, i.c) AS c
                FROM pi{s} i LEFT JOIN (
                    SELECT cluster AS cid, LIST(mm ORDER BY dim) AS c FROM (
                        SELECT a.cluster, gs.dim,
                               ROUND(SUM(CAST(ROUND(e.v[{o} + gs.dim] * 1000000, 0) AS BIGINT))
                                     / COUNT(*) / 1000000.0, 6) AS mm
                        FROM pa{s} a JOIN res e USING (vec_id)
                        CROSS JOIN GENERATE_SERIES(1, {subdim}) gs(dim)
                        GROUP BY a.cluster, gs.dim
                    ) GROUP BY cluster
                ) n USING (cid)
            )""")
        ctes.append(f"""pf{s} AS (
                SELECT e.vec_id, i.cid,
                       ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {subdim}),
                             j -> (e.v[{o} + j] - i.c[j]) * (e.v[{o} + j] - i.c[j]))), 6) AS d2
                FROM res e CROSS JOIN pu{s} i
            )""")
        ctes.append(f"""code{s} AS (
                SELECT vec_id, CAST(cid AS INT) AS code FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                    FROM pf{s}
                ) WHERE rn = 1
            )""")
        ctes.append(f"""lut{s} AS (
                SELECT p.cid AS cell, u.cid AS code,
                       CAST(ROUND(ROUND(LIST_SUM(LIST_TRANSFORM(
                                GENERATE_SERIES(1, {subdim}),
                                j -> ((1.0 - cc.c[{o} + j]) - u.c[j])
                                     * ((1.0 - cc.c[{o} + j]) - u.c[j]))), 6)
                             * 1000000, 0) AS BIGINT) AS micro
                FROM probe p JOIN cu cc ON cc.cid = p.cid CROSS JOIN pu{s} u
            )""")
    code_joins = " ".join(
        f"JOIN code{s} c{s} USING (vec_id)" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cell = cl.cell AND l{s}.code = c{s}.code"
        for s in range(m)
    )
    micro_sum = " + ".join(f"l{s}.micro" for s in range(m))
    return f"""
        {coarse}, {", ".join(ctes)}
        SELECT c0.vec_id, CAST(cl.cell AS INT) AS cell,
               ROUND(({micro_sum}) / 1000000.0, 6) AS adc_d2
        FROM code0 c0 {code_joins}
        JOIN cellof cl USING (vec_id)
        JOIN probe p ON p.cid = cl.cell
        {lut_joins}
        ORDER BY adc_d2, c0.vec_id LIMIT 10
    """


_NB_CHAIN = r"""base AS (
                SELECT doc_id AS id, lang AS actual,
                       (CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), CHR(31), '11')), 1, 15))
                             AS BIGINT) % 5) = 0 AS is_hold,
                       text
                FROM documents
            ), toks AS (
                SELECT id, actual, is_hold,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS w
                FROM base
            ), train_wc AS (
                SELECT w, actual AS cls, COUNT(*) AS c_wk
                FROM toks WHERE NOT is_hold GROUP BY w, actual
            ), class_tok AS (
                SELECT cls, SUM(c_wk) AS t_k FROM train_wc GROUP BY cls
            ), class_doc AS (
                SELECT actual AS cls, COUNT(*) AS d_k
                FROM base WHERE NOT is_hold GROUP BY actual
            ), n_train AS (
                SELECT COUNT(*) AS n_d FROM base WHERE NOT is_hold
            ), classes AS (
                SELECT cls, t_k,
                       CAST(ROUND(LN(CAST(d_k AS DOUBLE) / n_d) * 1e6, 0) AS BIGINT) AS prior_micro
                FROM class_doc JOIN class_tok USING (cls) CROSS JOIN n_train
            ), vocab AS (
                SELECT DISTINCT w FROM train_wc
            ), v_size AS (
                SELECT COUNT(*) AS v FROM vocab
            ), grid AS (
                SELECT vocab.w, classes.cls,
                       CAST(ROUND(LN(CAST(COALESCE(train_wc.c_wk, 0) + 1 AS DOUBLE)
                                     / (classes.t_k + v_size.v)) * 1e6, 0) AS BIGINT) AS llk_micro
                FROM vocab CROSS JOIN classes CROSS JOIN v_size
                LEFT JOIN train_wc
                  ON train_wc.w = vocab.w AND train_wc.cls = classes.cls
            ), hold_wc AS (
                SELECT id, w, COUNT(*) AS c FROM toks WHERE is_hold GROUP BY id, w
            ), word_scores AS (
                SELECT id, cls, SUM(c * llk_micro) AS wsum
                FROM hold_wc JOIN grid USING (w) GROUP BY id, cls
            ), scores AS (
                SELECT b.id, b.actual, c.cls,
                       COALESCE(ws.wsum, 0) + c.prior_micro AS score_micro
                FROM (SELECT id, actual FROM base WHERE is_hold) b
                CROSS JOIN classes c
                LEFT JOIN word_scores ws ON ws.id = b.id AND ws.cls = c.cls
            ), best AS (
                SELECT id, MAX(score_micro) AS best_micro FROM scores GROUP BY id
            ), preds AS (
                SELECT s.id AS doc_id, s.actual,
                       MIN(s.cls) AS predicted,
                       ROUND(MAX(b.best_micro) / 1e6, 6) AS score,
                       CAST(CASE WHEN MIN(s.cls) = s.actual THEN 1 ELSE 0 END AS INT) AS correct
                FROM scores s JOIN best b ON s.id = b.id AND s.score_micro = b.best_micro
                GROUP BY s.id, s.actual
            )"""


def _nb_cv_oracle(k_folds: int = 5) -> str:
    """q_nb_cross_validate twin: the _NB_CHAIN replayed once per fold
    (CTE names suffixed, the holdout remainder swapped), each fold
    reduced to one accuracy row, UNION ALL'd."""
    names = [
        "base", "toks", "train_wc", "class_tok", "class_doc", "n_train",
        "classes", "vocab", "v_size", "grid", "hold_wc", "word_scores",
        "scores", "best", "preds",
    ]
    parts, sels = [], []
    for f in range(int(k_folds)):
        chain = _NB_CHAIN.replace("% 5) = 0", f"% {int(k_folds)}) = {f}")
        for n in sorted(names, key=len, reverse=True):
            chain = re.sub(rf"\b{n}\b", f"{n}_f{f}", chain)
        parts.append(chain)
        sels.append(
            f"""SELECT CAST({f} AS INT) AS fold,
                   CAST(COUNT(*) AS BIGINT) AS n_holdout,
                   CAST(SUM(correct) AS BIGINT) AS n_correct,
                   ROUND(CAST(SUM(correct) AS DOUBLE) / COUNT(*), 6) AS accuracy
            FROM preds_f{f}"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + "\n            "
        + "\n            UNION ALL\n            ".join(sels)
        + "\n            ORDER BY fold"
    )


def _sprt_oracle(
    p0: float = 0.25,
    p1: float = 0.40,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> str:
    """q_abtest_sprt twin — LLR increments and boundaries come from the
    SAME sprt_llr_constants()/math the Spark plan embeds (micro-unit
    integers, so the walk is exact integer arithmetic in both
    engines)."""
    import math as _m

    c1, c0 = agg.sprt_llr_constants(p0, p1)
    c1_micro = int(round(c1 * 1e6))
    c0_micro = int(round(c0 * 1e6))
    up_micro = int(round(_m.log((1.0 - beta) / alpha) * 1e6))
    lo_micro = int(round(_m.log(beta / (1.0 - alpha)) * 1e6))
    return f"""
            WITH closed AS (
                SELECT user_id, ts, event_type,
                       DATE_TRUNC('hour', MIN(ts) OVER (PARTITION BY user_id))
                           + INTERVAL 1 HOUR AS cohort_close
                FROM events
            ), users AS (
                SELECT user_id, MIN(ts) AS first_ts,
                       MAX(CASE WHEN event_type = 'purchase'
                                 AND ts < cohort_close THEN 1 ELSE 0 END) AS cv
                FROM closed GROUP BY user_id
            ), obs AS (
                SELECT CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(user_id AS VARCHAR), CHR(31), '31')), 1, 15))
                                 AS BIGINT) % 2 AS INT) AS arm,
                       DATE_TRUNC('hour', first_ts) AS day,
                       cv
                FROM users
            ), daily AS (
                SELECT arm, day, COUNT(*) AS n_d, SUM(cv) AS s_d
                FROM obs GROUP BY arm, day
            ), cum AS (
                SELECT arm, day,
                       CAST(SUM(n_d) OVER w AS BIGINT) AS n_cum,
                       CAST(SUM(s_d) OVER w AS BIGINT) AS s_cum
                FROM daily
                WINDOW w AS (PARTITION BY arm ORDER BY day ROWS UNBOUNDED PRECEDING)
            )
            SELECT arm, day AS cohort_hour, n_cum, s_cum,
                   ROUND((s_cum * {c1_micro} + (n_cum - s_cum) * {c0_micro}) / 1e6, 6) AS llr,
                   CASE WHEN s_cum * {c1_micro} + (n_cum - s_cum) * {c0_micro} >= {up_micro}
                             THEN 'accept_h1'
                        WHEN s_cum * {c1_micro} + (n_cum - s_cum) * {c0_micro} <= {lo_micro}
                             THEN 'accept_h0'
                        ELSE 'continue' END AS decision
            FROM cum ORDER BY arm, day
        """


def _simhash_oracle(bits: int = 60) -> str:
    """Full SQL replay of the portable-simhash pipeline (tokenize →
    md5-60-bit hash → per-bit sign votes → packed signature → bucket
    groups), generated per bit position — same generator style as
    ``_zorder_oracle_expr``. LIST_FILTER drops empty tokens to match
    Spark's ``tokenize`` (text.py), which strips them — without it an
    empty/whitespace-only document would get an oracle-side simhash of
    the md5('') bit pattern while vanishing from the Spark side."""
    votes = ",\n                       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    packed = "\n                       + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                                          x -> x <> '')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', SUBSTR(md5(tok), 1, 15)) AS BIGINT) AS h
                FROM tok
            ), votes AS (
                SELECT doc_id,
                       {votes}
                FROM h GROUP BY doc_id
            ), sim AS (
                SELECT doc_id,
                       {packed} AS simhash
                FROM votes
            )
            SELECT MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
            FROM sim GROUP BY simhash HAVING COUNT(*) >= 2
            ORDER BY first_doc
    """


def _simhash_hamming_oracle(
    bits: int = 60, n_blocks: int = 4, max_hamming: int = 3
) -> str:
    """Full SQL replay of the block-permutation simhash pipeline
    (q_simhash_hamming): same generated tokenize → md5-60-bit →
    sign-vote → pack stages as ``_simhash_oracle``, then an OR-of-block-
    equalities self-join (fine at oracle scale; the Spark side runs the
    scalable union of per-block equi-joins) and the exact
    ``bit_count(xor)`` verify."""
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    votes = ",\n                       ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    packed = "\n                       + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    blocks = "\n                     OR ".join(
        f"(a.simhash >> {k * block_bits}) & {mask} = (b.simhash >> {k * block_bits}) & {mask}"
        for k in range(n_blocks)
    )
    return f"""
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                                          x -> x <> '')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', SUBSTR(md5(tok), 1, 15)) AS BIGINT) AS h
                FROM tok
            ), votes AS (
                SELECT doc_id,
                       {votes}
                FROM h GROUP BY doc_id
            ), sim AS (
                SELECT doc_id,
                       {packed} AS simhash
                FROM votes
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sim a JOIN sim b
              ON a.doc_id < b.doc_id
             AND ({blocks})
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
            ORDER BY id_a, id_b
    """


def _minhash_accuracy_oracle(
    num_hashes: int = 16, bands: int = 4, shingle_k: int = 5
) -> str:
    """Full SQL replay of the portable MinHash accuracy harness
    (q_minhash_accuracy): shingle → md5-60-bit hash mod the Mersenne
    prime → per-permutation MIN → banded candidate join → estimated vs
    exact Jaccard. Permutation constants come from the SAME module
    constants the Spark side uses (operators/text.py _MINHASH_A/_B) so
    the two sides cannot drift."""
    p = TX._MINHASH_PRIME
    rows = num_hashes // bands
    mins = ",\n                       ".join(
        f"MIN((h * {TX._MINHASH_A[i]} + {TX._MINHASH_B[i]}) % {p}) AS v_{i}"
        for i in range(num_hashes)
    )
    band_pred = "\n                      OR ".join(
        "("
        + " AND ".join(f"a.v_{i} = b.v_{i}" for i in range(k * rows, (k + 1) * rows))
        + ")"
        for k in range(bands)
    )
    match_expr = " + ".join(
        f"(CASE WHEN a.v_{i} = b.v_{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
            WITH d AS (
                SELECT doc_id, LOWER(text) AS t FROM documents
                WHERE LENGTH(text) >= {shingle_k}
            ), sh AS (
                SELECT DISTINCT doc_id,
                       CAST(CONCAT('0x', SUBSTR(md5(s), 1, 15)) AS BIGINT) % {p} AS h
                FROM (
                    SELECT doc_id, UNNEST(LIST_TRANSFORM(
                        GENERATE_SERIES(1, LENGTH(t) - {shingle_k - 1}),
                        i -> SUBSTRING(t, i, {shingle_k}))) AS s
                    FROM d
                )
            ), sig AS (
                SELECT doc_id,
                       {mins}
                FROM sh GROUP BY doc_id
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), cands AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       ROUND(({match_expr}) / {float(num_hashes)}, 6) AS est_jaccard
                FROM sig a JOIN sig b
                  ON a.doc_id < b.doc_id
                 AND ({band_pred})
            ), cm AS (
                SELECT c.id_a, c.id_b, COUNT(*) AS common
                FROM cands c
                JOIN sh x ON x.doc_id = c.id_a
                JOIN sh y ON y.doc_id = c.id_b AND y.h = x.h
                GROUP BY c.id_a, c.id_b
            )
            SELECT c.id_a, c.id_b, c.est_jaccard,
                   ROUND(CAST(cm.common AS DOUBLE) / (sa.n + sb.n - cm.common), 6)
                       AS exact_jaccard,
                   ROUND(ABS(c.est_jaccard
                             - ROUND(CAST(cm.common AS DOUBLE)
                                     / (sa.n + sb.n - cm.common), 6)), 6) AS abs_err
            FROM cands c
            JOIN cm ON cm.id_a = c.id_a AND cm.id_b = c.id_b
            JOIN sizes sa ON sa.doc_id = c.id_a
            JOIN sizes sb ON sb.doc_id = c.id_b
            ORDER BY c.id_a, c.id_b
    """


def _bootstrap_ci_oracle(n_boot: int = 40, seed: int = 17) -> str:
    """SQL twin of q_bootstrap_ci — the Poisson(1) inverse-CDF
    thresholds come from the SAME poisson1_cdf_thresholds() call the
    Spark plan embeds, so both engines compare u against identical
    doubles (repr round-trips exactly)."""
    ts = agg.poisson1_cdf_thresholds()
    w_expr = " + ".join(
        f"(CASE WHEN u >= {t!r} THEN 1 ELSE 0 END)" for t in ts
    )
    lo_rank = int((1.0 - 0.95) / 2.0 * n_boot) + 1
    hi_rank = n_boot - lo_rank + 1
    return f"""
            WITH rows_ AS (
                SELECT event_type, CAST(event_id AS VARCHAR) AS id,
                       CAST(ROUND(value * 1e6, 0) AS BIGINT) AS vm
                FROM events
            ), pe AS (
                SELECT event_type, COUNT(*) AS n_rows,
                       CAST(ROUND(CAST(SUM(vm) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS pe_micro
                FROM rows_ GROUP BY event_type
            ), drawn AS (
                SELECT event_type, vm, r.b,
                       (CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(id, CHR(31), CAST(r.b AS VARCHAR), CHR(31), '{seed}')), 1, 15))
                                  AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
                FROM rows_ CROSS JOIN range(0, {n_boot}) r(b)
            ), weighted AS (
                SELECT event_type, b, vm, {w_expr} AS w FROM drawn
            ), cells AS (
                SELECT event_type, b, SUM(w) AS n_b, SUM(w * vm) AS s_b
                FROM weighted GROUP BY event_type, b
            ), means AS (
                SELECT event_type, b,
                       CAST(ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 0) AS BIGINT) AS mb
                FROM cells WHERE n_b > 0
            ), ranked AS (
                SELECT event_type, b, mb,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mb, b) AS rn
                FROM means
            ), stats AS (
                SELECT m.event_type,
                       MAX(p.n_rows) AS n_rows,
                       MAX(p.pe_micro) AS pe,
                       COUNT(*) AS nrep,
                       SUM(m.mb - p.pe_micro) AS sd,
                       SUM((m.mb - p.pe_micro) * (m.mb - p.pe_micro)) AS sd2,
                       MAX(CASE WHEN rn = {lo_rank} THEN mb END) AS lo,
                       MAX(CASE WHEN rn = {hi_rank} THEN mb END) AS hi
                FROM ranked m JOIN pe p USING (event_type)
                GROUP BY m.event_type
            )
            SELECT event_type, n_rows,
                   ROUND(pe / 1e6, 6) AS mean,
                   CASE WHEN nrep > 1 THEN
                       ROUND(SQRT((CAST(sd2 AS DOUBLE)
                                   - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(nrep AS DOUBLE))
                                  / (CAST(nrep AS DOUBLE) - 1.0)) / 1e6, 6)
                   END AS se_boot,
                   ROUND(lo / 1e6, 6) AS ci_lo,
                   ROUND(hi / 1e6, 6) AS ci_hi,
                   CAST({n_boot} AS INT) AS n_boot
            FROM stats ORDER BY event_type
        """


def oracle_sql() -> dict[str, str]:
    return {
        # — round-5 wave 4 —
        "q_minhash_accuracy": _minhash_accuracy_oracle(16, 4, 5),
        # wave 4: full SQL replay of decode→aHash→bucket over the
        # closed-form BMP fixture pixels (same oracle style as the
        # other multimodal queries: the Spark side decodes REAL bytes,
        # the oracle recomputes from the pixel formula)
        "q_image_dedup": """
            WITH px AS (
                SELECT i, x, y,
                       ((i*7 + x*5 + y*17) % 256
                        + (i*5 + x*13 + y*3) % 256
                        + (i*3 + x*7 + y*11) % 256) AS s
                FROM generate_series(0, 47) t0(i),
                     generate_series(0, 15) t1(x),
                     generate_series(0, 11) t2(y)
            ), cells AS (
                SELECT i, y // 2 AS by, x // 2 AS bx, SUM(s) AS cs
                FROM px GROUP BY i, y // 2, x // 2
            ), tot AS (
                SELECT i, SUM(cs) AS ts FROM cells GROUP BY i
            ), bits AS (
                SELECT c.i, (c.by * 8 + c.bx) AS pos,
                       CASE WHEN c.cs * 48 > t.ts THEN 1 ELSE 0 END AS bit
                FROM cells c JOIN tot t ON c.i = t.i
            ), h AS (
                SELECT i,
                       CAST(SUM(CASE WHEN bit = 1
                                     THEN (CAST(1 AS BIGINT) << pos)
                                     ELSE 0 END) AS BIGINT) AS ahash
                FROM bits GROUP BY i
            )
            SELECT MIN(i) AS first_media, COUNT(*) AS n_images
            FROM h GROUP BY ahash HAVING COUNT(*) >= 2
            ORDER BY first_media
        """,
        # wave 4: incremental custom-source stream — closed-form fixture
        "q_stream_source_custom": """
            WITH f AS (
                SELECT i, i * 10 + 3 AS sz, CAST(i // 5 AS INT) AS batch_id
                FROM generate_series(0, 15) t(i)
            )
            SELECT batch_id, COUNT(*) AS n_objects,
                   CAST(SUM(sz) AS BIGINT) AS total_bytes
            FROM f GROUP BY batch_id ORDER BY batch_id
        """,
        "q_url_canonicalize": r"""
            WITH pages AS (
                SELECT doc_id,
                       CONCAT('HTTPS://',
                              CASE WHEN doc_id % 3 = 0 THEN UPPER(source) ELSE source END,
                              '.Example.COM/docs/', CAST(doc_id % 50 AS VARCHAR),
                              '?id=', CAST(doc_id % 50 AS VARCHAR),
                              '&utm_source=feed&utm_campaign=c', CAST(doc_id % 7 AS VARCHAR),
                              '#sec', CAST(doc_id % 4 AS VARCHAR)) AS url
                FROM documents
            ),
            nofrag AS (
                SELECT doc_id, REGEXP_REPLACE(url, '#.*$', '') AS u0,
                       STRPOS(REGEXP_REPLACE(url, '#.*$', ''), '?') AS qp
                FROM pages
            ),
            cleaned AS (
                -- tracking strip scoped to the query-string slice only
                SELECT doc_id,
                       CASE WHEN qp > 0 THEN SUBSTRING(u0, 1, qp - 1) ELSE u0 END
                       || CASE WHEN qp > 0 THEN
                              REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
                                  SUBSTRING(u0, qp),
                                  '(?i)&utm_[a-z_]+=[^&#]*', '', 'g'),
                                  '(?i)\?utm_[a-z_]+=[^&#]*&', '?', 'g'),
                                  '(?i)\?utm_[a-z_]+=[^&#]*$', '', 'g')
                          ELSE '' END AS u
                FROM nofrag
            ),
            canon AS (
                SELECT doc_id,
                       LOWER(REGEXP_EXTRACT(u, '(?i)^(https?://[^/?#]*)', 1))
                       || REGEXP_REPLACE(u, '(?i)^(https?://[^/?#]*)', '') AS canonical_url
                FROM cleaned
            )
            SELECT canonical_url, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
            FROM canon GROUP BY canonical_url
            HAVING COUNT(*) >= 2
            ORDER BY canonical_url
        """,
        "q_html_strip": r"""
            WITH pages AS (
                SELECT source, text,
                       CONCAT('<html><head><script type="text/javascript">if (x&&y) { nav(); }',
                              '</script><style>.m{color:#333}</style></head><body><h1>',
                              source, '</h1><p>', text,
                              '</p><div>footer &amp; links&nbsp;&lt;here&gt;</div></body></html>')
                           AS html
                FROM documents
            ),
            s1 AS (
                SELECT source, text,
                       TRIM(REGEXP_REPLACE(
                           REPLACE(REPLACE(REPLACE(REPLACE(
                               REGEXP_REPLACE(
                                   REGEXP_REPLACE(
                                       REGEXP_REPLACE(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                                       '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                                   '<[^>]+>', ' ', 'g'),
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
                           '\s+', ' ', 'g')) AS stripped
                FROM pages
            )
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(stripped)), '\s+'),
                                t -> t <> ''))) AS BIGINT) AS sum_tok_stripped,
                   CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                t -> t <> ''))) AS BIGINT) AS sum_tok_text
            FROM s1 GROUP BY source ORDER BY source
        """,
        "q_token_entropy": r"""
            WITH words AS (
                SELECT doc_id,
                       unnest(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                              t -> t <> '')) AS w
                FROM documents
            ),
            per AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
            agg AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n,
                       COUNT(*) AS nd,
                       LN(CAST(SUM(c) AS DOUBLE)) - SUM(c * LN(c)) / CAST(SUM(c) AS DOUBLE) AS ent
                FROM per GROUP BY doc_id
            )
            SELECT doc_id, CAST(n AS INT) AS n_tokens, CAST(nd AS INT) AS n_distinct,
                   ROUND(ent, 4) AS entropy,
                   ROUND(CASE WHEN nd > 1 THEN ent / LN(CAST(nd AS DOUBLE)) END, 4) AS entropy_ratio
            FROM agg ORDER BY doc_id
        """,
        "q_fixed_width_ingest": """
            WITH recs AS (
                SELECT CONCAT(LPAD(CAST(o_orderkey AS VARCHAR), 10, '0'),
                              o_orderstatus,
                              LPAD(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 12, '0'),
                              CAST(o_orderdate AS VARCHAR)) AS line
                FROM orders
            ),
            parsed AS (
                SELECT CAST(SUBSTRING(line, 1, 10) AS BIGINT) AS okey,
                       SUBSTRING(line, 11, 1) AS status,
                       CAST(SUBSTRING(line, 12, 12) AS BIGINT) AS cents,
                       CAST(SUBSTRING(line, 24, 4) AS INT) AS year
                FROM recs
            )
            SELECT status, year, COUNT(*) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   CAST(SUM(okey) AS BIGINT) AS key_checksum
            FROM parsed GROUP BY status, year ORDER BY status, year
        """,
        "q_audio_dedup": r"""
            WITH s AS (
                SELECT m.i AS media_id, j.j AS j,
                       ABS(((m.i * 7919 + j.j * 31) % 65536) - 32768) AS a,
                       CAST(j.j // 50 AS INT) AS f
                FROM GENERATE_SERIES(0, 47) m(i), GENERATE_SERIES(0, 399) j(j)
            ),
            fr AS (SELECT media_id, f, CAST(SUM(a) AS BIGINT) AS fs
                   FROM s GROUP BY media_id, f),
            tot AS (SELECT media_id, CAST(SUM(fs) AS BIGINT) AS ts
                    FROM fr GROUP BY media_id),
            bits AS (
                SELECT fr.media_id,
                       CAST(SUM(CASE WHEN fr.fs * 8 >= t.ts
                                     THEN (CAST(1 AS BIGINT) << fr.f) ELSE 0 END)
                            AS BIGINT) AS ehash
                FROM fr JOIN tot t USING (media_id) GROUP BY fr.media_id
            )
            SELECT MIN(media_id) AS first_media, COUNT(*) AS n_clips
            FROM bits GROUP BY ehash HAVING COUNT(*) >= 2
            ORDER BY first_media
        """,
        "q_curation_pipeline": r"""
            WITH first AS (
                SELECT doc_id, text, lang FROM (
                    SELECT doc_id, text, lang,
                           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                    FROM documents
                ) WHERE rn = 1
            ),
            toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          x -> x <> '')) AS w
                FROM first
            ),
            per_word AS (
                SELECT doc_id, w, COUNT(*) AS c, SUM(LENGTH(w)) AS chars
                FROM toks GROUP BY doc_id, w
            ),
            stats AS (
                SELECT doc_id,
                       SUM(c)::INT AS n_words,
                       ROUND(SUM(chars)::DOUBLE / SUM(c), 6) AS mean_wlen,
                       ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_word_frac,
                       COUNT(*) AS nd,
                       LN(CAST(SUM(c) AS DOUBLE))
                           - SUM(c * LN(c)) / CAST(SUM(c) AS DOUBLE) AS ent
                FROM per_word GROUP BY doc_id
            ),
            kept AS (
                SELECT doc_id, n_words FROM stats
                WHERE n_words >= 40 AND n_words <= 100000
                  AND mean_wlen >= 2.0 AND mean_wlen <= 12.0
                  AND top_word_frac <= 0.12
                  AND ROUND(CASE WHEN nd > 1 THEN ent / LN(CAST(nd AS DOUBLE)) END, 4) >= 0.85
            )
            SELECT CASE WHEN CAST(CONCAT('0x', SUBSTR(md5(CONCAT('v1:', CAST(f.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 10
                        THEN 'holdout' ELSE 'train' END AS split,
                   f.lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(k.n_words) AS BIGINT) AS sum_words,
                   CAST(SUM(f.doc_id) AS BIGINT) AS id_checksum
            FROM first f JOIN kept k ON f.doc_id = k.doc_id
            GROUP BY 1, 2 ORDER BY split, lang
        """,
        "q_agg_maxby": """
            SELECT event_type,
                   arg_max(user_id, CAST(ROUND(value * 100, 0) AS BIGINT) * 10000000000
                                    + event_id) AS top_user,
                   arg_min(user_id, CAST(ROUND(value * 100, 0) AS BIGINT) * 10000000000
                                    + event_id) AS bottom_user,
                   ROUND(MAX(value), 6) AS max_value,
                   ROUND(MIN(value), 6) AS min_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q_log_parse": """
            WITH logs AS (
                SELECT CONCAT('evt id=', CAST(event_id AS VARCHAR),
                              ' user=', CAST(user_id AS VARCHAR),
                              ' type=', event_type,
                              ' cents=', CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR))
                           AS line
                FROM events
            ),
            parsed AS (
                SELECT CAST(regexp_extract(line, 'user=([0-9]+)', 1) AS BIGINT) AS uid,
                       regexp_extract(line, 'type=([a-z]+)', 1) AS typ,
                       CAST(regexp_extract(line, 'cents=([0-9]+)', 1) AS BIGINT) AS cents
                FROM logs
            )
            SELECT typ, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   COUNT(DISTINCT uid) AS n_users
            FROM parsed GROUP BY typ ORDER BY typ
        """,
        "q_assoc_rules": """
            WITH bi AS (
                SELECT DISTINCT l_orderkey AS basket, l_partkey % 40 AS item
                FROM lineitem
            ),
            nb AS (SELECT COUNT(DISTINCT basket) AS n FROM bi),
            ic AS (SELECT item, COUNT(*) AS n_item FROM bi GROUP BY item),
            pairs AS (
                SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
                FROM bi a JOIN bi b
                  ON a.basket = b.basket AND a.item < b.item
                GROUP BY a.item, b.item
                HAVING COUNT(*) >= 5
            )
            SELECT p.item_a, p.item_b, p.n_ab,
                   ROUND(p.n_ab / nb.n, 6) AS support,
                   ROUND(p.n_ab / ia.n_item, 6) AS conf_a_b,
                   ROUND(p.n_ab / ib.n_item, 6) AS conf_b_a,
                   ROUND(p.n_ab * nb.n / (ia.n_item * ib.n_item), 6) AS lift
            FROM pairs p
            CROSS JOIN nb
            JOIN ic ia ON ia.item = p.item_a
            JOIN ic ib ON ib.item = p.item_b
            ORDER BY p.item_a, p.item_b
        """,
        "q_collocations_pmi": """
            WITH dt AS (
                SELECT DISTINCT doc_id AS doc,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                                          x -> x <> '')) AS tok
                FROM documents
            ),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
            vocab AS (
                SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok
                HAVING COUNT(*) >= 20
            ),
            pruned AS (SELECT dt.doc, dt.tok FROM dt SEMI JOIN vocab ON dt.tok = vocab.tok),
            pairs AS (
                SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS df_ab
                FROM pruned a JOIN pruned b
                  ON a.doc = b.doc AND a.tok < b.tok
                GROUP BY a.tok, b.tok
                HAVING COUNT(*) >= 10
            )
            SELECT p.tok_a, p.tok_b, p.df_ab,
                   ROUND(LN(CAST(p.df_ab AS DOUBLE) * CAST(nd.n AS DOUBLE)
                            / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE))), 6) AS pmi
            FROM pairs p
            CROSS JOIN nd
            JOIN vocab va ON va.tok = p.tok_a
            JOIN vocab vb ON vb.tok = p.tok_b
            ORDER BY p.tok_a, p.tok_b
        """,
        "q_rolling_distinct": """
            WITH de AS (
                SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
                FROM events
            ),
            spine AS (SELECT DISTINCT day AS target_day FROM de)
            SELECT s.target_day,
                   COUNT(DISTINCT de.user_id) AS active_entities
            FROM spine s JOIN de
              ON date_diff('day', de.day, s.target_day) >= 0
             AND date_diff('day', de.day, s.target_day) < 7
            GROUP BY s.target_day
            ORDER BY s.target_day
        """,
        "q_abtest_welch": """
            WITH scaled AS (
                SELECT event_type,
                       CAST(ROUND(value * 100, 0) AS DECIMAL(28,0)) AS x,
                       (ts < TIMESTAMP '2024-01-08') AS flag
                FROM events
            ),
            stats AS (
                SELECT event_type,
                       CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS DOUBLE) AS na,
                       CAST(SUM(CASE WHEN NOT flag THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
                       CAST(SUM(CASE WHEN flag THEN x ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) AS sa,
                       CAST(SUM(CASE WHEN NOT flag THEN x ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) AS sb,
                       CAST(SUM(CASE WHEN flag THEN x * x ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) AS qa,
                       CAST(SUM(CASE WHEN NOT flag THEN x * x ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE) AS qb
                FROM scaled GROUP BY event_type
            )
            SELECT event_type,
                   CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   ROUND(sa / na, 6) AS mean_a,
                   ROUND(sb / nb, 6) AS mean_b,
                   CASE WHEN na >= 2 AND nb >= 2
                             AND ((qa - sa * sa / na) / (na - 1) / na
                                  + (qb - sb * sb / nb) / (nb - 1) / nb) > 0
                        THEN ROUND((sa / na - sb / nb)
                                   / SQRT((qa - sa * sa / na) / (na - 1) / na
                                          + (qb - sb * sb / nb) / (nb - 1) / nb), 6)
                   END AS t_stat,
                   CASE WHEN na >= 2 AND nb >= 2
                             AND ((qa - sa * sa / na) / (na - 1) / na
                                  + (qb - sb * sb / nb) / (nb - 1) / nb) > 0
                        THEN ROUND(POW((qa - sa * sa / na) / (na - 1) / na
                                       + (qb - sb * sb / nb) / (nb - 1) / nb, 2)
                                   / (POW((qa - sa * sa / na) / (na - 1) / na, 2) / (na - 1)
                                      + POW((qb - sb * sb / nb) / (nb - 1) / nb, 2) / (nb - 1)), 6)
                   END AS welch_df
            FROM stats
            ORDER BY event_type
        """,
        "q_simhash_hamming": _simhash_hamming_oracle(60, 4, 3),
        "q_quantile_rollup": """
            WITH b AS (
                SELECT event_type,
                       CAST(LEAST(31, GREATEST(0, FLOOR(value / 16.0))) AS INT) AS bin
                FROM events
            ),
            c AS (SELECT event_type, bin, COUNT(*) AS n FROM b GROUP BY event_type, bin),
            cum AS (
                SELECT event_type, bin, n,
                       SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum_n,
                       SUM(n) OVER (PARTITION BY event_type) AS total_n
                FROM c
            ),
            h50 AS (
                SELECT event_type, MIN(bin) AS qbin FROM cum
                WHERE cum_n >= CAST(total_n AS DOUBLE) * 0.5 GROUP BY event_type
            ),
            e50 AS (
                SELECT cum.event_type, cum.total_n,
                       ROUND(0.0 + (CAST(bin AS DOUBLE)
                             + ((CAST(total_n AS DOUBLE) * 0.5 - (cum_n - n)) / n)) * 16.0, 6)
                           AS p50_est
                FROM cum JOIN h50 ON cum.event_type = h50.event_type AND cum.bin = h50.qbin
            ),
            h95 AS (
                SELECT event_type, MIN(bin) AS qbin FROM cum
                WHERE cum_n >= CAST(total_n AS DOUBLE) * 0.95 GROUP BY event_type
            ),
            e95 AS (
                SELECT cum.event_type,
                       ROUND(0.0 + (CAST(bin AS DOUBLE)
                             + ((CAST(total_n AS DOUBLE) * 0.95 - (cum_n - n)) / n)) * 16.0, 6)
                           AS p95_est
                FROM cum JOIN h95 ON cum.event_type = h95.event_type AND cum.bin = h95.qbin
            )
            SELECT e50.event_type, CAST(e50.total_n AS BIGINT) AS n_rows,
                   e50.p50_est, e95.p95_est
            FROM e50 JOIN e95 ON e50.event_type = e95.event_type
            ORDER BY e50.event_type
        """,
        "q_table_diff": """
            WITH fp AS (
                SELECT CAST(CONCAT('0x', SUBSTR(md5(CONCAT_WS('|',
                           CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                           event_type)), 1, 15)) AS BIGINT) AS fp,
                       event_id
                FROM events
            ),
            a AS (
                SELECT CAST(fp % 16 AS INT) AS bucket,
                       SUM(CAST(fp AS DECIMAL(28,0))) AS checksum,
                       COUNT(*) AS n
                FROM fp GROUP BY bucket
            ),
            b AS (
                SELECT CAST(fp % 16 AS INT) AS bucket,
                       SUM(CAST(fp AS DECIMAL(28,0))) AS checksum,
                       COUNT(*) AS n
                FROM fp WHERE event_id % 97 <> 0 GROUP BY bucket
            )
            SELECT COALESCE(a.bucket, b.bucket) AS bucket,
                   COALESCE(a.n, 0) AS n_rows_left,
                   COALESCE(b.n, 0) AS n_rows_right,
                   COALESCE(a.n, 0) - COALESCE(b.n, 0) AS row_delta
            FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
            WHERE COALESCE(a.checksum, 0) <> COALESCE(b.checksum, 0)
            ORDER BY bucket
        """,
        "q_markov_transitions": """
            WITH pairs AS (
                SELECT LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_state,
                       event_type AS state
                FROM events
            ),
            m AS (
                SELECT prev_state, state, COUNT(*) AS n_transitions
                FROM pairs WHERE prev_state IS NOT NULL
                GROUP BY prev_state, state
            )
            SELECT prev_state, state, n_transitions,
                   ROUND(n_transitions / SUM(n_transitions) OVER (PARTITION BY prev_state), 6)
                       AS p_transition
            FROM m
            ORDER BY prev_state, state
        """,
        "q_time_interpolate": """
            WITH t AS (
                SELECT event_id, user_id,
                       CAST(epoch_us(ts) AS DOUBLE) AS tu,
                       CASE WHEN event_id % 7 != 0 THEN value END AS v
                FROM events
            ),
            n AS (
                SELECT event_id, user_id, tu, v,
                       last_value(v IGNORE NULLS) OVER wb AS prev_v,
                       first_value(v IGNORE NULLS) OVER wf AS next_v,
                       last_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS)
                           OVER wb AS prev_t,
                       first_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS)
                           OVER wf AS next_t
                FROM t
                WINDOW
                  wb AS (PARTITION BY user_id ORDER BY tu, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wf AS (PARTITION BY user_id ORDER BY tu, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id, event_id % 7 = 0 AS was_gap,
                   ROUND(CASE
                       WHEN v IS NOT NULL THEN v
                       WHEN prev_v IS NULL THEN next_v
                       WHEN next_v IS NULL THEN prev_v
                       WHEN next_t = prev_t THEN prev_v
                       ELSE prev_v + (next_v - prev_v) * ((tu - prev_t) / (next_t - prev_t))
                   END, 6) AS value_filled
            FROM n
        """,
        "q_group_regress": """
            WITH q AS (
                SELECT event_type,
                       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS y
                FROM events
            ),
            s AS (
                SELECT event_type,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(x) AS DOUBLE) AS sx,
                       CAST(SUM(y) AS DOUBLE) AS sy,
                       CAST(SUM(x * x) AS DOUBLE) AS sxx,
                       CAST(SUM(x * y) AS DOUBLE) AS sxy,
                       CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM q GROUP BY event_type
            )
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   ROUND(CASE WHEN n * sxx - sx * sx != 0
                         THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END
                         / 100.0, 6) AS slope,
                   ROUND((sy - CASE WHEN n * sxx - sx * sx != 0
                                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END * sx)
                         / n / 100.0, 6) AS intercept,
                   ROUND(CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
                         THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                              / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
            FROM s ORDER BY event_type
        """,
        "q_skyline": """
            WITH pts AS (
                SELECT l_quantity AS quantity, MAX(l_extendedprice) AS best_price
                FROM lineitem GROUP BY l_quantity
            )
            SELECT quantity, best_price FROM pts p
            WHERE NOT EXISTS (
                SELECT 1 FROM pts q
                WHERE q.quantity > p.quantity AND q.best_price >= p.best_price
            )
            ORDER BY quantity
        """,
        "q_phrase_search": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   len([i FOR i IN generate_series(1, len(toks) - 1)
                        IF toks[i] = 'table' AND toks[i+1] = 'value']) AS n_hits
            FROM t
            WHERE len(toks) >= 2
              AND len([i FOR i IN generate_series(1, len(toks) - 1)
                       IF toks[i] = 'table' AND toks[i+1] = 'value']) > 0
            ORDER BY doc_id
        """,
        "q_sketch_rollup": """
            SELECT lang,
                   COUNT(DISTINCT source) AS n_sketches,
                   COUNT(DISTINCT doc_id) AS n_exact,
                   TRUE AS est_ok
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "q_heavy_hitters_cms": """
            SELECT event_type, COUNT(*) AS n_exact, TRUE AS cms_ok
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q_join_bloom_prefilter": """
            SELECT l_returnflag, COUNT(*) AS n_rows,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size = 15
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "q_train_shuffle": """
            WITH h AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', SUBSTR(md5(CONCAT('epoch1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
                FROM documents
            )
            SELECT doc_id,
                   CAST(hv % 8 AS INT) AS shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INT)
                       AS shard_pos
            FROM h
            ORDER BY doc_id
        """,
        "q_dedup_index_probe": """
            WITH d AS (
                SELECT doc_id, LOWER(text) AS t FROM documents WHERE LENGTH(text) >= 5
            ), sh AS (
                SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                    GENERATE_SERIES(1, LENGTH(t) - 4), i -> SUBSTRING(t, i, 5)))) AS s
                FROM d
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), pairs AS (
                SELECT a.doc_id AS new_id, b.doc_id AS idx_id, COUNT(*) AS common
                FROM sh a JOIN sh b ON a.s = b.s
                WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT new_id, idx_id,
                   ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
            FROM pairs JOIN sizes sa ON sa.doc_id = new_id JOIN sizes sb ON sb.doc_id = idx_id
            WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.8
            ORDER BY new_id, idx_id
        """,
        "q_join_interval_bucket": """
            WITH incidents AS (
                SELECT event_id AS incident_id,
                       epoch_us(ts) AS s_us,
                       epoch_us(ts) + CAST(ROUND(value * 60000000, 0) AS BIGINT) AS e_us
                FROM events WHERE event_type = 'error' AND value > 200
            ),
            purchases AS (
                SELECT event_id AS purchase_id, epoch_us(ts) AS p_us
                FROM events WHERE event_type = 'purchase'
            )
            SELECT incident_id, purchase_id
            FROM incidents JOIN purchases
              ON p_us >= s_us AND p_us < e_us
            ORDER BY incident_id, purchase_id
        """,
        "q_psi_drift": """
            WITH b AS (
                SELECT event_type, COUNT(*) AS n_base FROM events
                WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY event_type
            ),
            c AS (
                SELECT event_type, COUNT(*) AS n_curr FROM events
                WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY event_type
            ),
            j AS (
                SELECT COALESCE(b.event_type, c.event_type) AS event_type,
                       COALESCE(n_base, 0) AS n_base, COALESCE(n_curr, 0) AS n_curr
                FROM b FULL OUTER JOIN c ON b.event_type = c.event_type
            ),
            t AS (SELECT SUM(n_base) AS tb, SUM(n_curr) AS tc FROM j)
            SELECT event_type, n_base, n_curr,
                   ROUND(n_base / tb, 6) AS p_base,
                   ROUND(n_curr / tc, 6) AS p_curr,
                   ROUND(CASE WHEN n_base > 0 AND n_curr > 0 THEN
                       (n_curr / tc - n_base / tb) * LN((n_curr / tc) / (n_base / tb))
                   END, 6) AS psi_term
            FROM j, t
            ORDER BY event_type
        """,
        "q_stream_drift": """
            WITH b AS (
                SELECT event_type, COUNT(*) AS n_base FROM events
                WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY event_type
            ),
            c AS (
                SELECT event_type, COUNT(*) AS n_curr FROM events
                WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY event_type
            ),
            j AS (
                SELECT COALESCE(b.event_type, c.event_type) AS event_type,
                       COALESCE(n_base, 0) AS n_base, COALESCE(n_curr, 0) AS n_curr
                FROM b FULL OUTER JOIN c ON b.event_type = c.event_type
            ),
            t AS (SELECT SUM(n_base) AS tb, SUM(n_curr) AS tc FROM j)
            SELECT event_type, n_base, n_curr,
                   ROUND(n_base / tb, 6) AS p_base,
                   ROUND(n_curr / tc, 6) AS p_curr,
                   ROUND(CASE WHEN n_base > 0 AND n_curr > 0 THEN
                       (n_curr / tc - n_base / tb) * LN((n_curr / tc) / (n_base / tb))
                   END, 6) AS psi_term
            FROM j, t
            ORDER BY event_type
        """,
        "q_jackknife": """
            WITH per AS (
                SELECT event_type, COUNT(*) AS n_g,
                       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS s_g
                FROM events GROUP BY event_type
            ),
            t AS (SELECT SUM(n_g) AS n, SUM(s_g) AS s FROM per)
            SELECT event_type, n_g,
                   ROUND(CASE WHEN n > n_g THEN
                       CAST(s - s_g AS DOUBLE) / (CAST(n - n_g AS DOUBLE) * 100.0)
                   END, 6) AS loo_mean
            FROM per, t
            ORDER BY event_type
        """,
        "q_multimodal_scene_detect": """
            WITH par AS (
                SELECT i.i AS media_id, 3 + (i.i % 3) AS nf
                FROM GENERATE_SERIES(0, 23) AS i(i)
            ),
            m AS (
                SELECT p.media_id, f.f::INT AS frame,
                       ROUND(AVG(CAST((p.media_id * 11 + f.f * 19 + x.x * 5 + y.y * 7) % 256 AS DOUBLE)), 6) AS mean_y
                FROM par p, GENERATE_SERIES(0, 4) AS f(f),
                     GENERATE_SERIES(0, 15) AS x(x), GENERATE_SERIES(0, 11) AS y(y)
                WHERE f.f < p.nf
                GROUP BY p.media_id, f.f
            ),
            d AS (
                SELECT media_id, frame, mean_y,
                       ROUND(mean_y - LAG(mean_y) OVER (PARTITION BY media_id ORDER BY frame), 6) AS delta_y
                FROM m
            )
            SELECT media_id, frame, mean_y, delta_y,
                   CASE WHEN delta_y IS NULL THEN TRUE ELSE ABS(delta_y) > 20.0 END AS is_change
            FROM d ORDER BY media_id, frame
        """,
        "q_multimodal_silence_trim": """
            WITH par AS (
                SELECT i.i AS media_id, 400 + (i.i % 5) * 100 AS n
                FROM GENERATE_SERIES(0, 47) AS i(i)
            ),
            s AS (
                SELECT p.media_id, (j.j // 80)::INT AS frame,
                       ABS((p.media_id * 7919 + j.j * 31) % 65536 - 32768) AS a
                FROM par p, GENERATE_SERIES(0, 799) AS j(j)
                WHERE j.j < p.n
            ),
            fr AS (
                SELECT media_id, frame, MAX(a) >= 5000 AS voiced
                FROM s GROUP BY media_id, frame
            )
            SELECT media_id,
                   COUNT(*)::INT AS n_frames,
                   SUM(CASE WHEN voiced THEN 0 ELSE 1 END)::INT AS n_silent,
                   MIN(CASE WHEN voiced THEN frame END)::INT AS first_voiced,
                   MAX(CASE WHEN voiced THEN frame END)::INT AS last_voiced
            FROM fr GROUP BY media_id ORDER BY media_id
        """,
        "q_custom_sink": """
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q_geo_radius_join": """
            WITH p AS (
                SELECT event_id AS pid,
                       CAST(user_id % 180 - 90 + 0.25 AS DOUBLE) AS x,
                       CAST(event_id % 360 - 180 + 0.25 AS DOUBLE) AS y
                FROM events
            )
            SELECT a.pid AS id_a, b.pid AS id_b,
                   ROUND(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
            FROM p a JOIN p b
              ON a.pid < b.pid
             AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2.25
            ORDER BY id_a, id_b
        """,
        "q_xml_ingest": """
            SELECT o_orderstatus AS st, COUNT(*) AS n_orders,
                   ROUND(SUM(ROUND(o_totalprice, 2)), 2) AS sum_price,
                   COUNT(DISTINCT o_orderpriority) AS n_priorities
            FROM orders GROUP BY o_orderstatus ORDER BY st
        """,
        "q_sql_parameterized": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.06 - 0.01 AND 0.06 + 0.01
              AND l_quantity < 24
        """,
        "q_grouped_arrow": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(AVG(value), 6) AS mean_v,
                   MAX(value) AS max_v
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_csv_inrow": """
            SELECT l_returnflag AS rf, COUNT(*) AS n_rows,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY l_returnflag ORDER BY rf
        """,
        "q_collated_group": """
            SELECT lang AS lang_key, COUNT(*) AS n_docs
            FROM documents GROUP BY lang ORDER BY lang_key
        """,
        "q_sketch_intersection": """
            WITH c AS (
                SELECT DISTINCT user_id * 100 + EXTRACT(day FROM ts) AS slot
                FROM events WHERE event_type = 'click'
            ),
            p AS (
                SELECT DISTINCT user_id * 100 + EXTRACT(day FROM ts) AS slot
                FROM events WHERE event_type = 'purchase'
            )
            SELECT (SELECT COUNT(*) FROM c) AS n_a_exact,
                   (SELECT COUNT(*) FROM p) AS n_b_exact,
                   (SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p))
                       AS n_int_exact,
                   TRUE AS est_ok
        """,
        "q_corr_group": """
            WITH q AS (
                SELECT l_returnflag,
                       CAST(l_quantity AS BIGINT) AS x,
                       CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
                FROM lineitem
            ),
            s AS (
                SELECT l_returnflag,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(x) AS DOUBLE) AS sx,
                       CAST(SUM(y) AS DOUBLE) AS sy,
                       CAST(SUM(x * x) AS DOUBLE) AS sxx,
                       CAST(SUM(x * y) AS DOUBLE) AS sxy,
                       CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM q GROUP BY l_returnflag
            )
            SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                   ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                         THEN (n * sxy - sx * sy)
                              / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) END,
                         6) AS pearson_r
            FROM s ORDER BY l_returnflag
        """,
        "q_streaks": """
            WITH days AS (
                SELECT DISTINCT user_id,
                       DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
                FROM events
            ),
            islands AS (
                SELECT user_id, d,
                       d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
                FROM days
            ),
            per_island AS (
                SELECT user_id, island, COUNT(*) AS len
                FROM islands GROUP BY user_id, island
            )
            SELECT user_id,
                   CAST(SUM(len) AS BIGINT) AS n_active_days,
                   CAST(MAX(len) AS BIGINT) AS longest_streak,
                   COUNT(*) AS n_streaks
            FROM per_island GROUP BY user_id ORDER BY user_id
        """,
        "q_partition_overwrite_dynamic": """
            SELECT CAST(EXTRACT(day FROM ts) AS INT) AS day,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(CASE WHEN EXTRACT(day FROM ts) = 5
                                  THEN ROUND(value * 2, 2) ELSE value END), 2)
                       AS sum_value
            FROM events
            GROUP BY EXTRACT(day FROM ts)
            ORDER BY day
        """,
        "q_session_window_native": """
            WITH t AS (
                SELECT user_id, ts, value,
                       CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS sid
                FROM t
            )
            SELECT user_id, MIN(ts) AS session_start,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "q_udf_arrow": """
            SELECT event_type,
                   ROUND(SUM(ROUND(value * 1.07 + 0.5, 4)), 2) AS sum_surcharged
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_count": "SELECT COUNT(*) AS n_rows FROM lineitem",
        "q_cast_schema": """
            SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_str,
                   CAST(l_linenumber AS BIGINT) AS linenumber_long,
                   CAST(l_quantity AS DOUBLE) AS quantity,
                   CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem
        """,
        "q_filter_time_range": """
            SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        """,
        "q_partition_prune": """
            SELECT YEAR(l_shipdate)::INT AS ship_year, MONTH(l_shipdate)::INT AS ship_month,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE YEAR(l_shipdate) = 1995 AND MONTH(l_shipdate) BETWEEN 1 AND 6
            GROUP BY 1, 2
        """,
        "q_project_drop": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
            FROM lineitem
        """,
        "q_derive_year_month": """
            SELECT o_orderkey, YEAR(o_orderdate)::INT AS pickup_year, MONTH(o_orderdate)::INT AS pickup_month
            FROM orders
        """,
        "q_groupby_avg_orderby": """
            SELECT YEAR(ts)::INT AS y, MONTH(ts)::INT AS m, ROUND(AVG(value), 6) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_window_avg_two_grains": """
            WITH w AS (
                SELECT YEAR(ts)::INT AS y, MONTH(ts)::INT AS m, DAY(ts)::INT AS d, HOUR(ts)::INT AS h,
                       ROUND(AVG(value) OVER (PARTITION BY YEAR(ts), MONTH(ts), DAY(ts)), 6) AS avg_day,
                       ROUND(AVG(value) OVER (PARTITION BY YEAR(ts), MONTH(ts), DAY(ts), HOUR(ts)), 6) AS avg_hour
                FROM events
            )
            SELECT y, m, d, h, avg_day, avg_hour FROM w
            GROUP BY y, m, d, h, avg_day, avg_hour
            ORDER BY y, m, d, h
        """,
        "q_date_arithmetic": """
            SELECT o_orderkey,
                   CAST(DATE_TRUNC('month', o_orderdate) + INTERVAL 1 MONTH AS DATE) AS next_month_start,
                   o_orderdate - INTERVAL 1 HOUR AS with_tolerance
            FROM orders
        """,
        # q_source_discovery / q_sink_* / q_ddl_create: no oracle (filesystem
        # & DDL side effects aren't DuckDB-expressible) → rows-only check.
        "q_filter_predicates": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
            FROM lineitem
            WHERE l_quantity BETWEEN 5 AND 45
              AND l_returnflag IN ('A', 'R')
              AND l_linestatus = 'F'
              AND l_shipdate IS NOT NULL
              AND (l_discount > 0.05 OR l_tax < 0.04)
        """,
        "q_project_case": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(l_extendedprice * (1 - l_discount), 6) AS revenue,
                   CASE WHEN l_quantity >= 30 THEN 'bulk'
                        WHEN l_quantity >= 10 THEN 'mid'
                        ELSE 'small' END AS size_class
            FROM lineitem
        """,
        "q_join_inner": """
            SELECT c_mktsegment, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 6) AS sum_total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "q_join_outer": """
            SELECT c_custkey, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey
        """,
        "q_join_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "q_join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "q_agg_approx_distinct": """
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_agg_approx_percentile": """
            SELECT o_orderstatus,
                   ROUND(quantile_cont(o_totalprice, 0.5), 6) AS exact_p50,
                   TRUE AS approx_ok
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_sample_stratified": """
            SELECT lang, COUNT(*) AS n_total, TRUE AS sample_ok
            FROM documents WHERE lang IN ('en', 'es', 'fr', 'de', 'zh')
            GROUP BY lang ORDER BY lang
        """,
        # Streaming queries drain ALL available input (availableNow) into
        # complete/update/append sinks, so the final materialized result
        # equals the batch computation — which is what these oracles run.
        "q_stream_tumbling": """
            SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
                   time_bucket(INTERVAL 6 HOURS, ts) + INTERVAL 6 HOURS AS window_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1
        """,
        "q_stream_sliding": """
            WITH e AS (
                SELECT ts, value,
                       time_bucket(INTERVAL 2 HOURS, ts) - (k * INTERVAL 2 HOURS) AS window_start
                FROM events, (SELECT UNNEST([0, 1, 2]) AS k)
            )
            SELECT window_start,
                   window_start + INTERVAL 6 HOURS AS window_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM e GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_stream_session": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) >= 7200
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), islands AS (
                SELECT user_id, ts, value,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                FROM flagged
            )
            SELECT MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 2 HOURS AS session_end,
                   user_id,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM islands GROUP BY user_id, sess
            ORDER BY user_id, session_start
        """,
        "q_stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type
        """,
        "q_json_flatten": """
            SELECT event_type, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   ROUND(SUM(value), 4) AS sum_value,
                   ROUND(SUM(value * 2), 4) AS sum_double
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_text_normalize": r"""
            WITH t AS (
                SELECT doc_id,
                       TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
                FROM documents
            )
            SELECT doc_id, SUBSTRING(norm, 1, 60) AS norm_prefix,
                   CASE WHEN norm = '' THEN 0
                        ELSE LEN(STRING_SPLIT(norm, ' ')) END::INT AS n_tokens
            FROM t ORDER BY doc_id
        """,
        "q_decontaminate": r"""
            WITH toks AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       UNNEST(LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 2),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS gram
                FROM toks WHERE LEN(t) >= 3
            ), train_grams AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id % 10 <> 0
            ), test_grams AS (
                SELECT doc_id, gram FROM grams WHERE doc_id % 10 = 0
            )
            SELECT g.doc_id,
                   COUNT(*)::INT AS n_grams,
                   SUM(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_contaminated,
                   ROUND(SUM(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                         / COUNT(*), 6) AS contamination_rate
            FROM test_grams g LEFT JOIN train_grams tg USING (gram)
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        "q_repetition_profile": r"""
            WITH toks AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 2),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
                FROM toks WHERE LEN(t) >= 3
            ), per_gram AS (
                SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
            )
            SELECT doc_id,
                   SUM(c)::INT AS n_grams,
                   COUNT(*)::INT AS n_distinct,
                   ROUND(1.0 - COUNT(*)::DOUBLE / SUM(c), 6) AS rep_ratio,
                   MAX(c)::INT AS max_gram_count
            FROM per_gram GROUP BY doc_id ORDER BY doc_id
        """,
        "q_quality_filter": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          x -> x <> '')) AS w
                FROM documents
            ), per_word AS (
                SELECT doc_id, w, COUNT(*) AS c, SUM(LENGTH(w)) AS chars
                FROM toks GROUP BY doc_id, w
            ), stats AS (
                SELECT doc_id,
                       SUM(c)::INT AS n_words,
                       ROUND(SUM(chars)::DOUBLE / SUM(c), 6) AS mean_wlen,
                       ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_word_frac
                FROM per_word GROUP BY doc_id
            ), verdict AS (
                SELECT *,
                       CONCAT_WS(';',
                           CASE WHEN n_words < 40 OR n_words > 100000 THEN 'n_words' END,
                           CASE WHEN mean_wlen < 2.0 OR mean_wlen > 12.0 THEN 'mean_wlen' END,
                           CASE WHEN top_word_frac > 0.12 THEN 'top_word_frac' END
                       ) AS fail_reasons
                FROM stats
            )
            SELECT doc_id, n_words, mean_wlen, top_word_frac,
                   COALESCE(fail_reasons, '') AS fail_reasons,
                   COALESCE(fail_reasons, '') = '' AS keep
            FROM verdict ORDER BY doc_id
        """,
        "q_vocab_build": r"""
            WITH words AS (
                SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          x -> x <> '')) AS word
                FROM documents
            ), counts AS (
                SELECT word, COUNT(*) AS cnt FROM words GROUP BY word
                ORDER BY cnt DESC, word LIMIT 200
            )
            SELECT (ROW_NUMBER() OVER (ORDER BY cnt DESC, word) - 1)::INT AS token_id,
                   word, cnt
            FROM counts
        """,
        "q_sample_weighted": """
            WITH w AS (
                SELECT *,
                       CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 60
                                 WHEN 'fr' THEN 40 WHEN 'ja' THEN 20
                                 ELSE 10 END AS mix_pct
                FROM documents
            )
            SELECT lang,
                   COUNT(*) AS n_docs,
                   SUM(CASE WHEN doc_id % 100 < mix_pct THEN 1 ELSE 0 END)::INT AS n_kept,
                   MAX(mix_pct) AS mix_pct
            FROM w GROUP BY lang ORDER BY lang
        """,
        "q_dedup_containment": """
            WITH d AS (
                SELECT doc_id, lang, LOWER(text) AS t FROM documents
                WHERE doc_id % 5 = 0 AND LENGTH(text) >= 5
            ), sh AS (
                SELECT doc_id, lang,
                       LIST_DISTINCT(LIST_TRANSFORM(
                           GENERATE_SERIES(1, LENGTH(t) - 4),
                           i -> SUBSTRING(t, i, 5))) AS s
                FROM d
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       LEN(LIST_INTERSECT(a.s, b.s))::DOUBLE AS common,
                       LEN(a.s) AS na, LEN(b.s) AS nb
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(common / na, 6) AS containment_a,
                   ROUND(common / nb, 6) AS containment_b
            FROM pairs
            WHERE GREATEST(ROUND(common / na, 6), ROUND(common / nb, 6)) >= 0.5
            ORDER BY id_a, id_b
        """,
        "q_pii_redact": r"""
            WITH raw AS (
                SELECT c_custkey,
                       LOWER(REPLACE(c_name, '#', '')) || '@example.com tel '
                       || LPAD(CAST((c_custkey * 7919) % 10000000000 AS VARCHAR), 10, '0')
                       || ' seg ' || c_mktsegment AS contact
                FROM customer
            )
            SELECT c_custkey,
                   REGEXP_REPLACE(
                       REGEXP_REPLACE(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
                                      '<EMAIL>', 'g'),
                       '[0-9]{7,}', '<PHONE>', 'g') AS redacted
            FROM raw ORDER BY c_custkey
        """,
        "q_dq_validate": """
            WITH s AS (
                SELECT COUNT(*) AS n,
                       COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS nulls,
                       MIN(l_quantity) AS minq,
                       MAX(l_discount) AS maxd,
                       COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R')
                                    OR l_returnflag IS NULL THEN 1 END) AS badflag
                FROM lineitem
            ), u AS (
                SELECT COUNT(*) AS d FROM (
                    SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
                )
            )
            SELECT * FROM (
                SELECT 'accepted_values(l_returnflag) in {A,N,R}' AS "constraint",
                       CAST(badflag AS DOUBLE) AS metric, badflag = 0 AS passed
                FROM s
                UNION ALL
                SELECT 'max_value(l_discount)<=0.08', ROUND(maxd, 6), maxd <= 0.08 FROM s
                UNION ALL
                SELECT 'min_value(l_quantity)>=1.0', ROUND(minq, 6), minq >= 1.0 FROM s
                UNION ALL
                SELECT 'not_null(l_orderkey)',
                       ROUND(1.0 - CAST(nulls AS DOUBLE) / n, 6), nulls = 0 FROM s
                UNION ALL
                SELECT 'unique(l_orderkey,l_linenumber)',
                       CAST(s.n - u.d AS DOUBLE), s.n - u.d = 0 FROM s, u
            ) ORDER BY "constraint"
        """,
        "q_time_weighted_avg": """
            WITH o AS (
                SELECT user_id, value,
                       LEAD(EPOCH_US(ts)) OVER w - EPOCH_US(ts) AS dt
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id,
                   COUNT(*)::INT AS n_intervals,
                   ROUND(SUM(dt) / 1000000.0, 6) AS total_seconds,
                   ROUND(SUM(value * dt) / SUM(dt), 4) AS twa
            FROM o WHERE dt IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "q_ohlc": """
            WITH b AS (
                SELECT user_id, DATE_TRUNC('hour', ts) AS bucket_ts, ts, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                          ORDER BY ts, event_id) AS rn_a,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                          ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM events
            )
            SELECT user_id, bucket_ts,
                   MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                   COUNT(*)::INT AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM b GROUP BY user_id, bucket_ts
            ORDER BY user_id, bucket_ts
        """,
        "q_entity_resolve": """
            WITH dirty AS (
                SELECT c_custkey AS dirty_id,
                       REPLACE(c_name, 'Customer', 'Custommer') AS dirty_name
                FROM customer WHERE c_custkey % 17 = 0
            ), clean AS (
                SELECT c_custkey AS clean_id, c_name AS clean_name FROM customer
            )
            SELECT dirty_id, clean_id, dirty_name, clean_name,
                   CAST(LEVENSHTEIN(dirty_name, clean_name) AS INT) AS edit_distance
            FROM dirty JOIN clean
              ON RIGHT(dirty_name, 4) = RIGHT(clean_name, 4)
             AND LEVENSHTEIN(dirty_name, clean_name) <= 1
            ORDER BY dirty_id, clean_id
        """,
        "q_zorder_layout": f"""
            WITH z AS (
                SELECT o_orderkey,
                       ({_zorder_oracle_expr()}) AS zkey
                FROM (
                    SELECT o_orderkey,
                           o_custkey % 256 AS zx,
                           DATE_DIFF('day', DATE '1992-01-01', o_orderdate) % 256 AS zy
                    FROM orders
                )
            )
            SELECT zkey // 64 AS zfile,
                   COUNT(*)::INT AS n_rows,
                   MIN(zkey) AS min_z,
                   MAX(zkey) AS max_z
            FROM z GROUP BY zfile ORDER BY zfile
        """,
        "q_cohort_retention": """
            WITH first AS (
                SELECT user_id, CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP) AS cohort_bucket
                FROM events GROUP BY user_id
            ), act AS (
                SELECT e.user_id, f.cohort_bucket,
                       CAST(FLOOR(DATE_DIFF('day', f.cohort_bucket,
                            CAST(DATE_TRUNC('day', e.ts) AS TIMESTAMP)) / 1.0) AS INT) AS bucket_offset
                FROM events e JOIN first f USING (user_id)
            )
            SELECT cohort_bucket, bucket_offset, COUNT(DISTINCT user_id) AS n_users
            FROM act WHERE bucket_offset <= 30
            GROUP BY cohort_bucket, bucket_offset
            ORDER BY cohort_bucket, bucket_offset
        """,
        "q_pagerank": """
            WITH pairs AS (
                SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            ), e AS (
                SELECT c AS src, s AS dst FROM pairs
                UNION ALL
                SELECT s AS src, c AS dst FROM pairs
            ), nodes AS (
                SELECT DISTINCT src AS node FROM e
                UNION
                SELECT DISTINCT dst AS node FROM e
            ), params AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
            ), deg AS (
                SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src
            ), r0 AS (
                SELECT node, 1.0 / (SELECT n FROM params) AS pr FROM nodes
            ), m1 AS (
                SELECT e.dst AS node, SUM(r0.pr / deg.out_deg) AS in_mass
                FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
                GROUP BY e.dst
            ), r1 AS (
                SELECT nodes.node,
                       0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m1.in_mass, 0) AS pr
                FROM nodes LEFT JOIN m1 USING (node)
            ), m2 AS (
                SELECT e.dst AS node, SUM(r1.pr / deg.out_deg) AS in_mass
                FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
                GROUP BY e.dst
            ), r2 AS (
                SELECT nodes.node,
                       0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m2.in_mass, 0) AS pr
                FROM nodes LEFT JOIN m2 USING (node)
            ), m3 AS (
                SELECT e.dst AS node, SUM(r2.pr / deg.out_deg) AS in_mass
                FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
                GROUP BY e.dst
            ), r3 AS (
                SELECT nodes.node,
                       0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m3.in_mass, 0) AS pr
                FROM nodes LEFT JOIN m3 USING (node)
            )
            SELECT node, ROUND(pr, 6) AS pr FROM r3 ORDER BY node
        """,
        "q_anomaly_mad": """
            WITH med AS (
                SELECT user_id, MEDIAN(value) AS m FROM events GROUP BY user_id
            ), dev AS (
                SELECT e.user_id, ABS(e.value - med.m) AS adev, med.m
                FROM events e JOIN med USING (user_id)
            ), madt AS (
                SELECT user_id, MEDIAN(adev) AS md FROM dev GROUP BY user_id
            )
            SELECT dev.user_id,
                   COUNT(*)::INT AS n_events,
                   SUM(CASE WHEN dev.adev > 3.0 * 1.4826 * madt.md
                            THEN 1 ELSE 0 END)::INT AS n_anomalies,
                   ROUND(MAX(dev.m), 6) AS median_value,
                   ROUND(MAX(madt.md), 6) AS mad
            FROM dev JOIN madt USING (user_id)
            GROUP BY dev.user_id ORDER BY dev.user_id
        """,
        # round 5: the streamed CDC replay converges to the SAME final
        # state as the batch apply (micro-batch- and order-independent),
        # so the oracle is the identical window twin
        "q_stream_cdc_apply": """
            WITH ops AS (
                SELECT c_custkey, c_name, ROUND(c_acctbal, 6) AS bal,
                       'I' AS op, 1 AS seq
                FROM customer
                UNION ALL
                SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 6) AS bal,
                       'U' AS op, 2 AS seq
                FROM customer WHERE c_custkey % 13 = 0
                UNION ALL
                SELECT c_custkey, c_name, 0.0 AS bal, 'D' AS op, 3 AS seq
                FROM customer WHERE c_custkey % 29 = 0
            ), latest AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                             ORDER BY seq DESC, op DESC) AS rn
                FROM ops
            )
            SELECT c_custkey, c_name, bal
            FROM latest WHERE rn = 1 AND op <> 'D'
            ORDER BY c_custkey
        """,
        "q_cdc_apply": """
            WITH ops AS (
                SELECT c_custkey, c_name, ROUND(c_acctbal, 6) AS bal,
                       'I' AS op, 1 AS seq
                FROM customer
                UNION ALL
                SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 6) AS bal,
                       'U' AS op, 2 AS seq
                FROM customer WHERE c_custkey % 13 = 0
                UNION ALL
                SELECT c_custkey, c_name, 0.0 AS bal, 'D' AS op, 3 AS seq
                FROM customer WHERE c_custkey % 29 = 0
            ), latest AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                             ORDER BY seq DESC, op DESC) AS rn
                FROM ops
            )
            SELECT c_custkey, c_name, bal
            FROM latest WHERE rn = 1 AND op <> 'D'
            ORDER BY c_custkey
        """,
        "q_stream_ohlc": """
            WITH b AS (
                SELECT user_id,
                       CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS window_start,
                       ts, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('day', ts)
                                          ORDER BY ts, event_id) AS rn_a,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('day', ts)
                                          ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM events
            )
            SELECT window_start, user_id,
                   MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                   COUNT(*)::INT AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM b GROUP BY window_start, user_id
            ORDER BY user_id, window_start
        """,
        "q_multimodal_audio_decode": """
            WITH par AS (
                SELECT i.i AS media_id, 400 + (i.i % 5) * 100 AS n
                FROM GENERATE_SERIES(0, 47) AS i(i)
            ), s AS (
                SELECT p.media_id, p.n,
                       ((p.media_id * 7919 + j.j * 31) % 65536) - 32768 AS s
                FROM par p, GENERATE_SERIES(0, 799) AS j(j)
                WHERE j.j < p.n
            )
            SELECT media_id,
                   MAX(n)::INT AS n_samples,
                   8000::INT AS sample_rate,
                   ROUND(SQRT(SUM(CAST(s AS DOUBLE) * s) / MAX(n)), 6) AS rms,
                   MAX(ABS(s))::INT AS peak
            FROM s GROUP BY media_id ORDER BY media_id
        """,
        "q_multimodal_image_decode": """
            WITH px AS (
                SELECT i.i AS media_id, x.x AS x, y.y AS y
                FROM GENERATE_SERIES(0, 47) AS i(i),
                     GENERATE_SERIES(0, 15) AS x(x),
                     GENERATE_SERIES(0, 11) AS y(y)
            )
            SELECT media_id,
                   16::INT AS width, 12::INT AS height,
                   ROUND(AVG(CAST((media_id * 7 + x * 5 + y * 17) % 256 AS DOUBLE)), 6) AS mean_r,
                   ROUND(AVG(CAST((media_id * 5 + x * 13 + y * 3) % 256 AS DOUBLE)), 6) AS mean_g,
                   ROUND(AVG(CAST((media_id * 3 + x * 7 + y * 11) % 256 AS DOUBLE)), 6) AS mean_b
            FROM px GROUP BY media_id ORDER BY media_id
        """,
        "q_multimodal_resize_real": """
            WITH px AS (
                SELECT i.i AS media_id, x.x AS x, y.y AS y,
                       (i.i * 7 + x.x * 5 + y.y * 17) % 256 AS r,
                       (i.i * 5 + x.x * 13 + y.y * 3) % 256 AS g,
                       (i.i * 3 + x.x * 7 + y.y * 11) % 256 AS b
                FROM GENERATE_SERIES(0, 47) AS i(i),
                     GENERATE_SERIES(0, 15) AS x(x),
                     GENERATE_SERIES(0, 11) AS y(y)
            ), blk AS (
                SELECT media_id, x // 2 AS bx, y // 2 AS by,
                       SUM(r) // 4 AS rr, SUM(g) // 4 AS gg, SUM(b) // 4 AS bb
                FROM px GROUP BY media_id, x // 2, y // 2
            )
            SELECT media_id,
                   8::INT AS width, 6::INT AS height,
                   ROUND(AVG(CAST(rr AS DOUBLE)), 6) AS mean_r,
                   ROUND(AVG(CAST(gg AS DOUBLE)), 6) AS mean_g,
                   ROUND(AVG(CAST(bb AS DOUBLE)), 6) AS mean_b,
                   198 AS n_bytes
            FROM blk GROUP BY media_id ORDER BY media_id
        """,
        "q_multimodal_video_decode": """
            WITH par AS (
                SELECT i.i AS media_id, 3 + (i.i % 3) AS nf
                FROM GENERATE_SERIES(0, 23) AS i(i)
            ), ym AS (
                SELECT p.media_id,
                       AVG(CAST((p.media_id * 11 + f.f * 19 + x.x * 5 + y.y * 7) % 256 AS DOUBLE)) AS mean_y
                FROM par p, GENERATE_SERIES(0, 4) AS f(f),
                     GENERATE_SERIES(0, 15) AS x(x), GENERATE_SERIES(0, 11) AS y(y)
                WHERE f.f < p.nf GROUP BY p.media_id
            ), um AS (
                SELECT p.media_id,
                       AVG(CAST((p.media_id * 13 + f.f * 3 + cx.cx * 9 + cy.cy * 5) % 256 AS DOUBLE)) AS mean_u,
                       AVG(CAST((p.media_id * 17 + f.f * 7 + cx.cx * 3 + cy.cy * 13) % 256 AS DOUBLE)) AS mean_v
                FROM par p, GENERATE_SERIES(0, 4) AS f(f),
                     GENERATE_SERIES(0, 7) AS cx(cx), GENERATE_SERIES(0, 5) AS cy(cy)
                WHERE f.f < p.nf GROUP BY p.media_id
            )
            SELECT p.media_id, p.nf::INT AS n_frames, 16::INT AS width, 12::INT AS height,
                   CAST(25.0 AS DOUBLE) AS fps,
                   ROUND(ym.mean_y, 6) AS mean_y,
                   ROUND(um.mean_u, 6) AS mean_u,
                   ROUND(um.mean_v, 6) AS mean_v
            FROM par p JOIN ym USING (media_id) JOIN um USING (media_id)
            ORDER BY media_id
        """,
        "q_multimodal_framesample": """
            WITH par AS (
                SELECT i.i AS media_id, 3 + (i.i % 3) AS nf
                FROM GENERATE_SERIES(0, 23) AS i(i)
            )
            SELECT p.media_id, f.f::INT AS frame,
                   ROUND(AVG(CAST((p.media_id * 11 + f.f * 19 + x.x * 5 + y.y * 7) % 256 AS DOUBLE)), 6) AS mean_y
            FROM par p, GENERATE_SERIES(0, 4) AS f(f),
                 GENERATE_SERIES(0, 15) AS x(x), GENERATE_SERIES(0, 11) AS y(y)
            WHERE f.f < p.nf AND f.f % 2 = 0
            GROUP BY p.media_id, f.f ORDER BY p.media_id, f.f
        """,
        "q_multimodal_resize": """
            WITH par AS (
                SELECT i.i AS media_id, 400 + (i.i % 5) * 100 AS n
                FROM GENERATE_SERIES(0, 47) AS i(i)
            ), s AS (
                SELECT p.media_id, p.n,
                       ((p.media_id * 7919 + j.j * 31) % 65536) - 32768 AS s
                FROM par p, GENERATE_SERIES(0, 799) AS j(j)
                WHERE j.j < p.n AND j.j % 2 = 0
            )
            SELECT media_id,
                   (MAX(n) // 2)::INT AS n_samples,
                   4000::INT AS sample_rate,
                   ROUND(SQRT(SUM(CAST(s AS DOUBLE) * s) / (MAX(n) // 2)), 6) AS rms,
                   MAX(ABS(s))::INT AS peak
            FROM s GROUP BY media_id ORDER BY media_id
        """,
        "q_multimodal_features": """
            WITH px AS (
                SELECT i.i AS media_id,
                       (i.i * 7 + x.x * 5 + y.y * 17) % 256 AS r,
                       (i.i * 5 + x.x * 13 + y.y * 3) % 256 AS g,
                       (i.i * 3 + x.x * 7 + y.y * 11) % 256 AS b
                FROM GENERATE_SERIES(0, 47) AS i(i),
                     GENERATE_SERIES(0, 15) AS x(x),
                     GENERATE_SERIES(0, 11) AS y(y)
            )
            SELECT media_id, 630::INT AS n_bytes,
                   CAST(16 AS DOUBLE) AS w, CAST(12 AS DOUBLE) AS h,
                   ROUND(AVG(CAST(r AS DOUBLE)), 6) AS mean_r,
                   ROUND(AVG(CAST(g AS DOUBLE)), 6) AS mean_g,
                   ROUND(AVG(CAST(b AS DOUBLE)), 6) AS mean_b,
                   CAST(MAX(r) - MIN(r) AS DOUBLE) AS range_r,
                   CAST(MAX(g) - MIN(g) AS DOUBLE) AS range_g,
                   CAST(MAX(b) - MIN(b) AS DOUBLE) AS range_b
            FROM px GROUP BY media_id ORDER BY media_id
        """,
        "q_stream_quarantine": """
            SELECT
                SUM(CASE WHEN value IS NOT NULL AND value >= 0 AND value < 100
                          AND event_type IN ('view','click','purchase','signup')
                         THEN 1 ELSE 0 END)::BIGINT AS n_good,
                SUM(CASE WHEN value IS NOT NULL AND value >= 0 AND value < 100
                          AND event_type IN ('view','click','purchase','signup')
                         THEN 0 ELSE 1 END)::BIGINT AS n_bad
            FROM events
        """,
        "q_unigram_logprob": r"""
            WITH words AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          x -> x <> '')) AS w
                FROM documents
            ), counts AS (
                SELECT w, COUNT(*) AS cnt FROM words GROUP BY w
            ), tot AS (
                SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts
            ), lp AS (
                SELECT w, LN(cnt / (SELECT total FROM tot)) AS lp FROM counts
            )
            SELECT doc_id, COUNT(*)::INT AS n_words,
                   ROUND(SUM(lp) / COUNT(*), 4) AS mean_logprob
            FROM words JOIN lp USING (w)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "q_scd2_merge": """
            WITH dim AS (
                SELECT c_custkey, c_name, ROUND(c_acctbal, 6) AS c_acctbal,
                       TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
                       CAST(NULL AS TIMESTAMP) AS valid_to,
                       TRUE AS is_current
                FROM customer
            ), upd AS (
                SELECT c_custkey, c_name, ROUND(c_acctbal + 500.0, 6) AS c_acctbal
                FROM customer WHERE c_custkey % 7 = 0
                UNION ALL
                SELECT c_custkey, c_name, ROUND(c_acctbal, 6) AS c_acctbal
                FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
            ), changed AS (
                SELECT u.c_custkey, u.c_name, u.c_acctbal
                FROM upd u JOIN dim d ON u.c_custkey = d.c_custkey AND d.is_current
                WHERE u.c_acctbal IS DISTINCT FROM d.c_acctbal
                   OR u.c_name IS DISTINCT FROM d.c_name
            )
            SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
                   TIMESTAMP '2024-01-01 00:00:00' AS valid_to, FALSE AS is_current
            FROM dim d WHERE d.c_custkey IN (SELECT c_custkey FROM changed)
            UNION ALL
            SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from, d.valid_to, d.is_current
            FROM dim d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM changed)
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal,
                   TIMESTAMP '2024-01-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
            FROM changed
            ORDER BY c_custkey, valid_from, is_current
        """,
        "q_sql_tpch_q2": """
            SELECT DISTINCT s_suppkey, s_name, p_partkey, p_name,
                   pc.min_price AS min_price
            FROM part
            JOIN (
                SELECT l_partkey, MIN(l_extendedprice / l_quantity) AS min_price
                FROM lineitem GROUP BY l_partkey
            ) pc ON pc.l_partkey = p_partkey
            JOIN lineitem ON lineitem.l_partkey = p_partkey
                 AND l_extendedprice / l_quantity = pc.min_price
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'STANDARD'
            ORDER BY s_suppkey, p_partkey
        """,
        "q_sql_tpch_q11": """
            SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS value
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey
            HAVING SUM(l_extendedprice * (1 - l_discount)) > (
                SELECT 0.001 * SUM(l_extendedprice * (1 - l_discount))
                FROM lineitem
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
            )
            ORDER BY l_partkey
        """,
        "q_sql_tpch_q13": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                     AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            ) c_orders
            GROUP BY c_count ORDER BY c_count
        """,
        "q_sql_tpch_q15": """
            WITH revenue AS (
                SELECT l_suppkey AS supplier_no,
                       SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, ROUND(total_revenue, 4) AS total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """,
        "q_sql_tpch_q16": """
            SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY p_brand, p_type, p_size
        """,
        "q_sql_tpch_q17": """
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#3'
              AND l_quantity < (
                SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
                WHERE l2.l_partkey = p_partkey
              )
        """,
        "q_sql_tpch_q19": """
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity >= 1 AND l_quantity <= 30)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity >= 5 AND l_quantity <= 40)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity >= 10 AND l_quantity <= 50)
        """,
        "q_sql_tpch_q20": """
            SELECT s_suppkey, s_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
                )
                  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                GROUP BY l_suppkey
                HAVING SUM(l_quantity) > 50
              )
            ORDER BY s_suppkey
        """,
        "q_sql_tpch_q21": """
            SELECT s_name, COUNT(*) AS numwait
            FROM supplier
            JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
            JOIN orders   ON o_orderkey = l1.l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
              AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
              )
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY s_name ORDER BY s_name
        """,
        "q_sql_tpch_q22": """
            SELECT cntrycode, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 4) AS totacctbal
            FROM (
                SELECT SUBSTRING(CAST(c_custkey AS VARCHAR), 1, 1) AS cntrycode, c_acctbal
                FROM customer
                WHERE c_acctbal > (
                    SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
                )
                  AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
                  )
            ) custsale
            GROUP BY cntrycode ORDER BY cntrycode
        """,
        "q_stream_stream_join": """
            SELECT c.user_id, COUNT(*) AS n_matches
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            GROUP BY c.user_id ORDER BY c.user_id
        """,
        "q_vector_quantize": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ), q AS (
                SELECT vec_id, e,
                       LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) / 127.0 AS scale
                FROM v
            ), d AS (
                SELECT vec_id, e,
                       LIST_TRANSFORM(e, x -> ROUND(x / scale, 0) * scale) AS deq
                FROM q
            )
            SELECT vec_id,
                   ROUND(LIST_DOT_PRODUCT(deq, e) /
                         (SQRT(LIST_DOT_PRODUCT(deq, deq)) * SQRT(LIST_DOT_PRODUCT(e, e))), 4) AS cos_q,
                   ROUND(LIST_DOT_PRODUCT(deq, e) /
                         (SQRT(LIST_DOT_PRODUCT(deq, deq)) * SQRT(LIST_DOT_PRODUCT(e, e))), 4) >= 0.999 AS quant_ok
            FROM d ORDER BY vec_id
        """,
        "q_skew_profile": """
            WITH counts AS (
                SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_orderkey
            ), stats AS (
                SELECT COUNT(*) AS n_keys, SUM(n_rows) AS total FROM counts
            )
            SELECT l_orderkey, n_rows,
                   ROUND(n_rows * n_keys / CAST(total AS DOUBLE), 6) AS skew_factor
            FROM counts, stats
            ORDER BY n_rows DESC, l_orderkey LIMIT 10
        """,
        "q_ann_lsh": _ann_lsh_oracle(),
        # round 5: the materialized (partition-pruned) probe returns the
        # same rows as the in-memory probe — identical oracle replay
        "q_ann_index_probe": _ann_lsh_oracle(),
        "q_ann_recall": _ann_recall_oracle(),
        "q_ann_ivf": _ann_ivf_oracle(),
        "q_dedup_embedding": _dedup_embedding_oracle(),
        "q_stream_watermark": """
            WITH w AS (
                SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
                       time_bucket(INTERVAL 6 HOURS, ts) + INTERVAL 6 HOURS AS window_end,
                       COUNT(*) AS n_events,
                       ROUND(SUM(value), 6) AS sum_value
                FROM events GROUP BY 1, 2
            )
            SELECT * FROM w
            WHERE window_end <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)
            ORDER BY window_start
        """,
        "q_stream_stateful": """
            SELECT user_id AS key, COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY user_id ORDER BY key
        """,
        "q_stream_foreach_batch": """
            SELECT COUNT(*) AS n_rows, TRUE AS has_batches FROM events
        """,
        # round 5: custom Python DataSource — closed-form fixture replay
        "q_custom_datasource": _custom_datasource_oracle(),
        # round 5: geohash binning — full bit-arithmetic replay generated
        # from the same layout module as the Spark expression
        "q_geo_binning": _geo_binning_oracle(),
        # round 5: corrupt-row isolation — fixture is closed-form
        # (every 7th of 200 lines malformed), oracle from first principles
        "q_csv_corrupt_isolation": """
            SELECT CAST(SUM(CASE WHEN i % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
                   CAST(SUM(CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
                   ROUND(SUM(CASE WHEN i % 7 <> 0 THEN CAST(i AS DOUBLE) * 1.5 ELSE 0.0 END), 4) AS good_score_sum
            FROM GENERATE_SERIES(0, 199) t(i)
        """,
        # round 5: BFS min-hop — bounded recursive reachability, MIN(hop)
        # per node over the triangle-query graph construction
        "q_graph_bfs": """
            WITH RECURSIVE nodes AS (
                SELECT DISTINCT CAST(c_custkey % 400 AS BIGINT) AS u FROM customer
            ), edges AS (
                SELECT u, (u + 1) % 400 AS v FROM nodes
                UNION ALL SELECT u, (u + 2) % 400 FROM nodes
                UNION ALL SELECT u, (u * 2) % 400 FROM nodes
            ), r(node, hop) AS (
                SELECT CAST(0 AS BIGINT), 0
                UNION
                SELECT e.v, r.hop + 1
                FROM r JOIN edges e ON e.u = r.node
                WHERE r.hop < 12
            )
            SELECT node, CAST(MIN(hop) AS INT) AS hops
            FROM r GROUP BY node ORDER BY node
        """,
        # round 5: BM25 — identical Okapi formula, per-term partials
        # rounded to 6 dp before the per-doc sum on both engines
        "q_bm25_rank": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS term
                FROM documents
            ), dlen AS (
                SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ROUND(LN(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
                             * tf.tf * 2.2
                             / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl)),
                             6) AS part
                FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
            )
            SELECT doc_id, ROUND(SUM(part), 6) AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC LIMIT 10
        """,
        # round 5: sliding-window chunking — same tokenizer, same
        # start/stride arithmetic, 1-based inclusive list slice
        "q_doc_chunk": r"""
            WITH t AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, CAST(LEN(toks) AS INT) AS n_tokens,
                       UNNEST(GENERATE_SERIES(0, CAST((LEN(toks) - 1) // 48 AS INT))) AS chunk_idx,
                       toks
                FROM t WHERE LEN(toks) > 0
            )
            SELECT doc_id, n_tokens, CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(LEN(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INT) AS chunk_len,
                   ARRAY_TO_STRING(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
            FROM c
        """,
        # round 5: winsorization — quantile_cont is DuckDB's exact
        # interpolated percentile, same (n-1)p rank rule as Spark's
        "q_winsorize": """
            WITH cuts AS (
                SELECT lang,
                       QUANTILE_CONT(n_chars, 0.05) AS p05,
                       QUANTILE_CONT(n_chars, 0.95) AS p95
                FROM documents GROUP BY lang
            )
            SELECT d.lang,
                   COUNT(*) AS n_docs,
                   ROUND(SUM(CAST(ROUND(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), c.p05),
                                              c.p95) * 1000000, 0) AS BIGINT))
                         / COUNT(*) / 1000000.0, 6) AS winsor_mean,
                   CAST(SUM(CASE WHEN d.n_chars < c.p05 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clipped_low,
                   CAST(SUM(CASE WHEN d.n_chars > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clipped_high
            FROM documents d JOIN cuts c USING (lang)
            GROUP BY d.lang ORDER BY d.lang
        """,
        # round 5: first-touch attribution — same sortable-key argmin
        "q_attribution": """
            WITH p AS (
                SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
                FROM events WHERE event_type = 'purchase'
            ), first AS (
                SELECT p.p_id, p.p_user,
                       MIN(LPAD(CAST(EPOCH_US(t.ts) AS VARCHAR), 20, '0') || ':' ||
                           LPAD(CAST(t.event_id AS VARCHAR), 12, '0') || ':' ||
                           t.event_type) AS fk
                FROM p JOIN events t
                  ON t.user_id = p.p_user
                 AND t.ts < p.p_ts
                 AND t.ts >= p.p_ts - INTERVAL 7 DAY
                GROUP BY p.p_id, p.p_user
            )
            SELECT SPLIT_PART(fk, ':', 3) AS first_touch_type,
                   COUNT(*) AS n_purchases,
                   COUNT(DISTINCT p_user) AS n_users
            FROM first GROUP BY 1 ORDER BY 1
        """,
        # round 5: null-safe equality join — IS NOT DISTINCT FROM is
        # the ANSI spelling of Spark's <=>
        "q_join_nullsafe": """
            WITH l AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 = 0 THEN NULL
                            ELSE SUBSTR(o_orderpriority, 1, 1) END AS k
                FROM orders
            ), r AS (
                SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                            ELSE SUBSTR(o_orderpriority, 1, 1) END AS k,
                       COUNT(*) AS grp_n
                FROM orders GROUP BY 1
            )
            SELECT l.k, COUNT(*) AS n_rows, CAST(SUM(r.grp_n) AS BIGINT) AS grp_sum
            FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
            GROUP BY l.k ORDER BY l.k
        """,
        # round 5: LATERAL — DuckDB runs the identical query text
        "q_lateral_topk": """
            SELECT r.r_name, t.n_name, t.bal
            FROM region r,
            LATERAL (
                SELECT n.n_name, ROUND(SUM(c.c_acctbal), 4) AS bal
                FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
                WHERE n.n_regionkey = r.r_regionkey
                GROUP BY n.n_name
                ORDER BY bal DESC, n.n_name
                LIMIT 2
            ) t
            ORDER BY r.r_name, t.bal DESC, t.n_name
        """,
        # round 5: Benford digit audit — same integer-cents leading
        # digit, same expectation tree
        "q_benford": """
            WITH d AS (
                SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                        AS VARCHAR), 1, 1) AS INT) AS d
                FROM orders WHERE o_totalprice > 0
            ), counts AS (
                SELECT d, COUNT(*) AS n_obs FROM d GROUP BY d
            ), tot AS (
                SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts
            )
            SELECT c.d, c.n_obs,
                   ROUND(LOG10(1.0 + 1.0 / c.d), 6) AS benford_p,
                   ROUND(CAST(c.n_obs AS DOUBLE) / t.n - LOG10(1.0 + 1.0 / c.d), 6)
                     AS deviation
            FROM counts c CROSS JOIN tot t
            ORDER BY c.d
        """,
        # round 5: JSONL permissive ingest — closed-form replay of the
        # fixture: i%9==0 truncated (corrupt), else i%7==0 wrong-typed
        # score (record-corrupt in JSON permissive), else valid
        "q_source_jsonl": """
            SELECT CAST(SUM(CASE WHEN i % 9 = 0 OR i % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_corrupt,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN i % 9 <> 0 AND i % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_valid,
                   CAST(SUM(CASE WHEN i % 9 <> 0 AND i % 7 <> 0 THEN i * 2 ELSE 0 END) AS BIGINT)
                     AS score_sum
            FROM GENERATE_SERIES(0, 199) t(i)
        """,
        # round 5: rolling exact median — quantile_cont over the same
        # 9-row trailing frame
        "q_rolling_median": """
            WITH t AS (
                SELECT event_id, user_id,
                       ROUND(QUANTILE_CONT(value, 0.5) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 8 PRECEDING AND CURRENT ROW), 6) AS med9,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            )
            SELECT event_id, user_id, med9 FROM t WHERE rn >= 9
        """,
        # round 5: chi-squared contingency — identical arithmetic tree
        # over exact integer marginals
        "q_crosstab_chi2": """
            WITH d AS (
                SELECT lang, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS len_bucket
                FROM documents
            ), cells AS (
                SELECT lang, len_bucket, COUNT(*) AS obs FROM d GROUP BY lang, len_bucket
            ), row_m AS (
                SELECT lang, COUNT(*) AS row_n FROM d GROUP BY lang
            ), col_m AS (
                SELECT len_bucket, COUNT(*) AS col_n FROM d GROUP BY len_bucket
            ), tot AS (
                SELECT COUNT(*) AS n FROM d
            )
            SELECT c.lang, c.len_bucket, c.obs,
                   ROUND(CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
                         / CAST(t.n AS DOUBLE), 6) AS expected,
                   ROUND((c.obs - CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
                                  / CAST(t.n AS DOUBLE))
                         * (c.obs - CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
                                    / CAST(t.n AS DOUBLE))
                         / (CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
                            / CAST(t.n AS DOUBLE)), 6) AS chi2_cell
            FROM cells c JOIN row_m r USING (lang)
                         JOIN col_m cm USING (len_bucket)
                         CROSS JOIN tot t
            ORDER BY c.lang, c.len_bucket
        """,
        # round 5: bigram-LM perplexity — same add-k model, per-bigram
        # log-probs rounded before the per-doc mean
        "q_lm_perplexity": r"""
            WITH t AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), tk AS (
                SELECT doc_id, UNNEST(toks) AS term FROM t
            ), uni AS (
                SELECT term, COUNT(*) AS cu FROM tk GROUP BY term
            ), vs AS (
                SELECT COUNT(*) AS v FROM uni
            ), b AS (
                SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS bg
                FROM t WHERE LEN(toks) >= 2
            ), bgc AS (
                SELECT bg, COUNT(*) AS cb FROM b GROUP BY bg
            ), scored AS (
                SELECT b.doc_id,
                       CAST(ROUND(LN((bgc.cb + 0.5) / (uni.cu + 0.5 * vs.v))
                                  * 1000000.0, 0) AS BIGINT) AS lp_unats
                FROM b JOIN bgc USING (bg)
                       JOIN uni ON uni.term = SPLIT_PART(b.bg, ' ', 1)
                       CROSS JOIN vs
            )
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   CAST(-SUM(lp_unats) AS BIGINT) AS nll_unats
            FROM scored GROUP BY doc_id
        """,
        # round 5: feature hashing — portable_hash60 twin replays
        # bucket and sign bit-identically
        "q_feature_hash": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          x -> x <> '')) AS term
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', SUBSTR(MD5(term), 1, 15)) AS BIGINT) AS hv
                FROM toks
            )
            SELECT doc_id, hv % 32 AS bucket, COUNT(*) AS n_terms,
                   CAST(SUM(((hv >> 5) % 2) * 2 - 1) AS BIGINT) AS signed_sum
            FROM h GROUP BY doc_id, hv % 32
        """,
        # round 5: k-means — both Lloyd iterations unrolled; distances
        # and centroid means rounded to 6 dp exactly as the Spark side
        "q_kmeans": _kmeans_oracle(),
        "q_ann_pq": _pq_oracle(),
        "q_ann_ivfpq": _ivfpq_oracle(),
        "q_abtest_sprt": _sprt_oracle(),
        "q_nb_cross_validate": _nb_cv_oracle(5),
        "q_random_projection": _rp_oracle(),
        "q_dedup_semantic": _semantic_dedup_oracle(),
        "q_dedup_semantic_scaled": _semantic_dedup_oracle(32),
        "q_hard_negatives": _hard_negatives_oracle(),
        "q_knn_label_noise": _knn_label_noise_oracle(),
        # round 7: STL-lite — every stage (hourly level, MA trend,
        # phase seasonal) reduces exact integer micro-units; the two
        # ordered windows run over the 720-bucket post-aggregate series
        "q_stl_decompose": """
            WITH hourly AS (
                SELECT DATE_TRUNC('hour', ts) AS bucket,
                       ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS level
                FROM events GROUP BY bucket
            ), trended AS (
                SELECT bucket, level,
                       ROUND(CAST(SUM(CAST(ROUND(level * 1000000.0, 0) AS BIGINT))
                                  OVER w AS DOUBLE)
                             / (COUNT(*) OVER w)
                             / 1000000.0, 6) AS trend
                FROM hourly
                WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
            ), detr AS (
                SELECT bucket, level, trend,
                       ROUND(level - trend, 6) AS detr,
                       CAST(EXTRACT(hour FROM bucket) AS INT) % 24 AS phase
                FROM trended
            ), seasonal AS (
                SELECT phase,
                       ROUND(CAST(SUM(CAST(ROUND(detr * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS seasonal
                FROM detr GROUP BY phase
            )
            SELECT d.bucket, d.phase, d.level, d.trend, s.seasonal,
                   ROUND(d.detr - s.seasonal, 6) AS residual
            FROM detr d JOIN seasonal s USING (phase)
            ORDER BY d.bucket
        """,
        # round 7: seasonal-naive backtest — row-LAG(24) over the same
        # hourly micro-mean series (dense fixture; row-lag == period-lag),
        # sMAPE terms rounded then daily-averaged in micro-units
        "q_forecast_backtest": """
            WITH hourly AS (
                SELECT DATE_TRUNC('hour', ts) AS bucket,
                       ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS y
                FROM events GROUP BY bucket
            ), lagged AS (
                SELECT bucket, y, LAG(y, 24) OVER (ORDER BY bucket) AS f FROM hourly
            ), scored AS (
                -- residual quantized straight to micro-units in ONE
                -- rounding (round 14; the old 6-dp-then-micro stacking
                -- could land on an exact .5 tie — see
                -- seasonal_naive_backtest's docstring)
                SELECT bucket,
                       CAST(ROUND((f - y) * 1000000.0, 0) AS BIGINT) AS err_q,
                       ROUND(CASE WHEN ABS(f) + ABS(y) <> 0
                                  THEN 2.0 * ABS(f - y) / (ABS(f) + ABS(y))
                                  ELSE 0.0 END, 6) AS smape_t
                FROM lagged WHERE f IS NOT NULL
            )
            , daily AS (
                SELECT CAST(DATE_TRUNC('day', bucket) AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS n_hours,
                       SUM(CAST(ROUND(smape_t * 1000000.0, 0) AS BIGINT)) AS sq,
                       SUM(err_q) AS eq
                FROM scored GROUP BY day
            )
            -- integer half-away-from-zero means in micro-units: exact
            -- in every engine, no float .5 rounding ties (round 14)
            SELECT day, CAST(n_hours AS INT) AS n_hours,
                   ((2 * sq + n_hours) // (2 * n_hours)) / 1000000.0 AS smape,
                   (CASE WHEN eq >= 0
                         THEN (2 * eq + n_hours) // (2 * n_hours)
                         ELSE -((2 * (-eq) + n_hours) // (2 * n_hours))
                    END) / 1000000.0 AS bias
            FROM daily ORDER BY day
        """,
        # round 7: Zipf fit — identical sufficient-statistics
        # expression tree over micro-quantized ln values
        "q_zipf_fit": r"""
            WITH wc AS (
                SELECT w AS word, COUNT(*) AS cnt FROM (
                    SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                              t -> t <> '')) AS w
                    FROM documents
                ) GROUP BY w
            ), ranked AS (
                SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank FROM wc
            ), pts AS (
                SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
                       CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
                FROM ranked WHERE rank <= 1000
            ), s AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                       CAST(SUM(x * x) AS DOUBLE) AS sxx,
                       CAST(SUM(x * y) AS DOUBLE) AS sxy,
                       CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM pts
            )
            SELECT CAST(n AS BIGINT) AS n_words,
                   ROUND(CASE WHEN n * sxx - sx * sx <> 0
                              THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
                   ROUND((sy - (CASE WHEN n * sxx - sx * sx <> 0
                                     THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx)
                         / n / 1000000.0, 6) AS intercept,
                   ROUND(CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                              THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
            FROM s
        """,
        # round 7: DSIR — two add-one-smoothed unigram models over the
        # shared vocabulary, per-candidate log importance weight, and
        # the Gumbel-top-k draw replayed from the portable md5 hash
        # (u = (h+0.5)/2^60 is strictly inside (0,1) by construction)
        "q_dsir_select": r"""
            WITH toks AS (
                SELECT doc_id, source = 'src0' AS is_t,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS w
                FROM documents
            ), counts AS (
                SELECT w, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                       SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cs
                FROM toks GROUP BY w
            ), stats AS (
                SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cs) AS BIGINT) AS ts,
                       COUNT(*) AS v
                FROM counts
            ), lr AS (
                SELECT w, ROUND(LN(CAST(ct + 1 AS DOUBLE) / (tt + v))
                              - LN(CAST(cs + 1 AS DOUBLE) / (ts + v)), 6) AS lr
                FROM counts CROSS JOIN stats
            ), per AS (
                SELECT doc_id, w, COUNT(*) AS c FROM toks WHERE NOT is_t GROUP BY doc_id, w
            ), logw AS (
                SELECT doc_id, ROUND(SUM(c * lr), 6) AS log_weight
                FROM per JOIN lr USING (w) GROUP BY doc_id
            )
            SELECT doc_id, log_weight,
                   ROUND(log_weight + (-LN(-LN(
                         (CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), CHR(31), '13')), 1, 15))
                               AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0))), 6) AS sample_key
            FROM logw ORDER BY sample_key DESC, doc_id LIMIT 50
        """,
        # round 7 wave 3: multinomial NB — portable-hash holdout split,
        # add-one smoothed (word, class) model, integer micro-unit
        # log-posteriors (exact bigint sums), min-class argmax tie-break
        "q_nb_classify": "WITH " + _NB_CHAIN + """
            SELECT doc_id, actual, predicted, score, correct
            FROM preds ORDER BY doc_id
        """,
        # round 7 wave 4: classifier eval — the same NB chain, metrics
        # layer on top; f1 = 2tp/(n_actual+n_predicted) (exact-integer
        # identity for 2PR/(P+R))
        "q_classifier_eval": "WITH " + _NB_CHAIN + """
            , cls_list AS (
                SELECT actual AS cls FROM preds
                UNION SELECT predicted FROM preds
            ), act AS (
                SELECT actual AS cls, COUNT(*) AS n_actual FROM preds GROUP BY actual
            ), prd AS (
                SELECT predicted AS cls, COUNT(*) AS n_predicted FROM preds GROUP BY predicted
            ), tp AS (
                SELECT actual AS cls, COUNT(*) AS tp FROM preds
                WHERE actual = predicted GROUP BY actual
            )
            SELECT c.cls,
                   CAST(COALESCE(a.n_actual, 0) AS BIGINT) AS n_actual,
                   CAST(COALESCE(p.n_predicted, 0) AS BIGINT) AS n_predicted,
                   CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
                   CASE WHEN COALESCE(p.n_predicted, 0) > 0
                        THEN ROUND(CAST(COALESCE(t.tp, 0) AS DOUBLE) / p.n_predicted, 6)
                   END AS precision,
                   CASE WHEN COALESCE(a.n_actual, 0) > 0
                        THEN ROUND(CAST(COALESCE(t.tp, 0) AS DOUBLE) / a.n_actual, 6)
                   END AS recall,
                   CASE WHEN COALESCE(a.n_actual, 0) + COALESCE(p.n_predicted, 0) > 0
                        THEN ROUND(2.0 * CAST(COALESCE(t.tp, 0) AS DOUBLE)
                                   / (COALESCE(a.n_actual, 0) + COALESCE(p.n_predicted, 0)), 6)
                   END AS f1
            FROM cls_list c
            LEFT JOIN act a ON a.cls = c.cls
            LEFT JOIN prd p ON p.cls = c.cls
            LEFT JOIN tp t ON t.cls = c.cls
            ORDER BY c.cls
        """,
        # round 7 wave 3: Poisson bootstrap — every Poisson(1) draw
        # replayed from the portable hash, CI = order statistics
        "q_bootstrap_ci": _bootstrap_ci_oracle(40, 17),
        # round 7 wave 4: uniform negatives — portable-hash draws over
        # the dense id space, validity flags instead of rejection
        "q_sample_negatives": r"""
            WITH n_tab AS (
                SELECT MAX(vec_id) + 1 AS n FROM embeddings
            ), drawn AS (
                SELECT e.vec_id AS anchor_id, e.label AS a_label, j.j,
                       CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(e.vec_id AS VARCHAR), CHR(31),
                                                           CAST(j.j AS VARCHAR), CHR(31), '29')), 1, 15))
                            AS BIGINT) % n AS neg_id
                FROM embeddings e
                CROSS JOIN n_tab
                CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS j) j
            )
            SELECT d.anchor_id,
                   CAST(d.j AS INT) AS j,
                   CAST(d.neg_id AS BIGINT) AS neg_id,
                   CAST(CASE WHEN d.neg_id = d.anchor_id THEN 1 ELSE 0 END AS INT) AS is_self,
                   CAST(CASE WHEN t.label = d.a_label THEN 1 ELSE 0 END AS INT) AS same_label,
                   CAST(CASE WHEN t.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS missing
            FROM drawn d LEFT JOIN embeddings t ON t.vec_id = d.neg_id
            ORDER BY anchor_id, j
        """,
        # round 7 wave 4: c-TF-IDF keywords — 6-dp tf/idf factors on
        # integer-exact inputs, (score DESC, term ASC) rank ties
        "q_topic_keywords": r"""
            WITH tc AS (
                SELECT source AS domain,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS term
                FROM documents
            ), tcc AS (
                SELECT domain, term, COUNT(*) AS c_tc FROM tc GROUP BY domain, term
            ), per_class AS (
                SELECT domain, CAST(SUM(c_tc) AS BIGINT) AS n_c
                FROM tcc GROUP BY domain
            ), ft AS (
                SELECT term, CAST(SUM(c_tc) AS BIGINT) AS f_t
                FROM tcc GROUP BY term
            ), stats AS (
                SELECT CAST(SUM(n_c) AS BIGINT) AS total, COUNT(*) AS k
                FROM per_class
            ), scored AS (
                SELECT t.domain, t.term,
                       ROUND(ROUND(CAST(t.c_tc AS DOUBLE) / p.n_c, 6)
                             * ROUND(LN(1.0 + (CAST(total AS DOUBLE) / k) / f.f_t), 6), 6) AS score
                FROM tcc t
                JOIN per_class p USING (domain)
                JOIN ft f USING (term)
                CROSS JOIN stats
            )
            SELECT domain, CAST(rank AS INT) AS rank, term, score FROM (
                SELECT domain, term, score,
                       ROW_NUMBER() OVER (
                           PARTITION BY domain ORDER BY score DESC, term) AS rank
                FROM scored
            ) WHERE rank <= 5
            ORDER BY domain, rank
        """,
        # round 7 wave 4: concentration audit — exact token counts,
        # micro-share HHI, sorted-rank Gini closed form
        "q_mixture_concentration": r"""
            WITH per AS (
                SELECT source AS domain,
                       CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                                t -> t <> ''))) AS BIGINT) AS c
                FROM documents GROUP BY source
            ), ranked AS (
                SELECT domain, c,
                       CAST(ROW_NUMBER() OVER (ORDER BY c, domain) AS BIGINT) AS r
                FROM per
            ), tot AS (
                SELECT COUNT(*) AS n,
                       CAST(SUM(c) AS BIGINT) AS tc,
                       CAST(SUM(r * c) AS BIGINT) AS rc,
                       CAST(MAX(c) AS BIGINT) AS cmax
                FROM ranked
            ), shares AS (
                SELECT CAST(SUM(sm * sm) AS BIGINT) AS s2 FROM (
                    SELECT CAST(ROUND(c * 1e6 / tc, 0) AS BIGINT) AS sm
                    FROM ranked CROSS JOIN tot
                )
            )
            SELECT CAST(n AS INT) AS n_domains,
                   tc AS n_tokens,
                   ROUND(CAST(cmax AS DOUBLE) / tc, 6) AS top_share,
                   ROUND(CAST(s2 AS DOUBLE) / 1e12, 6) AS hhi,
                   ROUND(2.0 * rc / (CAST(n AS DOUBLE) * tc)
                         - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
            FROM tot CROSS JOIN shares
        """,
        # round 7 wave 4: DoReMi step — shared-vocab unigram NLLs in
        # exact micro-units, one exp() per domain on a 6-dp grid
        "q_doremi_step": r"""
            WITH toks AS (
                SELECT source AS domain,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS w
                FROM documents
            ), dom_wc AS (
                SELECT domain, w, COUNT(*) AS c_dw FROM toks GROUP BY domain, w
            ), corp_wc AS (
                SELECT w, SUM(c_dw) AS c_w FROM dom_wc GROUP BY w
            ), totals AS (
                SELECT domain, CAST(SUM(c_dw) AS BIGINT) AS n_d
                FROM dom_wc GROUP BY domain
            ), stats AS (
                SELECT CAST(SUM(c_w) AS BIGINT) AS n_tot, COUNT(*) AS v
                FROM corp_wc
            ), lp AS (
                SELECT w,
                       ROUND(LN(CAST(c_w + 1 AS DOUBLE) / (n_tot + v)), 6) AS lp_c,
                       v
                FROM corp_wc CROSS JOIN stats
            ), scored AS (
                SELECT d.domain, t.n_d, d.c_dw,
                       CAST(ROUND(lp.lp_c * 1e6, 0) AS BIGINT) AS lpc_micro,
                       CAST(ROUND(LN(CAST(d.c_dw + 1 AS DOUBLE) / (t.n_d + lp.v)) * 1e6, 0) AS BIGINT) AS lpd_micro
                FROM dom_wc d JOIN totals t USING (domain) JOIN lp USING (w)
            ), per_dom AS (
                SELECT domain, n_d,
                       SUM(c_dw * lpc_micro) AS sc,
                       SUM(c_dw * lpd_micro) AS sd
                FROM scored GROUP BY domain, n_d
            ), base AS (
                SELECT domain, n_d AS n_tokens,
                       ROUND(-CAST(sc AS DOUBLE) / n_d / 1e6, 6) AS cross_nll,
                       ROUND(-CAST(sd AS DOUBLE) / n_d / 1e6, 6) AS own_nll,
                       GREATEST(0.0, ROUND(ROUND(-CAST(sc AS DOUBLE) / n_d / 1e6, 6)
                                           - ROUND(-CAST(sd AS DOUBLE) / n_d / 1e6, 6), 6)) AS excess
                FROM per_dom
            ), scored2 AS (
                SELECT *,
                       CAST(ROUND(n_tokens * ROUND(EXP(1.0 * excess), 6), 0) AS BIGINT) AS wu
                FROM base
            ), z AS (
                SELECT CAST(SUM(n_tokens) AS BIGINT) AS zt,
                       CAST(SUM(wu) AS BIGINT) AS zw,
                       COUNT(*) AS k
                FROM scored2
            )
            SELECT domain,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   ROUND(CAST(n_tokens AS DOUBLE) / zt, 6) AS token_share,
                   own_nll, cross_nll, excess,
                   ROUND(0.9 * (CAST(wu AS DOUBLE) / zw) + 0.1 / k, 6) AS weight
            FROM scored2 CROSS JOIN z ORDER BY domain
        """,
        # round 7 wave 4: dedup savings — the q_dedup_pipeline grouping
        # replay + per-doc lengths, keep = (max len, min id)
        "q_dedup_savings": r"""
            WITH reps AS (
                SELECT text, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
                FROM documents GROUP BY text
            ), s AS (
                SELECT rep_id,
                       CASE WHEN LENGTH(LOWER(text)) >= 5 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(
                               GENERATE_SERIES(1, LENGTH(LOWER(text)) - 4),
                               i -> SUBSTRING(LOWER(text), i, 5)))
                       ELSE CAST([] AS VARCHAR[]) END AS sh
                FROM reps
            ), shx AS (
                SELECT rep_id, UNNEST(sh) AS sg FROM s
            ), sizes AS (
                SELECT rep_id, LEN(sh) AS n FROM s
            ), cm AS (
                SELECT a.rep_id AS id_a, b.rep_id AS id_b, COUNT(*) AS c
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.rep_id < b.rep_id
                GROUP BY a.rep_id, b.rep_id
            ), pairs AS (
                SELECT id_a, id_b
                FROM cm JOIN sizes sa ON sa.rep_id = id_a
                        JOIN sizes sb ON sb.rep_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8
            ), grp AS (
                SELECT r.rep_id, r.text,
                       LEAST(COALESCE(MIN(p.id_a), r.rep_id), r.rep_id) AS group_id
                FROM reps r LEFT JOIN pairs p ON p.id_b = r.rep_id
                GROUP BY r.rep_id, r.text
            ), docs2 AS (
                SELECT d.doc_id, LENGTH(d.text) AS len, g.group_id
                FROM documents d JOIN grp g ON g.text = d.text
            ), agg1 AS (
                SELECT group_id, COUNT(*) AS n_docs,
                       SUM(len) AS chars_total, MAX(len) AS max_len
                FROM docs2 GROUP BY group_id HAVING COUNT(*) >= 2
            ), keep AS (
                SELECT d.group_id, MIN(d.doc_id) AS keep_id
                FROM docs2 d JOIN agg1 a
                  ON a.group_id = d.group_id AND d.len = a.max_len
                GROUP BY d.group_id
            )
            SELECT a.group_id,
                   CAST(a.n_docs AS BIGINT) AS n_docs,
                   k.keep_id,
                   CAST(a.chars_total AS BIGINT) AS chars_total,
                   CAST(a.max_len AS BIGINT) AS chars_kept,
                   CAST(a.chars_total - a.max_len AS BIGINT) AS chars_saved
            FROM agg1 a JOIN keep k ON k.group_id = a.group_id
            ORDER BY a.group_id
        """,
        # round 7 wave 3: weighted percentile — inverse-CDF pick over
        # exact micro-unit cumulative weights, integer ceil threshold
        "q_percentile_weighted": r"""
            WITH cells AS (
                SELECT l_returnflag AS k, l_extendedprice AS v,
                       SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1e6, 0) AS BIGINT)) AS w
                FROM lineitem
                WHERE CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1e6, 0) AS BIGINT) > 0
                  AND l_extendedprice IS NOT NULL
                GROUP BY k, v
            ), tot AS (
                SELECT k, CAST(SUM(w) AS BIGINT) AS tw FROM cells GROUP BY k
            ), cum AS (
                SELECT c.k, c.v,
                       CAST(SUM(c.w) OVER (PARTITION BY c.k ORDER BY c.v) AS BIGINT) AS cum,
                       t.tw
                FROM cells c JOIN tot t ON t.k = c.k
            ), p50 AS (
                SELECT k, MIN(v) AS p50 FROM cum
                WHERE cum >= (tw // 1000000) * 500000
                             + ((tw % 1000000) * 500000 + 999999) // 1000000
                GROUP BY k
            ), p90 AS (
                SELECT k, MIN(v) AS p90 FROM cum
                WHERE cum >= (tw // 1000000) * 900000
                             + ((tw % 1000000) * 900000 + 999999) // 1000000
                GROUP BY k
            )
            SELECT t.k AS l_returnflag,
                   ROUND(t.tw / 1e6, 6) AS total_weight,
                   p50.p50, p90.p90
            FROM tot t
            LEFT JOIN p50 ON p50.k = t.k
            LEFT JOIN p90 ON p90.k = t.k
            ORDER BY l_returnflag
        """,
        # round 7 wave 3: split conformal — chronological 75% split,
        # order-statistic calibration quantile (ceil via positive
        # integer math — Spark div truncates, DuckDB // floors; they
        # agree only on non-negative operands), NULL-degenerate
        "q_forecast_conformal": r"""
            WITH hourly AS (
                SELECT DATE_TRUNC('hour', ts) AS bucket,
                       ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS y
                FROM events GROUP BY bucket
            ), lagged AS (
                SELECT bucket, y, LAG(y, 24) OVER (ORDER BY bucket) AS f
                FROM hourly
            ), scored AS (
                SELECT bucket, y, f,
                       ABS(ROUND(f - y, 6)) AS abs_err,
                       ROW_NUMBER() OVER (ORDER BY bucket) AS rk
                FROM lagged WHERE f IS NOT NULL
            ), nt AS (
                SELECT COUNT(*) AS n FROM scored
            ), marked AS (
                SELECT s.*, s.rk <= CAST(FLOOR(0.75 * n) AS BIGINT) AS is_cal
                FROM scored s CROSS JOIN nt
            ), ncal AS (
                SELECT COUNT(*) AS n_cal FROM marked WHERE is_cal
            ), q AS (
                SELECT abs_err AS qhat FROM (
                    SELECT abs_err,
                           ROW_NUMBER() OVER (ORDER BY abs_err, bucket) AS qrk,
                           ((n_cal + 1) * 900000 + 999999) // 1000000 AS crank
                    FROM marked CROSS JOIN ncal WHERE is_cal
                ) WHERE qrk = crank
            ), ev AS (
                SELECT * FROM marked WHERE NOT is_cal
            )
            SELECT CAST(bucket AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_eval,
                   CAST(SUM(CASE WHEN abs_err <= qhat THEN 1
                                 WHEN qhat IS NULL THEN NULL
                                 ELSE 0 END) AS BIGINT) AS n_covered,
                   ROUND(CAST(SUM(CASE WHEN abs_err <= qhat THEN 1
                                       WHEN qhat IS NULL THEN NULL
                                       ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS coverage,
                   MAX(qhat) AS qhat
            FROM ev LEFT JOIN q ON TRUE
            GROUP BY day ORDER BY day
        """,
        # round 7 wave 3: retrieval eval — the q_bm25_rank chain kept
        # per-query, tf>=3 relevance, micro-unit base-e DCG discounts
        "q_retrieval_eval": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS term
                FROM documents
            ), dlen AS (
                SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks
                WHERE term IN ('join', 'scan', 'spark', 'window')
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       ROUND(LN(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                             * tf.tf * 2.2
                             / (tf.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
                FROM tf JOIN dlen USING (doc_id)
                        JOIN dfreq USING (term)
                        CROSS JOIN stats
            ), ranked AS (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY term ORDER BY score DESC, doc_id) AS rank
                FROM scored
            ), nrel AS (
                SELECT term, COUNT(*) AS n_rel FROM ranked
                WHERE tf >= 3 GROUP BY term
            ), hits AS (
                SELECT term, COUNT(*) AS n_hits, MIN(rank) AS first_rank,
                       SUM(CAST(ROUND(1000000.0 / LN(rank + 1.0), 0) AS BIGINT)) AS dcg_micro
                FROM ranked WHERE rank <= 10 AND tf >= 3 GROUP BY term
            ), ideal AS (
                SELECT term, n_rel,
                       SUM(CAST(ROUND(1000000.0 / LN(i + 1.0), 0) AS BIGINT)) AS idcg_micro
                FROM (
                    SELECT term, n_rel,
                           UNNEST(GENERATE_SERIES(1, LEAST(10, CAST(n_rel AS INT)))) AS i
                    FROM nrel WHERE n_rel >= 1
                ) t
                GROUP BY term, n_rel
            ), qs AS (
                SELECT UNNEST(['join', 'scan', 'spark', 'window']) AS term
            )
            SELECT qs.term AS query,
                   CAST(COALESCE(n_rel, 0) AS BIGINT) AS n_rel,
                   CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                   CASE WHEN n_rel >= 1
                        THEN ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_rel, 6)
                   END AS recall_at_k,
                   CASE WHEN n_rel >= 1
                        THEN COALESCE(ROUND(1.0 / first_rank, 6), 0.0)
                   END AS mrr_at_k,
                   CASE WHEN n_rel >= 1
                        THEN ROUND(CAST(COALESCE(dcg_micro, 0) AS DOUBLE) / idcg_micro, 6)
                   END AS ndcg_at_k
            FROM qs LEFT JOIN ideal USING (term) LEFT JOIN hits USING (term)
            ORDER BY query
        """,
        # round 7 wave 3: CUSUM — recurrence as cumsum − running
        # extremum, all integer micro-units (slack 1.0, threshold 8.0)
        "q_changepoint_cusum": r"""
            WITH hourly AS (
                SELECT DATE_TRUNC('hour', ts) AS bucket,
                       CAST(ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                                  / COUNT(*), 0) AS BIGINT) AS lvl
                FROM events GROUP BY bucket
            ), mu AS (
                SELECT CAST(ROUND(CAST(SUM(lvl) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS mu
                FROM hourly
            ), based AS (
                SELECT bucket, lvl,
                       lvl - mu - 1000000 AS y_pos,
                       lvl - mu + 1000000 AS y_neg
                FROM hourly CROSS JOIN mu
            ), cums AS (
                SELECT bucket, lvl,
                       SUM(y_pos) OVER w AS cp,
                       SUM(y_neg) OVER w AS cn
                FROM based
                WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            ), traj AS (
                SELECT bucket, lvl,
                       cp - LEAST(0, MIN(cp) OVER w) AS sp,
                       GREATEST(0, MAX(cn) OVER w) - cn AS sn
                FROM cums
                WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            )
            SELECT bucket,
                   ROUND(lvl / 1e6, 6) AS level,
                   ROUND(sp / 1e6, 6) AS cusum_pos,
                   ROUND(sn / 1e6, 6) AS cusum_neg,
                   CAST(CASE WHEN sp > 8000000 OR sn > 8000000 THEN 1 ELSE 0 END AS INT) AS alarm
            FROM traj ORDER BY bucket
        """,
        # round 7 wave 3: STL residual anomalies — the q_stl_decompose
        # chain + interpolated medians + the 3σ-equivalent MAD fence
        "q_anomaly_seasonal": r"""
            WITH hourly AS (
                SELECT DATE_TRUNC('hour', ts) AS bucket,
                       ROUND(CAST(SUM(CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS level
                FROM events GROUP BY bucket
            ), trended AS (
                SELECT bucket, level,
                       ROUND(CAST(SUM(CAST(ROUND(level * 1000000.0, 0) AS BIGINT))
                                  OVER w AS DOUBLE)
                             / (COUNT(*) OVER w)
                             / 1000000.0, 6) AS trend
                FROM hourly
                WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
            ), detr AS (
                SELECT bucket, level, trend,
                       ROUND(level - trend, 6) AS detr,
                       CAST(EXTRACT(hour FROM bucket) AS INT) % 24 AS phase
                FROM trended
            ), seasonal AS (
                SELECT phase,
                       ROUND(CAST(SUM(CAST(ROUND(detr * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / COUNT(*) / 1000000.0, 6) AS seasonal
                FROM detr GROUP BY phase
            ), dec AS (
                SELECT d.bucket, d.phase, d.level, d.trend, s.seasonal,
                       ROUND(d.detr - s.seasonal, 6) AS residual
                FROM detr d JOIN seasonal s USING (phase)
            ), med AS (
                SELECT QUANTILE_CONT(residual, 0.5) AS m FROM dec
            ), adev AS (
                SELECT dec.*, ABS(ROUND(residual - m, 6)) AS adev
                FROM dec CROSS JOIN med
            ), madt AS (
                SELECT ROUND(3.0 * 1.4826 * QUANTILE_CONT(adev, 0.5), 6) AS thr
                FROM adev
            )
            SELECT bucket, phase, level,
                   ROUND(trend + seasonal, 6) AS expected,
                   residual,
                   thr AS threshold,
                   CASE WHEN thr > 0 THEN ROUND(adev / thr, 6) END AS anomaly_score
            FROM adev CROSS JOIN madt
            WHERE adev > thr
            ORDER BY bucket
        """,
        # round 7 wave 3: label propagation — same exact-Jaccard pair
        # replay as q_graph_components, seeds from the portable hash,
        # both monotone rounds unrolled (votes -> max count -> min
        # label, only not-yet-labeled nodes adopt)
        "q_graph_labelprop": r"""
            WITH s AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN LENGTH(LOWER(text)) >= 5 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(
                               GENERATE_SERIES(1, LENGTH(LOWER(text)) - 4),
                               i -> SUBSTRING(LOWER(text), i, 5)))
                       ELSE CAST([] AS VARCHAR[]) END AS sh
                FROM documents
            ), shx AS MATERIALIZED (
                SELECT doc_id, UNNEST(sh) AS sg FROM s
            ), sizes AS MATERIALIZED (
                SELECT doc_id, LEN(sh) AS n FROM s
            ), cm AS MATERIALIZED (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ), pairs AS MATERIALIZED (
                SELECT id_a, id_b
                FROM cm JOIN sizes sa ON sa.doc_id = id_a
                        JOIN sizes sb ON sb.doc_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8
            ), edges AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), l0 AS MATERIALIZED (
                SELECT doc_id AS node, lang AS label, 0 AS round_assigned
                FROM documents
                WHERE (CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), CHR(31), '23')), 1, 15))
                            AS BIGINT) % 4) = 0
            ), v1 AS MATERIALIZED (
                SELECT e.v AS cand, l.label, COUNT(*) AS c
                FROM edges e JOIN l0 l ON l.node = e.u
                WHERE e.v NOT IN (SELECT node FROM l0)
                GROUP BY e.v, l.label
            ), b1 AS MATERIALIZED (
                SELECT cand, MAX(c) AS mc FROM v1 GROUP BY cand
            ), a1 AS MATERIALIZED (
                SELECT v1.cand AS node, MIN(v1.label) AS label, 1 AS round_assigned
                FROM v1 JOIN b1 ON v1.cand = b1.cand AND v1.c = b1.mc
                GROUP BY v1.cand
            ), l1 AS MATERIALIZED (
                SELECT * FROM l0 UNION ALL SELECT * FROM a1
            ), v2 AS MATERIALIZED (
                SELECT e.v AS cand, l.label, COUNT(*) AS c
                FROM edges e JOIN l1 l ON l.node = e.u
                WHERE e.v NOT IN (SELECT node FROM l1)
                GROUP BY e.v, l.label
            ), b2 AS MATERIALIZED (
                SELECT cand, MAX(c) AS mc FROM v2 GROUP BY cand
            ), a2 AS MATERIALIZED (
                SELECT v2.cand AS node, MIN(v2.label) AS label, 2 AS round_assigned
                FROM v2 JOIN b2 ON v2.cand = b2.cand AND v2.c = b2.mc
                GROUP BY v2.cand
            ), l2 AS MATERIALIZED (
                SELECT * FROM l1 UNION ALL SELECT * FROM a2
            )
            SELECT node AS doc_id, label, CAST(round_assigned AS INT) AS round_assigned
            FROM l2 ORDER BY doc_id
        """,
        # round 7 wave 3: equi-depth histogram — integer-ceil bin
        # assignment over exact cumulative distinct-value counts
        "q_stats_equidepth": r"""
            WITH counts AS (
                SELECT event_type, value AS v, COUNT(*) AS c
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type, value
            ), tot AS (
                SELECT event_type, SUM(c) AS n FROM counts GROUP BY event_type
            ), cum AS (
                SELECT c.event_type, v, c.c,
                       SUM(c.c) OVER (PARTITION BY c.event_type ORDER BY v) AS cum,
                       t.n
                FROM counts c JOIN tot t USING (event_type)
            ), binned AS (
                SELECT event_type, v, c, cum,
                       LEAST(8, (cum * 8 + n - 1) // n) AS bin
                FROM cum
            ), per_bin AS (
                SELECT event_type, bin, MAX(v) AS hi,
                       SUM(c) AS bin_rows, MAX(cum) AS cum_rows
                FROM binned GROUP BY event_type, bin
            )
            SELECT event_type, CAST(bin AS INT) AS bin,
                   LAG(hi) OVER (PARTITION BY event_type ORDER BY bin) AS lo,
                   hi,
                   CAST(bin_rows AS BIGINT) AS bin_rows,
                   CAST(cum_rows AS BIGINT) AS cum_rows
            FROM per_bin ORDER BY event_type, bin
        """,
        # round 7 wave 3: MATCH_RECOGNIZE analog — ordered per-user
        # char encoding + the same alternation-free greedy regex
        "q_event_pattern": r"""
            WITH seq AS (
                SELECT user_id,
                       STRING_AGG(
                           CASE event_type
                               WHEN 'signup' THEN 's'
                               WHEN 'click' THEN 'c'
                               WHEN 'purchase' THEN 'p'
                               WHEN 'view' THEN 'v'
                               WHEN 'error' THEN 'e'
                               ELSE 'x' END,
                           '' ORDER BY ts, event_id) AS seq
                FROM events GROUP BY user_id
            )
            SELECT user_id,
                   CAST(LENGTH(seq) AS INT) AS seq_len,
                   CAST(LEN(regexp_extract_all(seq, 's[cv]*p')) AS INT) AS n_matches,
                   regexp_extract(seq, 's[cv]*p') AS first_match
            FROM seq
            WHERE LEN(regexp_extract_all(seq, 's[cv]*p')) >= 1
            ORDER BY user_id
        """,
        # round 7: RRF — both shortlists replayed (the BM25 chain is
        # the q_bm25_rank oracle at top-100; the dense side is the
        # q_similarity_topk cosine), ranks fused as 1/(60+rank)
        "q_rrf_fusion": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS term
                FROM documents
            ), dlen AS (
                SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks
                WHERE term IN ('spark', 'join', 'window')
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ROUND(LN(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
                             * tf.tf * 2.2
                             / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl)),
                             6) AS part
                FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
            ), bm AS (
                SELECT doc_id AS id, ROUND(SUM(part), 6) AS s
                FROM scored GROUP BY doc_id ORDER BY s DESC, id LIMIT 100
            ), bmr AS (
                SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank FROM bm
            ), cos AS (
                SELECT vec_id AS id,
                       ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), q) /
                             (SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                              SQRT(LIST_DOT_PRODUCT(q, q))), 6) AS s
                FROM embeddings, (SELECT [1.0 FOR _ IN RANGE(64)]::DOUBLE[] AS q)
                ORDER BY s DESC, id LIMIT 100
            ), cosr AS (
                SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank FROM cos
            ), allr AS (
                SELECT * FROM bmr UNION ALL SELECT * FROM cosr
            )
            SELECT id AS doc_id, ROUND(SUM(1.0 / (60.0 + rank)), 6) AS rrf,
                   CAST(COUNT(*) AS INT) AS n_rankers
            FROM allr GROUP BY id ORDER BY rrf DESC, doc_id LIMIT 20
        """,
        # round 6: power iteration — mean, both iterations, and the
        # Rayleigh eigenvalue replayed with the same fold orders and
        # 6-dp/micro-unit rounding boundaries as pca_top_component
        "q_pca_power": """
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), mu AS (
                SELECT LIST(m ORDER BY dim) AS m FROM (
                    SELECT gs.dim,
                           ROUND(SUM(CAST(ROUND(e.v[gs.dim] * 1000000, 0) AS BIGINT))
                                 / COUNT(*) / 1000000.0, 6) AS m
                    FROM emb e CROSS JOIN GENERATE_SERIES(1, 64) gs(dim)
                    GROUP BY gs.dim
                )
            ), cen AS (
                SELECT e.vec_id,
                       LIST_TRANSFORM(GENERATE_SERIES(1, 64), j -> e.v[j] - mu.m[j]) AS c
                FROM emb e CROSS JOIN mu
            ), s1 AS (
                SELECT vec_id, c,
                       ROUND(LIST_SUM(LIST_TRANSFORM(c, x -> x * 0.125)), 6) AS s
                FROM cen
            ), w1 AS (
                SELECT LIST(w ORDER BY dim) AS w FROM (
                    SELECT gs.dim,
                           ROUND(SUM(CAST(ROUND(s1.s * s1.c[gs.dim] * 1000000, 0) AS BIGINT))
                                 / COUNT(*) / 1000000.0, 6) AS w
                    FROM s1 CROSS JOIN GENERATE_SERIES(1, 64) gs(dim)
                    GROUP BY gs.dim
                )
            ), v1 AS (
                SELECT LIST_TRANSFORM(w, x ->
                           ROUND(x / SQRT(LIST_SUM(LIST_TRANSFORM(w, y -> y * y))), 6)) AS v
                FROM w1
            ), s2 AS (
                SELECT cen.vec_id, cen.c,
                       ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                             j -> cen.c[j] * v1.v[j])), 6) AS s
                FROM cen CROSS JOIN v1
            ), w2 AS (
                SELECT LIST(w ORDER BY dim) AS w FROM (
                    SELECT gs.dim,
                           ROUND(SUM(CAST(ROUND(s2.s * s2.c[gs.dim] * 1000000, 0) AS BIGINT))
                                 / COUNT(*) / 1000000.0, 6) AS w
                    FROM s2 CROSS JOIN GENERATE_SERIES(1, 64) gs(dim)
                    GROUP BY gs.dim
                )
            ), v2 AS (
                SELECT LIST_TRANSFORM(w, x ->
                           ROUND(x / SQRT(LIST_SUM(LIST_TRANSFORM(w, y -> y * y))), 6)) AS v,
                       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(w, y -> y * y))), 6) AS eig
                FROM w2
            )
            SELECT CAST(gs.j - 1 AS INT) AS dim, v2.v[gs.j] AS loading,
                   v2.eig AS eigenvalue
            FROM v2 CROSS JOIN GENERATE_SERIES(1, 64) gs(j)
            ORDER BY dim
        """,
        # round 6: DP release — hash -> inverse-CDF Laplace replayed
        # with the identical expression shape (left-assoc multiplies).
        # The key is the engine's INJECTIVE escaped encoding (\x1e/\x1f
        # escapes + NULL -> \x1e0, privacy.py _group_key) and the ln()
        # argument carries the same 2^-60 clamp as _laplace_noise, so
        # parity holds for control-char / NULL keys and the h=0 edge.
        "q_dp_release": """
            WITH c AS (
                SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY event_type
            ), s AS (
                SELECT event_type,
                       ROUND(CAST(SUM(CAST(ROUND(LEAST(50.0, GREATEST(0.0, value)) * 100.0, 0)
                                          AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_clipped
                FROM events GROUP BY event_type
            ), nc AS (
                SELECT event_type, n_true,
                       CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(
                                 COALESCE(REPLACE(REPLACE(event_type, CHR(30), CHR(30) || CHR(30)),
                                                  CHR(31), CHR(30) || CHR(31)),
                                          CHR(30) || '0'),
                                 CHR(31), '7')), 1, 15))
                                 AS BIGINT) AS DOUBLE) / 1152921504606846976.0 - 0.5 AS u
                FROM c
            ), ns AS (
                SELECT event_type, sum_clipped,
                       CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(
                                 COALESCE(REPLACE(REPLACE(event_type, CHR(30), CHR(30) || CHR(30)),
                                                  CHR(31), CHR(30) || CHR(31)),
                                          CHR(30) || '0'),
                                 CHR(31), '8')), 1, 15))
                                 AS BIGINT) AS DOUBLE) / 1152921504606846976.0 - 0.5 AS u
                FROM s
            )
            SELECT nc.event_type, nc.n_true,
                   ROUND(nc.n_true + SIGN(nc.u) * 1.0 * 1.0
                         * (-LN(GREATEST(1.0 - 2.0 * ABS(nc.u), 8.673617379884035e-19))), 6) AS n_released,
                   ns.sum_clipped,
                   ROUND(ns.sum_clipped + SIGN(ns.u) * 1.0 * 50.0
                         * (-LN(GREATEST(1.0 - 2.0 * ABS(ns.u), 8.673617379884035e-19))), 6) AS sum_released
            FROM nc JOIN ns USING (event_type)
            ORDER BY event_type
        """,
        # round 5: EWMA — identical left-associated power-of-two chain
        "q_ewma": """
            WITH t AS (
                SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                       ROW_NUMBER() OVER w AS rn,
                       LAG(CAST(value AS DOUBLE), 1) OVER w AS x1,
                       LAG(CAST(value AS DOUBLE), 2) OVER w AS x2,
                       LAG(CAST(value AS DOUBLE), 3) OVER w AS x3,
                       LAG(CAST(value AS DOUBLE), 4) OVER w AS x4,
                       LAG(CAST(value AS DOUBLE), 5) OVER w AS x5,
                       LAG(CAST(value AS DOUBLE), 6) OVER w AS x6,
                       LAG(CAST(value AS DOUBLE), 7) OVER w AS x7,
                       LAG(CAST(value AS DOUBLE), 8) OVER w AS x8,
                       LAG(CAST(value AS DOUBLE), 9) OVER w AS x9
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   ROUND((x + 0.5 * x1 + 0.25 * x2 + 0.125 * x3 + 0.0625 * x4
                          + 0.03125 * x5 + 0.015625 * x6 + 0.0078125 * x7
                          + 0.00390625 * x8 + 0.001953125 * x9) / 1.998046875, 6)
                     AS ewma_value
            FROM t WHERE rn >= 10
        """,
        # round 5: recursive CTE — DuckDB runs the identical recursion
        # over the same derived node set
        "q_recursive_cte": """
            WITH RECURSIVE nodes AS (
                SELECT DISTINCT CAST(c_custkey % 127 + 1 AS BIGINT) AS n FROM customer
            ), walk(n, depth) AS (
                SELECT n, 0 FROM nodes WHERE n = 1
                UNION ALL
                SELECT t.n, w.depth + 1
                FROM nodes t JOIN walk w
                  ON CAST(FLOOR(t.n / 2.0) AS BIGINT) = w.n
                WHERE t.n > 1
            )
            SELECT depth,
                   COUNT(*) AS n_nodes,
                   CAST(SUM(n) AS BIGINT) AS id_checksum
            FROM walk GROUP BY depth ORDER BY depth
        """,
        # round 5: VARIANT extraction — oracle computes the same values
        # straight from the source columns (extraction bugs shift them)
        "q_variant_json": """
            SELECT CAST(o_custkey % 10 AS BIGINT) AS custkey_mod,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS sum_price,
                   CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
            FROM orders WHERE o_totalprice > 100000.0
            GROUP BY o_custkey % 10 ORDER BY custkey_mod
        """,
        # round 5: _metadata provenance — month recovered from the file
        # path must reproduce the logical per-month counts
        "q_file_provenance": """
            SELECT CAST(MONTH(ts) AS INT) AS m_from_path,
                   COUNT(*) AS n_rows
            FROM events GROUP BY MONTH(ts) ORDER BY m_from_path
        """,
        # round 5: observed-write metrics — plain aggregates over the
        # same slice; write_intact is checked in-query
        "q_dq_observe": """
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
                   ROUND(SUM(value), 4) AS sum_value,
                   CAST(MIN(user_id) AS BIGINT) AS min_user,
                   CAST(MAX(user_id) AS BIGINT) AS max_user,
                   TRUE AS write_intact
            FROM events
        """,
        # round 5: BPE encode — generated replace-chain twin, see
        # _bpe_encode_oracle
        "q_bpe_encode": _bpe_encode_oracle(),
        # round 5: CDF — changes(0→1) are the fn-2 inserts, changes(1→2)
        # the deleted click rows (only change types present appear)
        "q_table_changes": """
            SELECT '0to1' AS diff, 'insert' AS change_type,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events WHERE DAY(ts) > 15
            UNION ALL
            SELECT '1to2', 'delete', COUNT(*), ROUND(SUM(value), 4)
            FROM events WHERE event_type = 'click'
            ORDER BY diff, change_type
        """,
        # round 5: zone-map lookup — row results are a plain filter;
        # the pruning invariants are booleans checked in-query
        "q_zonemap_prune": """
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(value), 4) AS sum_value,
                   TRUE AS index_complete,
                   TRUE AS pruned
            FROM events WHERE user_id = 7
        """,
        # round 13: versioned-manifest zone skipping — rows must equal
        # the plain filter; the file-skip booleans are engine-side
        # invariants (TRUE under the documented SF guard)
        "q_versioned_zone_skip": """
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(value), 4) AS sum_value,
                   COUNT(DISTINCT user_id) AS n_users,
                   TRUE AS zones_recorded,
                   TRUE AS pruned
            FROM events
            WHERE user_id >= 10 AND user_id < 40 AND value < 250.0
        """,
        # round 14: sidecar-backed zones — same shape as zone_skip (the
        # engine-side booleans are invariants, TRUE at every SF by the
        # SF-robust conventions documented on the query)
        "q_versioned_sidecar": """
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(value), 4) AS sum_value,
                   COUNT(DISTINCT user_id) AS n_users,
                   TRUE AS spill_rule_ok,
                   TRUE AS zones_recorded,
                   TRUE AS pruned
            FROM events
            WHERE user_id >= 5 AND user_id < 12 AND value < 280.0
        """,
        # round 5: Efraimidis-Spirakis replay — same md5 u-draw, same
        # ln(u)/w keys, same (key DESC, id) order, same LIMIT
        "q_sample_es": """
            WITH d AS (
                SELECT doc_id, lang, LENGTH(text) AS w,
                       CAST(CONCAT('0x', SUBSTR(md5(CONCAT('v1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
                FROM documents
            ), keyed AS (
                SELECT doc_id, lang,
                       LN((CAST(h AS DOUBLE) + 0.5) / 1152921504606846976.0)
                           / CAST(w AS DOUBLE) AS es
                FROM d WHERE w > 0
            )
            SELECT doc_id, lang
            FROM keyed ORDER BY es DESC, doc_id ASC LIMIT 100
        """,
        # round 5: full SQL replay of the triangle pipeline — same edge
        # construction, same (degree, id) orientation, same closed-2-path
        # join; per-triangle explode via 3-way UNION ALL
        "q_graph_triangles": """
            WITH nodes AS (
                SELECT DISTINCT CAST(c_custkey % 400 AS BIGINT) AS u FROM customer
            ), edges0 AS (
                SELECT u, (u + 1) % 400 AS v FROM nodes
                UNION ALL SELECT u, (u + 2) % 400 FROM nodes
                UNION ALL SELECT u, (u * 2) % 400 FROM nodes
            ), canon AS (
                SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
                FROM edges0 WHERE u <> v
            ), deg AS (
                SELECT node, COUNT(*) AS d FROM (
                    SELECT a AS node FROM canon
                    UNION ALL SELECT b FROM canon
                ) GROUP BY node
            ), oriented AS (
                SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                            THEN a ELSE b END AS u,
                       CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
                            THEN b ELSE a END AS v
                FROM canon
                JOIN deg da ON a = da.node
                JOIN deg db ON b = db.node
            ), tri AS (
                SELECT o1.u AS x, o1.v AS y, o2.v AS z
                FROM oriented o1
                JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v
                JOIN oriented o3
                  ON (o3.u = o1.v AND o3.v = o2.v)
                  OR (o3.u = o2.v AND o3.v = o1.v)
            )
            SELECT node, COUNT(*) AS n_triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node ORDER BY node
        """,
        "q_graph_components": """
            WITH RECURSIVE s AS (
                SELECT doc_id,
                       CASE WHEN LENGTH(LOWER(text)) >= 5 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(
                               GENERATE_SERIES(1, LENGTH(LOWER(text)) - 4),
                               i -> SUBSTRING(LOWER(text), i, 5)))
                       ELSE CAST([] AS VARCHAR[]) END AS sh
                FROM documents
            ), shx AS (
                SELECT doc_id, UNNEST(sh) AS sg FROM s
            ), sizes AS (
                SELECT doc_id, LEN(sh) AS n FROM s
            ), cm AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ), pairs AS (
                SELECT id_a, id_b
                FROM cm JOIN sizes sa ON sa.doc_id = id_a
                        JOIN sizes sb ON sb.doc_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(node, r) AS (
                SELECT u, u FROM edges
                UNION
                SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r
            ), comp AS (
                SELECT node, MIN(r) AS component FROM reach GROUP BY node
            )
            SELECT component, COUNT(*) AS n_docs
            FROM comp GROUP BY component ORDER BY component
        """,
        "q_dedup_pipeline": """
            WITH reps AS (
                SELECT text, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
                FROM documents GROUP BY text
            ), s AS (
                SELECT rep_id,
                       CASE WHEN LENGTH(LOWER(text)) >= 5 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(
                               GENERATE_SERIES(1, LENGTH(LOWER(text)) - 4),
                               i -> SUBSTRING(LOWER(text), i, 5)))
                       ELSE CAST([] AS VARCHAR[]) END AS sh
                FROM reps
            ), shx AS (
                SELECT rep_id, UNNEST(sh) AS sg FROM s
            ), sizes AS (
                SELECT rep_id, LEN(sh) AS n FROM s
            ), cm AS (
                SELECT a.rep_id AS id_a, b.rep_id AS id_b, COUNT(*) AS c
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.rep_id < b.rep_id
                GROUP BY a.rep_id, b.rep_id
            ), pairs AS (
                SELECT id_a, id_b
                FROM cm JOIN sizes sa ON sa.rep_id = id_a
                        JOIN sizes sb ON sb.rep_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8
            ), grp AS (
                SELECT r.rep_id, r.n_copies,
                       LEAST(COALESCE(MIN(p.id_a), r.rep_id), r.rep_id) AS group_id
                FROM reps r LEFT JOIN pairs p ON p.id_b = r.rep_id
                GROUP BY r.rep_id, r.n_copies
            )
            SELECT group_id, CAST(SUM(n_copies) AS BIGINT) AS n_docs
            FROM grp GROUP BY group_id
            HAVING CAST(SUM(n_copies) AS BIGINT) >= 2
            ORDER BY group_id
        """,
        "q_dedup_minhash": """
            WITH d AS (
                SELECT doc_id, LOWER(text) AS t FROM documents WHERE LENGTH(text) >= 5
            ), sh AS (
                SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                    GENERATE_SERIES(1, LENGTH(t) - 4), i -> SUBSTRING(t, i, 5)))) AS s
                FROM d
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
            FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.8
            ORDER BY id_a, id_b
        """,
        "q_join_broadcast": """
            SELECT p_brand, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 6) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand
        """,
        "q_join_star": """
            SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "q_join_range": """
            WITH buckets(bucket, lo, hi) AS (
                VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 50.0),
                       ('big', 50.0, 200.0), ('huge', 200.0, 1000000000.0)
            )
            SELECT bucket, COUNT(*) AS n_events, ROUND(AVG(value), 6) AS avg_value
            FROM events JOIN buckets ON value >= lo AND value < hi
            GROUP BY bucket ORDER BY bucket
        """,
        "q_join_cross": """
            SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name
        """,
        "q_agg_basic": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 6) AS avg_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_agg_count_distinct": """
            SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_agg_rollup": """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS sum_total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        "q_agg_having": """
            SELECT l_partkey, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 6) AS sum_qty
            FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 2 ORDER BY l_partkey
        """,
        "q_window_rank": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 6) AS totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
                FROM orders
            )
            SELECT o_custkey, o_orderkey, totalprice, CAST(rank_in_cust AS INT) AS rank_in_cust
            FROM ranked WHERE rank_in_cust <= 3 ORDER BY o_custkey, rank_in_cust
        """,
        "q_window_lag_lead": """
            SELECT user_id, event_id, ROUND(value, 6) AS value,
                   ROUND(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS prev_value,
                   ROUND(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS next_value
            FROM events ORDER BY user_id, event_id
        """,
        "q_window_running_sum": """
            SELECT o_custkey, o_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
            FROM orders ORDER BY o_custkey, o_orderkey
        """,
        "q_topk": """
            SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS totalprice
            FROM orders ORDER BY totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "q_set_ops": """
            SELECT 'union' AS op, nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION SELECT s_nationkey FROM supplier)
            UNION ALL
            SELECT 'intersect', nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT SELECT s_nationkey FROM supplier)
            UNION ALL
            SELECT 'except', nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                EXCEPT SELECT s_nationkey FROM supplier)
            ORDER BY op, nationkey
        """,
        "q_dedup_exact": """
            SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
        """,
        "q_string_funcs": """
            SELECT p_partkey,
                   UPPER(p_name) AS name_upper,
                   SUBSTRING(p_brand, 1, 5) AS brand_prefix,
                   CONCAT_WS('/', p_brand, p_type) AS brand_type,
                   STRING_SPLIT(p_type, ' ')[1] AS type_first_word,
                   COALESCE(REGEXP_EXTRACT(p_type, '([A-Z]+)$', 1), '') AS type_last_caps,
                   LENGTH(p_name)::INT AS name_len
            FROM part ORDER BY p_partkey
        """,
        "q_date_funcs": """
            SELECT o_orderkey,
                   CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
                   YEAR(o_orderdate)::INT AS order_year,
                   DAY(o_orderdate)::INT AS order_dom,
                   DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')::INT AS days_to_1998,
                   CAST(o_orderdate AS DATE) + 30 AS due_date
            FROM orders ORDER BY o_orderkey
        """,
        "q_math_funcs": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(l_extendedprice, 1) AS price_round1,
                   CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
                   ROUND(POW(l_quantity, 2), 6) AS qty_sq,
                   ROUND(LN(l_extendedprice + 1), 6) AS ln_price,
                   ROUND(SQRT(l_quantity), 6) AS sqrt_qty,
                   ROUND(ABS(l_discount - 0.05), 6) AS disc_center
            FROM lineitem ORDER BY l_orderkey, l_linenumber
        """,
        "q_array_explode": """
            SELECT vec_id, LEN(embedding)::INT AS dim,
                   ROUND(AVG(CAST(x AS DOUBLE)), 6) AS avg_x,
                   ROUND(MIN(CAST(x AS DOUBLE)), 6) AS min_x,
                   ROUND(MAX(CAST(x AS DOUBLE)), 6) AS max_x
            FROM embeddings, UNNEST(embedding) AS t(x)
            GROUP BY vec_id, dim ORDER BY vec_id
        """,
        "q_null_funcs": """
            SELECT l_orderkey, l_linenumber,
                   COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
                   ROUND(GREATEST(l_discount, l_tax), 6) AS max_rate,
                   ROUND(LEAST(l_discount, l_tax), 6) AS min_rate,
                   CASE WHEN l_quantity IS NULL THEN 0 ELSE 1 END AS qty_present
            FROM lineitem ORDER BY l_orderkey, l_linenumber
        """,
        "q_map_funcs": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
                   event_type AS type_from_map
            FROM events ORDER BY event_id
        """,
        "q_array_posexplode": """
            SELECT vec_id, (g - 1)::INT AS pos,
                   ROUND(CAST(embedding[g] AS DOUBLE), 6) AS x
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS s(g)
            WHERE vec_id < 10 ORDER BY vec_id, pos
        """,
        "q_json_extract": """
            SELECT event_type, COUNT(*) AS n_events,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_udf_scalar": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(l_extendedprice * (1 - l_discount), 6) AS revenue
            FROM lineitem ORDER BY l_orderkey, l_linenumber
        """,
        "q_udaf_grouped": """
            SELECT l_returnflag,
                   ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS wavg_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q_udtf_tokenize": r"""
            SELECT doc_id, words[g] AS word, (g - 1)::INT AS pos,
                   LENGTH(words[g])::INT AS word_len
            FROM (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'), t -> t <> '') AS words
                FROM documents WHERE n_chars < 120
            ), UNNEST(GENERATE_SERIES(1, LEN(words))) AS s(g)
        """,
        "q_text_wordcount": """
            SELECT word, COUNT(*) AS cnt FROM (
                SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS word
                FROM documents
            ) WHERE word <> '' GROUP BY word ORDER BY word
        """,
        "q_text_token_count": r"""
            SELECT doc_id,
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'), t -> t <> ''))::INT AS ws_tokens,
                   LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))::INT AS bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "q_text_pack": r"""
            WITH t AS (
                SELECT doc_id,
                       LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'), x -> x <> ''))::INT AS n_tokens,
                       doc_id % 8 AS shard
                FROM documents
            )
            SELECT doc_id, n_tokens, shard,
                   CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY shard
                        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS pack_id
            FROM t ORDER BY doc_id
        """,
        "q_upsert": """
            SELECT c_custkey,
                   ROUND(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END, 6) AS acctbal
            FROM customer ORDER BY c_custkey
        """,
        "q_dedup_keep_best": """
            SELECT lang, source, doc_id, n_chars FROM (
                SELECT lang, source, doc_id, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY lang, source
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM documents
            ) WHERE rn = 1 ORDER BY lang, source
        """,
        "q_similarity_topk": """
            SELECT vec_id,
                   ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), q) /
                         (SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                          SQRT(LIST_DOT_PRODUCT(q, q))), 6) AS cosine
            FROM embeddings, (SELECT [1.0 FOR _ IN RANGE(64)]::DOUBLE[] AS q)
            ORDER BY cosine DESC, vec_id LIMIT 20
        """,
        "q_agg_cube": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
                   ROUND(SUM(l_quantity), 4) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        # TPC-H Q1 — completes the 22-query suite; every SUM is exact
        # integer cents (disc_price 1e4, charge 1e6 scale), identical
        # SQL text runs in both engines
        "q_sql_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / 100 AS sum_qty,
                   CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / 100 AS sum_base_price,
                   CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DECIMAL(38, 0))) AS DOUBLE) / 10000 AS sum_disc_price,
                   CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                       * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DECIMAL(38, 0))) AS DOUBLE) / 1000000 AS sum_charge,
                   ROUND(CAST(SUM(CAST(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_qty,
                   ROUND(CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_price,
                   ROUND(CAST(SUM(CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS DECIMAL(38, 0))) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_sql_tpch_q3": """
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   CAST(o_orderdate AS DATE) AS orderdate
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q_sql_tpch_q5": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q_sql_tpch_q6": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q_sql_tpch_q12": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE l_shipdate >= o_orderdate
              AND l_shipdate < o_orderdate + INTERVAL 90 DAY
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
        "q_agg_pivot": """
            SELECT o_orderpriority,
                   COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
                   COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
                   COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q_agg_stats": """
            SELECT l_returnflag,
                   ROUND(STDDEV_SAMP(l_extendedprice), 6) AS stddev_v,
                   ROUND(VAR_SAMP(l_extendedprice), 6) AS var_v,
                   ROUND(MIN(l_extendedprice), 6) AS min_v,
                   ROUND(MAX(l_extendedprice), 6) AS max_v
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q_agg_percentile": """
            SELECT o_orderstatus,
                   ROUND(QUANTILE_CONT(o_totalprice, 0.25), 6) AS p25,
                   ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS p50,
                   ROUND(QUANTILE_CONT(o_totalprice, 0.9), 6) AS p90
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_window_tumbling_batch": """
            SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
                   time_bucket(INTERVAL 6 HOURS, ts) + INTERVAL 6 HOURS AS window_end,
                   COUNT(*) AS n_events,
                   ROUND(AVG(value), 6) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1
        """,
        "q_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR (CAST(floor(epoch(ts)) AS BIGINT)
                                  - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts,
                       CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT)
                     - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
            FROM sess GROUP BY user_id, session_id
        """,
        "q_join_asof": """
            SELECT c.event_id, c.user_id, c.ts AS click_ts, p.ts AS last_purchase_ts
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "q_time_gapfill": """
            WITH spine AS (
                SELECT generate_series AS bucket_ts
                FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                     TIMESTAMP '2024-01-30 23:00:00',
                                     INTERVAL 1 HOUR)
            ), facts AS (
                SELECT date_trunc('hour', ts) AS bucket_ts,
                       COUNT(*) AS n_events,
                       ROUND(SUM(value), 6) AS sum_value
                FROM events GROUP BY 1
            )
            SELECT s.bucket_ts,
                   COALESCE(f.n_events, 0) AS n_events,
                   COALESCE(f.sum_value, 0) AS sum_value
            FROM spine s LEFT JOIN facts f USING (bucket_ts)
        """,
        "q_window_distribution": """
            SELECT c_custkey, c_nationkey,
                   CAST(ROUND(percent_rank() OVER w
                              * (COUNT(*) OVER wn - 1)) AS BIGINT) AS pr_scaled,
                   CAST(ROUND(cume_dist() OVER w
                              * COUNT(*) OVER wn) AS BIGINT) AS cume_scaled,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
                   wn AS (PARTITION BY c_nationkey)
        """,
        "q_agg_conditional": """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
                   bool_or(o_orderstatus = 'F') AS any_f,
                   ROUND(MEDIAN(o_totalprice), 6) AS med_price,
                   ROUND(CORR(o_totalprice, o_custkey), 6) AS corr_price_cust,
                   ROUND(COVAR_SAMP(o_totalprice, o_custkey), 2) AS covar_price_cust
            FROM orders GROUP BY o_orderpriority
        """,
        "q_agg_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_prio,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS sum_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        "q_unpivot": """
            WITH wide AS (
                SELECT l_returnflag,
                       ROUND(SUM(l_quantity), 4) AS sum_qty,
                       ROUND(SUM(l_extendedprice), 4) AS sum_price,
                       ROUND(SUM(l_discount), 4) AS sum_disc
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
            UNION ALL
            SELECT l_returnflag, 'sum_price' AS measure, sum_price AS val FROM wide
            UNION ALL
            SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS val FROM wide
        """,
        "q_histogram": """
            SELECT CAST(FLOOR(l_extendedprice / 5000) * 5000 AS BIGINT) AS price_bucket,
                   COUNT(*) AS n_items
            FROM lineitem GROUP BY 1
        """,
        "q_array_funcs": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS arr_max,
                   ROUND(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS arr_min,
                   ROUND(CAST(embedding[1] AS DOUBLE), 6) AS head,
                   ROUND(list_aggregate(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)),
                                        'sum'), 6) AS head4_sum
            FROM embeddings
        """,
        "q_string_distance": """
            SELECT p_partkey,
                   CAST(levenshtein(lower(p_brand), lower(p_type)) AS BIGINT) AS lev_brand_type,
                   CAST(levenshtein(lower(p_name), lower(p_brand)) AS BIGINT) AS lev_name_brand
            FROM part
        """,
        "q_subquery_scalar": """
            SELECT o_orderstatus, COUNT(*) AS n_above
            FROM orders
            WHERE o_totalprice > (SELECT ROUND(AVG(o_totalprice), 2) FROM orders)
            GROUP BY o_orderstatus
        """,
        "q_sql_tpch_q4": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate < o_orderdate + INTERVAL 30 DAY
              )
            GROUP BY o_orderpriority
        """,
        "q_sql_tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q_sql_tpch_q14": """
            SELECT ROUND(
                     100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
        """,
        "q_sql_tpch_q18": """
            SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
                   ROUND(o_totalprice, 4) AS totalprice,
                   ROUND(SUM(l_quantity), 4) AS sum_qty
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
            )
            GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        """,
        "q_sql_tpch_q8": """
            SELECT o_year,
                   ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                         / SUM(volume), 6) AS mkt_share
            FROM (
                SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                       l_extendedprice * (1 - l_discount) AS volume,
                       ns.n_name AS nation
                FROM lineitem
                JOIN supplier  ON s_suppkey = l_suppkey
                JOIN orders    ON o_orderkey = l_orderkey
                JOIN customer  ON c_custkey = o_custkey
                JOIN nation ns ON s_nationkey = ns.n_nationkey
                JOIN nation nc ON c_nationkey = nc.n_nationkey
                JOIN region    ON nc.n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ) all_nations
            GROUP BY o_year
        """,
        "q_agg_filter_clause": """
            SELECT o_orderstatus,
                   COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
                   COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
                   ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 4)
                     AS urgent_value
            FROM orders
            GROUP BY o_orderstatus
        """,
        "q_sql_tpch_q7": """
            SELECT supp_nation, cust_nation, l_year,
                   ROUND(SUM(volume), 4) AS revenue
            FROM (
                SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                       CAST(YEAR(l_shipdate) AS INT) AS l_year,
                       l_extendedprice * (1 - l_discount) AS volume
                FROM supplier
                JOIN lineitem  ON s_suppkey = l_suppkey
                JOIN orders    ON o_orderkey = l_orderkey
                JOIN customer  ON c_custkey = o_custkey
                JOIN nation ns ON s_nationkey = ns.n_nationkey
                JOIN nation nc ON c_nationkey = nc.n_nationkey
                WHERE ns.n_name IN ('NATION_1', 'NATION_2')
                  AND nc.n_name IN ('NATION_1', 'NATION_2')
                  AND ns.n_name <> nc.n_name
            ) shipping
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q_sql_tpch_q9": """
            SELECT nation, o_year, ROUND(SUM(amount), 4) AS sum_profit
            FROM (
                SELECT n_name AS nation,
                       CAST(YEAR(o_orderdate) AS INT) AS o_year,
                       l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity AS amount
                FROM part
                JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON o_orderkey = l_orderkey
                JOIN nation   ON s_nationkey = n_nationkey
                WHERE p_name LIKE '%red%'
            ) profit
            GROUP BY nation, o_year
        """,
        "q_join_salted": """
            SELECT c_nationkey, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        """,
        "q_similarity_pairwise": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), q.qv)
                             / (SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[])))
                                * SQRT(LIST_DOT_PRODUCT(q.qv, q.qv))), 6) AS cosine
                FROM embeddings e, q
            ), ranked AS (
                SELECT query_id, vec_id, cosine,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, vec_id) AS rn
                FROM scored
            )
            SELECT query_id, vec_id, cosine FROM ranked WHERE rn <= 5
            ORDER BY query_id, cosine, vec_id
        """,
        "q_sink_append": """
            SELECT COUNT(*) AS n_rows FROM events
        """,
        "q_sink_partitioned": """
            SELECT YEAR(ts)::INT AS y, MONTH(ts)::INT AS m, COUNT(*) AS n_rows
            FROM events WHERE MONTH(ts) = 1
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_sink_csv": """
            SELECT YEAR(ts)::INT AS y, MONTH(ts)::INT AS m, ROUND(AVG(value), 6) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_ddl_create": """
            SELECT CAST(id AS BIGINT) AS id, name, CAST(amount AS DOUBLE) AS amount
            FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5)) t(id, name, amount)
        """,
        "q_udf_scalar": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(l_extendedprice * (1 - l_discount), 6) AS revenue
            FROM lineitem ORDER BY l_orderkey, l_linenumber
        """,
        "q_udaf_grouped": """
            SELECT l_returnflag,
                   ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS wavg_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q_lang_id": r"""
            WITH t AS (
                SELECT doc_id, lang,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), scored AS (
                SELECT doc_id, lang,
                  CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['the','and','of','to','is'], x))) AS DOUBLE) / GREATEST(LEN(toks),1) AS s_en,
                  CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['el','la','de','que','y'], x))) AS DOUBLE) / GREATEST(LEN(toks),1) AS s_es,
                  CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['le','la','et','les','des'], x))) AS DOUBLE) / GREATEST(LEN(toks),1) AS s_fr,
                  CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['der','die','und','das','nicht'], x))) AS DOUBLE) / GREATEST(LEN(toks),1) AS s_de,
                  CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS(['的','是','了','在','我'], x))) AS DOUBLE) / GREATEST(LEN(toks),1) AS s_zh
                FROM t
            ), pred AS (
                SELECT doc_id, lang, u.s.lang_name AS lang_pred,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY u.s.score DESC, u.s.lang_name DESC) AS rn
                FROM scored, UNNEST([
                    {'score': s_en, 'lang_name': 'en'},
                    {'score': s_es, 'lang_name': 'es'},
                    {'score': s_fr, 'lang_name': 'fr'},
                    {'score': s_de, 'lang_name': 'de'},
                    {'score': s_zh, 'lang_name': 'zh'}]) AS u(s)
            )
            SELECT lang, lang_pred, COUNT(*) AS n_docs
            FROM pred WHERE rn = 1 GROUP BY lang, lang_pred ORDER BY lang, lang_pred
        """,
        "q_dedup_ngram_jaccard": r"""
            WITH t AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
                FROM t WHERE LEN(toks) >= 3
            ), shx AS (
                SELECT doc_id, UNNEST(sh) AS sg FROM sh
            ), sizes AS (
                SELECT doc_id, LEN(sh) AS n FROM sh
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
            FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.8
            ORDER BY id_a, id_b
        """,
        "q_text_quality": r"""
            WITH t AS (
                SELECT doc_id, text,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   CAST(LEN(toks) AS INT) AS n_tokens,
                   ROUND(CAST(LENGTH(text)
                              - LENGTH(REGEXP_REPLACE(text, '[^\w\s]', '', 'g')) AS DOUBLE)
                         / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
                   ROUND(CAST(LEN(LIST_FILTER(toks,
                              x -> LIST_CONTAINS(['the','a','of','and','to','in'], x)))
                              AS DOUBLE)
                         / GREATEST(LEN(toks), 1), 6) AS stopword_ratio,
                   ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                         / GREATEST(LENGTH(text), 1), 6) AS alpha_ratio
            FROM t ORDER BY doc_id
        """,
        "q_incremental_agg": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value,
                   ROUND(SUM(value) / COUNT(*), 6) AS avg_value
            FROM events GROUP BY 1
        """,
        "q_grouped_map": """
            WITH s AS (
                SELECT event_id, user_id, value,
                       AVG(value) OVER (PARTITION BY user_id) AS m,
                       STDDEV_SAMP(value) OVER (PARTITION BY user_id) AS sd
                FROM events
            )
            SELECT event_id, user_id,
                   CASE WHEN sd > 0 THEN ROUND((value - m) / sd, 6) END AS z
            FROM s
        """,
        "q_rollup_time": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
                   CAST(grouping(date_trunc('hour', ts)) AS INT) AS g_hour,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events
            GROUP BY GROUPING SETS ((date_trunc('day', ts)),
                                    (date_trunc('day', ts), date_trunc('hour', ts)))
        """,
        "q_join_full_outer": """
            WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
                 s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
            SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
                   COALESCE(n_cust, 0) AS n_cust,
                   COALESCE(n_supp, 0) AS n_supp
            FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        """,
        "q_set_ops_all": """
            WITH c AS (SELECT c_nationkey AS nationkey FROM customer),
                 s AS (SELECT s_nationkey AS nationkey FROM supplier),
            tagged AS (
                SELECT 'union_all' AS op, nationkey FROM (SELECT * FROM c UNION ALL SELECT * FROM s)
                UNION ALL
                SELECT 'intersect_all' AS op, nationkey FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM s)
                UNION ALL
                SELECT 'except_all' AS op, nationkey FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM s)
            )
            SELECT op, nationkey, COUNT(*) AS n FROM tagged GROUP BY op, nationkey
        """,
        "q_string_funcs2": """
            SELECT p_partkey,
                   LPAD(p_brand, 12, '*') AS brand_lpad,
                   RPAD(p_brand, 12, '.') AS brand_rpad,
                   REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
                   REPEAT('ab', 3) AS rep,
                   REVERSE(p_brand) AS brand_rev,
                   SUBSTRING(p_name, 1, 3) AS name_left3
            FROM part
        """,
        "q_date_extract2": """
            SELECT o_orderkey,
                   CAST(QUARTER(o_orderdate) AS INT) AS q,
                   CAST(WEEKOFYEAR(o_orderdate) AS INT) AS iso_week,
                   CAST(DAYOFWEEK(o_orderdate) + 1 AS INT) AS dow1,
                   CAST(LAST_DAY(o_orderdate) AS DATE) AS month_end,
                   CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2mo
            FROM orders
        """,
        "q_window_time_range": """
            SELECT event_id, user_id,
                   ROUND(AVG(value) OVER w, 6) AS avg_1h,
                   COUNT(*) OVER w AS n_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "q_funnel": """
            WITH per_user AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                       MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                       MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
                FROM events GROUP BY user_id
            )
            SELECT
                CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
                CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                               AND t_purchase > t_click
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after
            FROM per_user
        """,
        "q_join_bucketed": """
            SELECT o_orderstatus, COUNT(*) AS n_lines,
                   ROUND(SUM(l_quantity), 4) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus
        """,
        "q_sink_json": """
            SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY event_type
        """,
        "q_sink_orc": """
            SELECT l_returnflag, ROUND(SUM(l_quantity), 4) AS sum_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_vector_centroid": """
            SELECT label, CAST(pos AS BIGINT) AS pos,
                   ROUND(AVG(CAST(embedding[pos] AS DOUBLE)), 6) AS mean_val
            FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(pos)
            GROUP BY label, pos
        """,
        "q_vector_norms": """
            SELECT vec_id,
                   ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
            FROM embeddings
        """,
        "q_stream_static_join": """
            SELECT c_nationkey, COUNT(*) AS n_events
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_nationkey
        """,
        "q_text_tfidf": r"""
            WITH toks AS (
                SELECT doc_id,
                       UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                          t -> t <> '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            ), n AS (
                SELECT COUNT(*) AS n_docs FROM documents
            ), scored AS (
                SELECT tf.doc_id, tf.term,
                       ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tfidf FROM (
                SELECT doc_id, term, tfidf,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term ASC) AS rn
                FROM scored
            ) WHERE rn <= 5
        """,
        "q_text_bigrams": r"""
            WITH t AS (
                SELECT LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), b AS (
                SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM t WHERE LEN(toks) >= 2
            )
            SELECT bigram, COUNT(*) AS cnt FROM b GROUP BY bigram
        """,
        "q_window_first_last": """
            SELECT o_orderkey, o_orderstatus,
                   first_value(o_orderkey) OVER w AS first_key,
                   last_value(o_orderkey) OVER w AS last_key,
                   nth_value(o_orderkey, 2) OVER w AS second_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "q_agg_collect_list": """
            SELECT c_nationkey,
                   CAST(to_json(LIST_SORT(LIST(c_custkey))) AS VARCHAR) AS custkeys_json,
                   COUNT(*) AS n_cust
            FROM customer GROUP BY c_nationkey
        """,
        # round 4: semantic oracle — fingerprint groups ≡ exact-content
        # groups (proves the hash partitions like full-text equality
        # without the oracle needing xxhash64)
        "q_text_fingerprint": """
            SELECT MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
            FROM documents GROUP BY text ORDER BY first_doc
        """,
        "q_dedup_simhash": _simhash_oracle(60),
        # round 4: discovery must surface exactly the canonical catalog —
        # a golden-expectation twin (the filesystem itself has no SQL
        # view; listing mechanics are pytest-covered)
        "q_source_discovery": """
            SELECT UNNEST(['customer', 'documents', 'embeddings', 'events',
                           'lineitem', 'nation', 'orders', 'part',
                           'region', 'supplier']) AS table_name
            ORDER BY table_name
        """,
        # round 4: single-pass column profiler over int/string/date
        # columns (string rendering of min/max is engine-identical there)
        "q_dq_profile": """
            WITH stats AS (
                SELECT 'l_orderkey' AS "column", COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                       COUNT(DISTINCT l_orderkey) AS n_distinct,
                       CAST(MIN(l_orderkey) AS VARCHAR) AS min_s, CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
                FROM lineitem
                UNION ALL
                SELECT 'l_linenumber', COUNT(*),
                       CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                       COUNT(DISTINCT l_linenumber),
                       CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR)
                FROM lineitem
                UNION ALL
                SELECT 'l_returnflag', COUNT(*),
                       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                       COUNT(DISTINCT l_returnflag),
                       MIN(l_returnflag), MAX(l_returnflag)
                FROM lineitem
                UNION ALL
                SELECT 'l_linestatus', COUNT(*),
                       CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                       COUNT(DISTINCT l_linestatus),
                       MIN(l_linestatus), MAX(l_linestatus)
                FROM lineitem
                UNION ALL
                SELECT 'l_shipdate', COUNT(*),
                       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                       COUNT(DISTINCT l_shipdate),
                       CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
                FROM lineitem
            )
            SELECT * FROM stats ORDER BY "column"
        """,
        # round 4: one-commit MERGE — latest totals reflect the doubled
        # %10 rows, v1 keeps the pre-merge totals
        "q_merge_versioned": """
            SELECT 'latest' AS snapshot, COUNT(*) AS n_rows,
                   ROUND(SUM(CASE WHEN event_id % 10 = 0
                                  THEN ROUND(value * 2, 6) ELSE value END), 4) AS sum_value
            FROM events
            UNION ALL
            SELECT 'v1', COUNT(*), ROUND(SUM(value), 4)
            FROM events
            ORDER BY snapshot
        """,
        # round 4: COW delete — latest snapshot has zero clicks, v1 keeps
        # the full pre-delete row set
        "q_delete_where": """
            SELECT 'latest' AS snapshot,
                   CAST(SUM(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS n_clicks,
                   TRUE AS version_ok
            FROM events
            UNION ALL
            SELECT 'v1', COUNT(*),
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT),
                   TRUE
            FROM events
            ORDER BY snapshot
        """,
        # round 4: merged-schema read — the late column is NULL for every
        # early-batch row and sums correctly for the late batch
        "q_schema_evolution": """
            SELECT 1 AS batch,
                   CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
                   0.0::DOUBLE AS sum_value
            FROM events
            UNION ALL
            SELECT 2,
                   CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN event_id % 2 = 1 AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   ROUND(SUM(CASE WHEN event_id % 2 = 1 THEN value ELSE 0 END), 4)
            FROM events
            ORDER BY batch
        """,
        # round 5: vacuum — latest snapshot (post-delete) survives intact,
        # history manifests/dirs reclaimed, old versions unreadable
        "q_vacuum": """
            SELECT CAST(SUM(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                   ROUND(SUM(CASE WHEN event_type <> 'click' THEN value ELSE 0 END), 4) AS sum_value,
                   TRUE AS reclaimed,
                   TRUE AS window_is_latest,
                   TRUE AS old_version_unreadable
            FROM events
        """,
        # round 4/5 (re-routed r12 through optimize_versioned):
        # compaction round-trip — data survives byte-identically, the
        # file count shrinks (invariant, not an exact count: the dataset
        # size may cross the 128 MB target between rounds), and the
        # pre-compaction version stays time-travel-readable
        "q_compact": """
            SELECT TRUE AS many_files_before,
                   TRUE AS compacted,
                   TRUE AS history_preserved,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events WHERE event_id % 3 = 0
        """,
        # round 4: exact-k-per-group sample — oracle replays the salted
        # md5 rank, proving exact membership
        "q_sample_per_group": """
            WITH ranked AS (
                SELECT lang, doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY CAST(CONCAT('0x', SUBSTR(md5(CONCAT('v1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) ASC,
                                    doc_id ASC
                       ) AS rk
                FROM documents
            )
            SELECT lang, doc_id FROM ranked WHERE rk <= 20
            ORDER BY lang, doc_id
        """,
        # round 4: salted portable-hash split — replaying the md5 draw
        # proves per-row assignment via the id_checksum column
        "q_stable_split": """
            SELECT lang,
                   CASE WHEN CAST(CONCAT('0x', SUBSTR(md5(CONCAT('v1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 10
                        THEN 'holdout' ELSE 'train' END AS split,
                   COUNT(*) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS id_checksum
            FROM documents
            GROUP BY 1, 2 ORDER BY lang, split
        """,
        # round 4: BPE pair counting — words dedup to a frequency table
        # first, pairs explode over the vocabulary (max token length in
        # the corpus is 8; the series bound of 31 is safely above it)
        "q_bpe_pairs": r"""
            WITH w AS (
                SELECT w, COUNT(*) AS wc FROM (
                    SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+')) AS w
                    FROM documents
                ) GROUP BY w HAVING LENGTH(w) >= 2
            ), p AS (
                SELECT SUBSTR(w.w, g.g, 2) AS pair, w.wc
                FROM w, GENERATE_SERIES(1, 31) AS g(g)
                WHERE g.g <= LENGTH(w.w) - 1
            )
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
            FROM p GROUP BY pair
            ORDER BY pair_count DESC, pair ASC LIMIT 50
        """,
        # round 4: time travel AS OF v0 == exactly the first-fortnight
        # batch, once (retry-deduped, immune to the later v1 commit)
        "q_time_travel": """
            SELECT CAST(DAY(ts) AS INT) AS d,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events WHERE DAY(ts) <= 15
            GROUP BY DAY(ts) ORDER BY d
        """,
        # round 6: suffix-array-analog span dedup — same gram SQL as
        # q_decontaminate, df-counted then joined back per doc
        "q_dedup_span": r"""
            WITH toks AS (
                SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                   x -> x <> '') AS t
                FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                                || ' ' || t[i + 3] || ' ' || t[i + 4])) AS gram
                FROM toks WHERE LEN(t) >= 5
            ), dfreq AS (
                SELECT gram, COUNT(*) AS nd FROM grams GROUP BY gram
            )
            SELECT g.doc_id,
                   COUNT(*)::INT AS n_spans,
                   SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)::INT AS n_dup_spans,
                   ROUND(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                         / COUNT(*), 6) AS dup_fraction,
                   (SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                    / COUNT(*)) < 0.5 AS keep
            FROM grams g JOIN dfreq d USING (gram)
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        # round 6: temperature mixture — integer micro-unit normalizer,
        # SQRT (not POWER) so both engines round the identical double
        "q_domain_mixture": r"""
            WITH d AS (
                SELECT source AS domain, COUNT(*)::BIGINT AS n_docs,
                       SUM(LEN(LIST_FILTER(
                           STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                           x -> x <> '')))::BIGINT AS n_tokens
                FROM documents GROUP BY source
            ), s AS (
                SELECT domain, n_docs, n_tokens,
                       CAST(ROUND(SQRT(n_tokens::DOUBLE) * 1e6, 0) AS BIGINT) AS w
                FROM d
            ), t AS (
                SELECT SUM(n_tokens)::BIGINT AS tot, SUM(w)::BIGINT AS z FROM s
            )
            SELECT domain, n_docs, n_tokens,
                   ROUND(n_tokens::DOUBLE / tot, 6) AS token_share,
                   ROUND(w::DOUBLE / z, 6) AS weight,
                   ROUND((w::DOUBLE / z) / (n_tokens::DOUBLE / tot), 6) AS oversample
            FROM s CROSS JOIN t ORDER BY domain
        """,
        # round 6: per-cell PMI / MI contributions — exact integer
        # counts, identical double expression tree in both engines
        "q_mutual_info": """
            WITH joint AS (
                SELECT lang AS x, source AS y, COUNT(*)::BIGINT AS n_xy
                FROM documents GROUP BY 1, 2
            ), mx AS (
                SELECT x, SUM(n_xy)::BIGINT AS n_x FROM joint GROUP BY x
            ), my AS (
                SELECT y, SUM(n_xy)::BIGINT AS n_y FROM joint GROUP BY y
            ), t AS (
                SELECT SUM(n_xy)::BIGINT AS n FROM joint
            )
            SELECT j.x, j.y, j.n_xy, mx.n_x, my.n_y, t.n,
                   ROUND(LN(j.n_xy::DOUBLE * t.n / (mx.n_x::DOUBLE * my.n_y)), 6)
                       AS pmi,
                   ROUND((j.n_xy::DOUBLE / t.n)
                         * LN(j.n_xy::DOUBLE * t.n / (mx.n_x::DOUBLE * my.n_y)), 9)
                       AS mi_contrib
            FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
            ORDER BY x, y
        """,
        # round 6: two-sample KS over per-distinct-value counts — the
        # running sums are exact integers, so the ECDF doubles match
        "q_ks_test": """
            WITH f AS (
                SELECT value AS v,
                       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
                FROM events
                WHERE event_type IN ('click', 'error') AND value IS NOT NULL
            ), pv AS (
                SELECT v, SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
                FROM f GROUP BY v
            ), t AS (
                SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM pv
            ), e AS (
                SELECT t.na, t.nb,
                       CAST(SUM(ca) OVER w AS DOUBLE) / t.na
                       - CAST(SUM(cb) OVER w AS DOUBLE) / t.nb AS d
                FROM pv CROSS JOIN t
                WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)
            )
            SELECT na AS n_a, nb AS n_b,
                   ROUND(MAX(ABS(d)), 6) AS ks_stat,
                   ROUND(SQRT((na + nb)::DOUBLE / (na * nb)) * 1.358, 6)
                       AS ks_critical,
                   ROUND(MAX(ABS(d)), 6)
                   > ROUND(SQRT((na + nb)::DOUBLE / (na * nb)) * 1.358, 6) AS reject
            FROM e GROUP BY na, nb
        """,
        # round 6: INDEPENDENT oracle — plain COUNT(DISTINCT) at both
        # grains; a hash match proves the bitmap algebra itself
        "q_bitmap_rollup": """
            WITH per_day AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                       COUNT(DISTINCT user_id) AS sub_distinct
                FROM events GROUP BY 1, 2
            ), per_type AS (
                SELECT event_type,
                       COUNT(DISTINCT user_id)::BIGINT AS distinct_total
                FROM events GROUP BY 1
            ), s AS (
                SELECT event_type, COUNT(*)::INT AS n_subs,
                       SUM(sub_distinct)::BIGINT AS sum_sub_distinct
                FROM per_day GROUP BY event_type
            )
            SELECT s.event_type, s.n_subs, s.sum_sub_distinct, p.distinct_total,
                   ROUND(s.sum_sub_distinct::DOUBLE / s.n_subs, 6)
                       AS avg_sub_distinct
            FROM s JOIN per_type p USING (event_type)
            ORDER BY s.event_type
        """,
        # round 6: multi-touch decay attribution — integer micro-unit
        # weights/shares, replayed verbatim
        "q_attribution_decay": """
            WITH conv AS (
                SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
                FROM events WHERE event_type = 'purchase'
            ), j AS (
                SELECT c.c_id, t.event_type AS t_type,
                       1000000 // (1 + (EPOCH_US(c.c_ts) - EPOCH_US(t.ts)) // 86400000000)
                           AS w_micro
                FROM conv c JOIN events t
                  ON t.user_id = c.c_user
                 AND t.ts < c.c_ts
                 AND EPOCH_US(c.c_ts) - EPOCH_US(t.ts) <= 604800000000
            ), tot AS (
                SELECT c_id, SUM(w_micro) AS tot_micro FROM j GROUP BY c_id
            ), share AS (
                SELECT j.c_id, j.t_type,
                       CAST(ROUND(j.w_micro * 1000000.0 / tot.tot_micro, 0) AS BIGINT)
                           AS share_micro
                FROM j JOIN tot USING (c_id)
            )
            SELECT t_type AS event_type,
                   COUNT(*)::BIGINT AS n_touches,
                   COUNT(DISTINCT c_id)::BIGINT AS n_conversions,
                   ROUND(SUM(share_micro) / 1000000.0, 6) AS credit
            FROM share GROUP BY t_type ORDER BY t_type
        """,
        # round 8: Kaplan-Meier — exact integer at-risk accounting,
        # factors ln-rounded 9 dp before the running sum (libm-ulp fence)
        "q_survival_km": r"""
            WITH mx AS (SELECT MAX(ts) AS m FROM events),
            u AS (
                SELECT user_id, MIN(ts) AS f, MAX(ts) AS l
                FROM events GROUP BY user_id
            ), obs AS (
                SELECT CAST(DATE_DIFF('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                       CASE WHEN l < m - INTERVAL 1 DAY THEN 1 ELSE 0 END AS e
                FROM u, mx
            ), cells AS (
                SELECT t, CAST(SUM(e) AS BIGINT) AS d,
                       CAST(SUM(1 - e) AS BIGINT) AS c
                FROM obs GROUP BY t
            ), stepped AS (
                SELECT t, d, c,
                       SUM(d + c) OVER ()
                       - COALESCE(SUM(d + c) OVER (
                             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS n_risk
                FROM cells
            ), lns AS (
                SELECT t, d, c, n_risk,
                       CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_risk > 0
                            THEN ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                            ELSE 0.0 END AS lnf,
                       CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_risk <= 0
                            THEN 1 ELSE 0 END AS dead
                FROM stepped
            ), runs AS (
                SELECT t, n_risk, d, c,
                       SUM(lnf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnsum,
                       MAX(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS anydead
                FROM lns
            )
            SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
                   c AS c_censored,
                   CASE WHEN anydead = 1 THEN 0.0
                        ELSE ROUND(EXP(lnsum), 6) END AS survival
            FROM runs WHERE d > 0 ORDER BY t
        """,
        # round 8: ACF — per-hour micro-sums, HUGEINT pairwise sums,
        # closed form mirrors the Spark expression tree term-for-term
        "q_acf": r"""
            WITH series AS (
                SELECT (EPOCH_US(ts) // 1000000) // 3600 AS i,
                       CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS v
                FROM events GROUP BY 1
            ), gstats AS (
                SELECT COUNT(*) AS n,
                       SUM(CAST(v AS HUGEINT)) AS sx,
                       SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS sxx
                FROM series
            ), pairs AS (
                SELECT k.k, a.v AS va, b.v AS vb
                FROM series a
                CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS k) k
                JOIN series b ON b.i = a.i + k.k
            ), per_k AS (
                SELECT k, COUNT(*) AS m,
                       SUM(CAST(va AS HUGEINT)) AS sa,
                       SUM(CAST(vb AS HUGEINT)) AS sb,
                       SUM(CAST(va AS HUGEINT) * CAST(vb AS HUGEINT)) AS sab
                FROM pairs GROUP BY k
            )
            SELECT CAST(k AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
                   CASE WHEN CAST(sxx AS DOUBLE)
                             - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) != 0
                        THEN ROUND(
                            (CAST(sab AS DOUBLE)
                             - (CAST(sx AS DOUBLE) / n)
                               * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                             + m * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                            / (CAST(sxx AS DOUBLE)
                               - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)),
                            6)
                   END AS acf
            FROM per_k, gstats ORDER BY lag
        """,
        # round 8: CUPED — exact integer sufficient stats (HUGEINT
        # second-order sums), pooled theta/xbar via full-window sums
        "q_abtest_cuped": r"""
            WITH users AS (
                SELECT user_id,
                       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                     THEN CAST(ROUND(value * 1000000, 0) AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY user_id
            ), arms AS (
                SELECT CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(user_id AS VARCHAR), CHR(31), '37')), 1, 15))
                                 AS BIGINT) % 2 AS INT) AS arm,
                       x, y
                FROM users
            ), per_arm AS (
                SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                       SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                       SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
                FROM arms GROUP BY arm
            ), pooled AS (
                SELECT *,
                       SUM(n) OVER () AS nn, SUM(sx) OVER () AS gsx,
                       SUM(sy) OVER () AS gsy, SUM(sxx) OVER () AS gsxx,
                       SUM(sxy) OVER () AS gsxy, SUM(syy) OVER () AS gsyy
                FROM per_arm
            ), terms AS (
                SELECT arm, n, sx, sy,
                       CAST(nn AS DOUBLE) * CAST(gsxy AS DOUBLE)
                       - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE) AS cov_n,
                       CAST(nn AS DOUBLE) * CAST(gsxx AS DOUBLE)
                       - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) AS varx_n,
                       CAST(nn AS DOUBLE) * CAST(gsyy AS DOUBLE)
                       - CAST(gsy AS DOUBLE) * CAST(gsy AS DOUBLE) AS vary_n,
                       CAST(gsx AS DOUBLE) / CAST(nn AS DOUBLE) AS xbar
                FROM pooled
            )
            SELECT arm, n,
                   ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean_y,
                   ROUND(CASE WHEN varx_n != 0
                              THEN (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                                    - (cov_n / varx_n)
                                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - xbar))
                                   / 1000000.0
                              ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
                         END, 6) AS mean_y_adj,
                   ROUND(CASE WHEN varx_n != 0 THEN cov_n / varx_n END / 1000000.0, 6) AS theta,
                   ROUND(CASE WHEN varx_n != 0 AND vary_n != 0
                              THEN cov_n * cov_n / (varx_n * vary_n) END, 6) AS rho2
            FROM terms ORDER BY arm
        """,
        # round 8: calibration — the shared NB chain, then exact
        # integer min-max confidence quantization + 10-bin reliability
        "q_calibration": "WITH " + _NB_CHAIN + """
            , scored AS (
                SELECT CAST(ROUND(score * 1000000, 0) AS BIGINT) AS s,
                       CAST(correct AS BIGINT) AS ok
                FROM preds
            ), bounds AS (
                SELECT MIN(s) AS mn, MAX(s) AS mx FROM scored
            ), binned AS (
                SELECT CASE WHEN mx - mn > 0
                            THEN ((s - mn) * 1000000) // (mx - mn)
                            ELSE 0 END AS cq,
                       ok
                FROM scored, bounds
            ), cells AS (
                SELECT CAST(LEAST((cq * 10) // 1000000, 9) AS INT) AS bin,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(ok) AS BIGINT) AS n_correct,
                       CAST(SUM(cq) AS BIGINT) AS sconf
                FROM binned GROUP BY 1
            ), tot AS (
                SELECT bin, n, n_correct, sconf,
                       SUM(n) OVER () AS nn,
                       SUM(ABS(CAST(n_correct AS DOUBLE) / n
                               - CAST(sconf AS DOUBLE) / n / 1000000.0) * n) OVER ()
                           AS gapsum
                FROM cells
            )
            SELECT bin, n, n_correct,
                   ROUND(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy,
                   ROUND(CAST(sconf AS DOUBLE) / n / 1000000.0, 6) AS avg_conf,
                   ROUND(gapsum / nn, 6) AS ece
            FROM tot ORDER BY bin
        """,
        # round 8: Gini — the rank identity on exact micro-unit
        # integers; HUGEINT for the rank-weighted sum
        "q_gini": r"""
            WITH rev AS (
                SELECT o_custkey,
                       CAST(SUM(CAST(ROUND(o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT) AS v
                FROM orders GROUP BY o_custkey
            ), j AS (
                SELECT c.c_nationkey, r.v, r.o_custkey
                FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
            ), ranked AS (
                SELECT c_nationkey, v,
                       ROW_NUMBER() OVER (
                           PARTITION BY c_nationkey ORDER BY v, o_custkey) AS i
                FROM j
            ), agg AS (
                SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(v AS HUGEINT)) AS s,
                       SUM(CAST(i AS HUGEINT) * CAST(v AS HUGEINT)) AS si
                FROM ranked GROUP BY c_nationkey
            )
            SELECT c_nationkey, n AS n_members,
                   CASE WHEN CAST(s AS DOUBLE) > 0 THEN
                       ROUND((2.0 * CAST(si AS DOUBLE)
                              - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)
                   END AS gini
            FROM agg ORDER BY c_nationkey
        """,
        # round 8: bounded k-core — the verified near-dup pair replay
        # (same chain as q_graph_labelprop), 3 peels unrolled
        "q_graph_kcore": r"""
            WITH s AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN LENGTH(LOWER(text)) >= 5 THEN
                           LIST_DISTINCT(LIST_TRANSFORM(
                               GENERATE_SERIES(1, LENGTH(LOWER(text)) - 4),
                               i -> SUBSTRING(LOWER(text), i, 5)))
                       ELSE CAST([] AS VARCHAR[]) END AS sh
                FROM documents
            ), shx AS MATERIALIZED (
                SELECT doc_id, UNNEST(sh) AS sg FROM s
            ), sizes AS MATERIALIZED (
                SELECT doc_id, LEN(sh) AS n FROM s
            ), cm AS MATERIALIZED (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM shx a JOIN shx b ON a.sg = b.sg AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ), prs AS MATERIALIZED (
                SELECT id_a, id_b
                FROM cm JOIN sizes sa ON sa.doc_id = id_a
                        JOIN sizes sb ON sb.doc_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8
            ), a0 AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM prs
                UNION SELECT id_b, id_a FROM prs
            ), k1 AS MATERIALIZED (
                SELECT u FROM a0 GROUP BY u HAVING COUNT(*) >= 2
            ), a1 AS MATERIALIZED (
                SELECT a.u, a.v FROM a0 a
                WHERE a.u IN (SELECT u FROM k1) AND a.v IN (SELECT u FROM k1)
            ), k2 AS MATERIALIZED (
                SELECT u FROM a1 GROUP BY u HAVING COUNT(*) >= 2
            ), a2 AS MATERIALIZED (
                SELECT a.u, a.v FROM a1 a
                WHERE a.u IN (SELECT u FROM k2) AND a.v IN (SELECT u FROM k2)
            ), k3 AS MATERIALIZED (
                SELECT u FROM a2 GROUP BY u HAVING COUNT(*) >= 2
            ), a3 AS MATERIALIZED (
                SELECT a.u, a.v FROM a2 a
                WHERE a.u IN (SELECT u FROM k3) AND a.v IN (SELECT u FROM k3)
            )
            SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM a3 GROUP BY u HAVING COUNT(*) >= 2 ORDER BY doc_id
        """,
        # round 8: MMR — pool top-20 by 6-dp cosine, 5 greedy steps
        # unrolled; lambda 0.75 so both lambda and 1-lambda are exact
        "q_mmr_diversify": r"""
            WITH qv AS (SELECT [1.0 FOR _ IN RANGE(64)]::DOUBLE[] AS q),
            pool AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
                       ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), q) /
                             (SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[])))
                              * SQRT(LIST_DOT_PRODUCT(q, q))), 6) AS rel
                FROM embeddings, qv
                ORDER BY rel DESC, vec_id LIMIT 20
            ), sims AS (
                SELECT a.id AS ca, b.id AS cb,
                       ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                             (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
                              * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS sm
                FROM pool a JOIN pool b ON a.id <> b.id
            ), s1 AS (
                SELECT id, rel, ROUND(0.75 * rel, 6) AS score
                FROM pool ORDER BY score DESC, id LIMIT 1
            ), s2 AS (
                SELECT p.id, p.rel,
                       ROUND(0.75 * p.rel - 0.25 * COALESCE(MAX(s.sm), 0.0), 6) AS score
                FROM pool p LEFT JOIN sims s
                  ON s.ca = p.id AND s.cb IN (SELECT id FROM s1)
                WHERE p.id NOT IN (SELECT id FROM s1)
                GROUP BY p.id, p.rel ORDER BY score DESC, p.id LIMIT 1
            ), sel2 AS (
                SELECT id FROM s1 UNION ALL SELECT id FROM s2
            ), s3 AS (
                SELECT p.id, p.rel,
                       ROUND(0.75 * p.rel - 0.25 * COALESCE(MAX(s.sm), 0.0), 6) AS score
                FROM pool p LEFT JOIN sims s
                  ON s.ca = p.id AND s.cb IN (SELECT id FROM sel2)
                WHERE p.id NOT IN (SELECT id FROM sel2)
                GROUP BY p.id, p.rel ORDER BY score DESC, p.id LIMIT 1
            ), sel3 AS (
                SELECT id FROM sel2 UNION ALL SELECT id FROM s3
            ), s4 AS (
                SELECT p.id, p.rel,
                       ROUND(0.75 * p.rel - 0.25 * COALESCE(MAX(s.sm), 0.0), 6) AS score
                FROM pool p LEFT JOIN sims s
                  ON s.ca = p.id AND s.cb IN (SELECT id FROM sel3)
                WHERE p.id NOT IN (SELECT id FROM sel3)
                GROUP BY p.id, p.rel ORDER BY score DESC, p.id LIMIT 1
            ), sel4 AS (
                SELECT id FROM sel3 UNION ALL SELECT id FROM s4
            ), s5 AS (
                SELECT p.id, p.rel,
                       ROUND(0.75 * p.rel - 0.25 * COALESCE(MAX(s.sm), 0.0), 6) AS score
                FROM pool p LEFT JOIN sims s
                  ON s.ca = p.id AND s.cb IN (SELECT id FROM sel4)
                WHERE p.id NOT IN (SELECT id FROM sel4)
                GROUP BY p.id, p.rel ORDER BY score DESC, p.id LIMIT 1
            )
            SELECT CAST(1 AS INT) AS rank, id, rel, score AS mmr_score FROM s1
            UNION ALL SELECT CAST(2 AS INT), id, rel, score FROM s2
            UNION ALL SELECT CAST(3 AS INT), id, rel, score FROM s3
            UNION ALL SELECT CAST(4 AS INT), id, rel, score FROM s4
            UNION ALL SELECT CAST(5 AS INT), id, rel, score FROM s5
            ORDER BY rank
        """,
        # round 8: happens-before pairs — first occurrences on exact
        # (micros, event_id) keys, matching the Spark unix_micros key
        "q_seq_pairs": r"""
            WITH firsts AS (
                SELECT user_id, event_type, ts, event_id FROM (
                    SELECT user_id, event_type, ts, event_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY user_id, event_type
                               ORDER BY EPOCH_US(ts), event_id) AS rn
                    FROM events
                ) t WHERE rn = 1
            ), tot AS (
                SELECT COUNT(DISTINCT user_id) AS n FROM events
            ), prs AS (
                SELECT a.event_type AS item_a, b.event_type AS item_b,
                       CAST(COUNT(*) AS BIGINT) AS n_entities
                FROM firsts a JOIN firsts b ON a.user_id = b.user_id
                 AND (EPOCH_US(a.ts) < EPOCH_US(b.ts)
                      OR (EPOCH_US(a.ts) = EPOCH_US(b.ts)
                          AND a.event_id < b.event_id))
                GROUP BY 1, 2
            )
            SELECT item_a, item_b, n_entities,
                   ROUND(CAST(n_entities AS DOUBLE) / n, 6) AS support
            FROM prs, tot ORDER BY item_a, item_b
        """,
        # round 8: top paths — ordered LIST truncated to the 5-step
        # prefix, '>'-joined, counted, (count DESC, path ASC) top-20
        "q_path_mining": r"""
            WITH seqs AS (
                SELECT user_id,
                       LIST_SLICE(
                           LIST(event_type ORDER BY EPOCH_US(ts), event_id),
                           1, 5) AS steps
                FROM events GROUP BY user_id
            )
            SELECT ARRAY_TO_STRING(steps, '>') AS path,
                   CAST(COUNT(*) AS BIGINT) AS n_entities,
                   CAST(LEN(steps) AS INT) AS path_len
            FROM seqs GROUP BY path, path_len
            ORDER BY n_entities DESC, path LIMIT 20
        """,
        # round 8: item-item CF — exact basket counts, cosine at 6 dp,
        # per-item (sim DESC, neighbor ASC) top-5
        "q_item_cf": r"""
            WITH bi AS (
                SELECT DISTINCT l_orderkey AS basket,
                       l_partkey % 40 AS item
                FROM lineitem
            ), ic AS (
                SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
                FROM bi GROUP BY item
            ), prs AS (
                SELECT a.item AS item_a, b.item AS item_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM bi a JOIN bi b
                  ON a.basket = b.basket AND a.item < b.item
                GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ), sym AS (
                SELECT item_a AS item, item_b AS neighbor, n_ab FROM prs
                UNION ALL
                SELECT item_b, item_a, n_ab FROM prs
            ), scored AS (
                SELECT s.item, s.neighbor, s.n_ab AS n_common,
                       ROUND(s.n_ab / SQRT(ia.n_item * ib.n_item), 6) AS sim
                FROM sym s
                JOIN ic ia ON ia.item = s.item
                JOIN ic ib ON ib.item = s.neighbor
            )
            SELECT item, neighbor, n_common, sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY item ORDER BY sim DESC, neighbor) AS rank
                FROM scored
            ) WHERE rank <= 5
            ORDER BY item, rank
        """,
        # round 8: CCF — micro-unit integer series, HUGEINT pairwise
        # sums, full-series normalization, lags -6..+6
        "q_ccf": r"""
            WITH series AS (
                SELECT (EPOCH_US(ts) // 1000000) // 3600 AS i,
                       CAST(SUM(CASE WHEN event_type = 'click'
                                     THEN 1000000 ELSE 0 END) AS BIGINT) AS x,
                       CAST(SUM(CAST(ROUND(CASE WHEN event_type = 'purchase'
                                                THEN value ELSE 0.0 END * 1000000, 0)
                                     AS BIGINT)) AS BIGINT) AS y
                FROM events GROUP BY 1
            ), gstats AS (
                SELECT COUNT(*) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                       SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
                FROM series
            ), pairs AS (
                SELECT k.k, a.x AS xa, b.y AS yb
                FROM series a
                CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(-6, 6)) AS k) k
                JOIN series b ON b.i = a.i + k.k
            ), per_k AS (
                SELECT k, COUNT(*) AS m,
                       SUM(CAST(xa AS HUGEINT)) AS sa,
                       SUM(CAST(yb AS HUGEINT)) AS sb,
                       SUM(CAST(xa AS HUGEINT) * CAST(yb AS HUGEINT)) AS sab
                FROM pairs GROUP BY k
            )
            SELECT CAST(k AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
                   CASE WHEN (CAST(sxx AS DOUBLE)
                              - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) > 0
                         AND (CAST(syy AS DOUBLE)
                              - n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) > 0
                        THEN ROUND(
                            (CAST(sab AS DOUBLE)
                             - (CAST(sx AS DOUBLE) / n) * CAST(sb AS DOUBLE)
                             - (CAST(sy AS DOUBLE) / n) * CAST(sa AS DOUBLE)
                             + m * (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                            / SQRT((CAST(sxx AS DOUBLE)
                                    - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                                   * (CAST(syy AS DOUBLE)
                                      - n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))),
                            6)
                   END AS ccf
            FROM per_k, gstats ORDER BY lag
        """,
        # round 8: Mann-Whitney U — doubled midranks on distinct-value
        # cells, tie-corrected z, exact integer reductions
        "q_mannwhitney": r"""
            WITH base AS (
                SELECT CASE WHEN event_type = 'click' THEN 'a'
                            WHEN event_type = 'purchase' THEN 'b' END AS g,
                       CAST(ROUND(value * 1000000, 0) AS BIGINT) AS v
                FROM events
                WHERE event_type IN ('click', 'purchase')
            ), cells AS (
                SELECT v,
                       CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
                       CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS tb
                FROM base GROUP BY v
            ), ranked AS (
                SELECT *,
                       COALESCE(SUM(ta + tb) OVER (
                           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cum_before
                FROM cells
            ), stats AS (
                SELECT CAST(SUM(ta) AS BIGINT) AS na,
                       CAST(SUM(tb) AS BIGINT) AS nb,
                       CAST(SUM(ta * (2 * cum_before + ta + tb + 1)) AS BIGINT) AS ra2,
                       SUM(CAST((ta + tb) * (ta + tb) * (ta + tb) - (ta + tb)
                                AS HUGEINT)) AS tie_sum
                FROM ranked
            ), terms AS (
                SELECT na, nb,
                       CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
                       CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS nd,
                       CAST(ra2 AS DOUBLE) / 2.0
                       - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0 AS ua,
                       CAST(tie_sum AS DOUBLE) AS ties
                FROM stats
            )
            SELECT na AS n_a, nb AS n_b,
                   ROUND(ua, 1) AS u_a,
                   ROUND(nad * nbd - ua, 1) AS u_b,
                   CASE WHEN (nad * nbd / 12.0)
                             * ((nd + 1.0) - ties / (nd * (nd - 1.0))) > 0
                        THEN ROUND((ua - nad * nbd / 2.0)
                                   / SQRT((nad * nbd / 12.0)
                                          * ((nd + 1.0) - ties / (nd * (nd - 1.0)))),
                                   6)
                   END AS z
            FROM terms
        """,
        # round 8: log-rank — KM cell windows for both cohorts,
        # micro-quantized expectation/variance terms before the sums
        "q_survival_logrank": r"""
            WITH mx AS (SELECT MAX(ts) AS m FROM events),
            u AS (
                SELECT user_id, MIN(ts) AS f, MAX(ts) AS l
                FROM events GROUP BY user_id
            ), obs AS (
                SELECT CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(user_id AS VARCHAR), CHR(31), '41')), 1, 15))
                                 AS BIGINT) % 2 AS INT) AS g,
                       CAST(DATE_DIFF('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                       CASE WHEN l < m - INTERVAL 1 DAY THEN 1 ELSE 0 END AS e
                FROM u, mx
            ), cells AS (
                SELECT t,
                       CAST(SUM(CASE WHEN g = 0 THEN e ELSE 0 END) AS BIGINT) AS d1,
                       CAST(SUM(CASE WHEN g = 0 THEN 1 - e ELSE 0 END) AS BIGINT) AS c1,
                       CAST(SUM(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT) AS d2,
                       CAST(SUM(CASE WHEN g = 1 THEN 1 - e ELSE 0 END) AS BIGINT) AS c2
                FROM obs GROUP BY t
            ), stepped AS (
                SELECT t, d1, d2,
                       SUM(d1 + c1) OVER ()
                       - COALESCE(SUM(d1 + c1) OVER (
                             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
                       SUM(d2 + c2) OVER ()
                       - COALESCE(SUM(d2 + c2) OVER (
                             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2,
                       SUM(d1 + c1) OVER () AS na,
                       SUM(d2 + c2) OVER () AS nb
                FROM cells
            ), terms AS (
                SELECT d1, na, nb,
                       CAST(ROUND((d1 + d2) * n1 / (n1 + n2) * 1000000, 0) AS BIGINT) AS e1_micro,
                       CAST(ROUND(CASE WHEN (n1 + n2) > 1
                                       THEN (d1 + d2) * (n1 / (n1 + n2))
                                            * (1.0 - n1 / (n1 + n2))
                                            * ((n1 + n2) - (d1 + d2))
                                            / ((n1 + n2) - 1.0)
                                       ELSE 0.0 END * 1000000, 0) AS BIGINT) AS v_micro
                FROM stepped WHERE d1 + d2 > 0
            ), agg_row AS (
                SELECT CAST(MAX(na) AS BIGINT) AS n_a,
                       CAST(MAX(nb) AS BIGINT) AS n_b,
                       CAST(SUM(d1) AS BIGINT) AS o_a,
                       CAST(SUM(e1_micro) AS BIGINT) AS ea_micro,
                       CAST(SUM(v_micro) AS BIGINT) AS v_sum_micro
                FROM terms
            )
            SELECT n_a, n_b, o_a,
                   ROUND(ea_micro / 1e6, 6) AS e_a,
                   CASE WHEN v_sum_micro > 0
                        THEN ROUND((o_a - ea_micro / 1e6) * (o_a - ea_micro / 1e6)
                                   / (v_sum_micro / 1e6), 6)
                   END AS chi2
            FROM agg_row
        """,
        # round 8: Spearman — doubled midranks per variable on the
        # hour-grain series, Pearson closed form on HUGEINT sums
        "q_spearman": r"""
            WITH series AS (
                SELECT (EPOCH_US(ts) // 1000000) // 3600 AS i,
                       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                     THEN CAST(ROUND(value * 1000000, 0) AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY 1
            ), xc AS (
                SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM series GROUP BY x
            ), xr AS (
                SELECT x,
                       2 * COALESCE(SUM(t) OVER (
                           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + t + 1 AS r_x
                FROM xc
            ), yc AS (
                SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM series GROUP BY y
            ), yr AS (
                SELECT y,
                       2 * COALESCE(SUM(t) OVER (
                           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + t + 1 AS r_y
                FROM yc
            ), ranked AS (
                SELECT r_x, r_y FROM series JOIN xr USING (x) JOIN yr USING (y)
            ), stats AS (
                SELECT COUNT(*) AS n,
                       SUM(CAST(r_x AS HUGEINT)) AS sx,
                       SUM(CAST(r_y AS HUGEINT)) AS sy,
                       SUM(CAST(r_x AS HUGEINT) * CAST(r_x AS HUGEINT)) AS sxx,
                       SUM(CAST(r_x AS HUGEINT) * CAST(r_y AS HUGEINT)) AS sxy,
                       SUM(CAST(r_y AS HUGEINT) * CAST(r_y AS HUGEINT)) AS syy
                FROM ranked
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                        THEN ROUND(
                            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                            6)
                   END AS rho
            FROM stats
        """,
        # round 8: neighbor Jaccard over the item co-occurrence graph
        "q_graph_jaccard": r"""
            WITH bi AS (
                SELECT DISTINCT l_orderkey AS basket, l_partkey % 40 AS item
                FROM lineitem
            ), prs AS (
                SELECT a.item AS ia, b.item AS ib
                FROM bi a JOIN bi b
                  ON a.basket = b.basket AND a.item < b.item
                GROUP BY 1, 2 HAVING COUNT(*) >= 5
            ), sym AS (
                SELECT ia AS u, ib AS v FROM prs
                UNION SELECT ib, ia FROM prs
            ), deg AS (
                SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
            ), common AS (
                SELECT a.u AS na, b.u AS nb, CAST(COUNT(*) AS BIGINT) AS n_common
                FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
                GROUP BY 1, 2
            )
            SELECT c.na AS node_a, c.nb AS node_b, c.n_common,
                   ROUND(c.n_common / (da.d + db.d - c.n_common), 6) AS jaccard
            FROM common c
            JOIN deg da ON da.u = c.na
            JOIN deg db ON db.u = c.nb
            WHERE c.n_common >= 1
            ORDER BY node_a, node_b
        """,
        # round 8: SRM — chi2 goodness-of-fit vs the designed 50/50,
        # micro-quantized per-arm contributions before the sum
        "q_abtest_srm": r"""
            WITH users AS (
                SELECT DISTINCT user_id FROM events
            ), arms AS (
                SELECT CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(user_id AS VARCHAR), CHR(31), '37')), 1, 15))
                                 AS BIGINT) % 2 AS VARCHAR) AS category
                FROM users
            ), cells AS (
                SELECT category, CAST(COUNT(*) AS BIGINT) AS observed
                FROM arms GROUP BY category
            ), tot AS (
                SELECT CAST(SUM(observed) AS BIGINT) AS nn FROM cells
            ), per AS (
                SELECT category, observed,
                       CAST(nn AS DOUBLE) * 0.5 AS e
                FROM cells, tot
            )
            SELECT category, observed,
                   ROUND(e, 6) AS expected,
                   ROUND((observed - e) * (observed - e) / e, 6) AS contrib,
                   ROUND(SUM(CAST(ROUND((observed - e) * (observed - e) / e * 1000000, 0)
                                  AS BIGINT)) OVER () / 1e6, 6) AS chi2,
                   CAST(COUNT(*) OVER () - 1 AS INT) AS dof
            FROM per ORDER BY category
        """,
        # round 8: DID — 4-cell exact sufficient stats, fixed double tree
        "q_abtest_did": r"""
            WITH up AS (
                SELECT user_id,
                       CASE WHEN EXTRACT(day FROM ts) >= 16
                            THEN 'post' ELSE 'pre' END AS period,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                     THEN CAST(ROUND(value * 1000000, 0) AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY 1, 2
            ), obs AS (
                SELECT CASE WHEN CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(user_id AS VARCHAR), CHR(31), '43')), 1, 15))
                                 AS BIGINT) % 2 = 1
                            THEN 'treat' ELSE 'ctrl' END AS grp,
                       period, y
                FROM up
            ), cells AS (
                SELECT grp, period, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(y AS HUGEINT)) AS sy
                FROM obs GROUP BY 1, 2
            ), m AS (
                SELECT grp, period, n,
                       CAST(sy AS DOUBLE) / n / 1000000.0 AS mean
                FROM cells
            ), pv AS (
                SELECT MAX(CASE WHEN grp = 'treat' AND period = 'post' THEN mean END) AS tp,
                       MAX(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean END) AS tr,
                       MAX(CASE WHEN grp = 'ctrl' AND period = 'post' THEN mean END) AS cp,
                       MAX(CASE WHEN grp = 'ctrl' AND period = 'pre' THEN mean END) AS cr
                FROM m
            )
            SELECT grp, period, n, ROUND(mean, 6) AS mean_y,
                   ROUND(tp - tr, 6) AS treat_delta,
                   ROUND(cp - cr, 6) AS ctrl_delta,
                   ROUND((tp - tr) - (cp - cr), 6) AS did
            FROM m, pv ORDER BY grp, period
        """,
    }


if __name__ == "__main__":
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark()
    entry(spark).show()

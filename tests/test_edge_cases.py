"""Edge-case robustness: empty relations, all-NULL columns, single-row
groups — the degenerate shapes every operator must survive (reference
edge: an empty month file, SURVEY.md §5.2)."""

from pyspark.sql import functions as F

from nyc_tlc_trip_data_pipelines_spark.catalog import load_table
from nyc_tlc_trip_data_pipelines_spark.operators import joins as J
from nyc_tlc_trip_data_pipelines_spark.operators import text as TX
from nyc_tlc_trip_data_pipelines_spark.operators import windows as W


def _empty_lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").filter(F.lit(False))


def test_agg_on_empty(spark, sf_dir):
    e = _empty_lineitem(spark, sf_dir)
    out = e.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    assert out == []
    # global agg on empty: one row, NULL sum, 0 count
    row = e.agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert row.s is None and row.n == 0


def test_join_with_empty_side(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    e = _empty_lineitem(spark, sf_dir).select(F.col("l_orderkey").alias("k"))
    assert li.join(e, li.l_orderkey == e.k).count() == 0
    assert li.join(F.broadcast(e), li.l_orderkey == e.k, "left").count() == li.count()
    assert J.anti_join(li, e, li.l_orderkey == e.k).count() == li.count()


def test_window_on_empty(spark, sf_dir):
    e = _empty_lineitem(spark, sf_dir)
    out = W.top_n_per_group(e, ["l_returnflag"], [F.col("l_quantity").desc()], n=3)
    assert out.count() == 0


def test_minhash_on_empty_and_blank_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real content here with several words")],
        "doc_id long, text string",
    )
    # empty/whitespace docs produce no shingles → no signature rows, no crash
    sigs = TX.minhash_signatures(df, num_hashes=8)
    ids = {r.doc_id for r in sigs.collect()}
    assert 3 in ids and 1 not in ids
    pairs = TX.minhash_verified_pairs(df, num_hashes=8, bands=4, threshold=0.1)
    assert pairs.count() == 0


def test_tokenize_null_text(spark):
    df = spark.createDataFrame([(None,), ("a b",)], "text string")
    out = df.select(TX.tokenize("text").alias("t")).collect()
    vals = [r.t for r in out]
    assert ["a", "b"] in vals
    # NULL text → NULL token array (not a crash)
    assert None in vals


def test_quality_score_on_empty_text(spark):
    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    row = TX.quality_score(df).collect()[0]
    assert row.n_tokens == 0
    assert row.punct_ratio == 0.0

"""Trained quality classifier (operators/quality.py): held-out accuracy,
DuckDB-oracle equality, degenerate inputs."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ENTRY
from tilecloud_chain_spark.operators import quality as Q


@pytest.fixture(scope="module")
def profiles(spark):
    train = spark.createDataFrame(Q.DEMO_QUALITY_TRAIN, "label string, text string")
    return Q.train_quality_profiles(train, top_k=400).cache()


#: held-out set — none of these sentences appear in DEMO_QUALITY_TRAIN
HELD_OUT = [
    (1, "good", "the scientists measured the glacier every spring and compared the data with older records from the archive"),
    (2, "good", "the teacher asked the class to summarize the chapter and discuss the argument in small groups"),
    (3, "good", "after the storm the crew repaired the roof and the neighbors helped clear the fallen branches"),
    (4, "good", "the committee published a detailed report describing how the water quality improved over five years"),
    (5, "good", "a careful reading of the letters shows that the two writers disagreed about the purpose of the journey"),
    (6, "bad", "buy cheap pills click now free bonus casino win big jackpot click subscribe now"),
    (7, "bad", "menu home login register footer copyright privacy terms contact about search"),
    (8, "bad", "download free crack serial keygen download now fast free download best download"),
    (9, "bad", "win win win free prize click here subscribe win amazing free prize now"),
    (10, "bad", "page 1 2 3 next previous first last page 4 5 6"),
]


def test_quality_held_out_accuracy(spark, profiles):
    df = spark.createDataFrame(
        [(i, t) for i, _, t in HELD_OUT], "doc_id long, text string"
    )
    got = {r.doc_id: r.label for r in Q.quality_classify_udf(df, profiles).collect()}
    want = {i: lab for i, lab, _ in HELD_OUT}
    acc = sum(got[i] == want[i] for i in want) / len(want)
    assert acc == 1.0, (got, want)


def test_quality_udf_twin_equal(spark, profiles, sf_dir, duck_rows):
    """The Arrow scorer equals its SQL twin — the DuckDB oracle, which
    retrains the profiles and rescores in SQL — on real documents plus
    degenerate rows (empty text, one token, tab/newline/CRLF whitespace,
    an ideographic space, which the regex backslash-s does not split)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).orderBy("doc_id").limit(120)
    rows = [tuple(r) for r in docs.collect()] + [
        (9000001, ""), (9000002, "word"), (9000003, "a\tb\nc  d"),
        (9000004, "  leading and trailing  "), (9000005, "click\r\nhere now"),
        (9000006, "   "), (9000007, "buy\u3000now cheap deals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.label, round(r.score, 6))
           for r in Q.quality_classify_udf(df, profiles).collect()}
    want = {(i, lab, round(sc, 6))
            for i, lab, sc in duck_rows(rows, ENTRY._quality_sql(), "documents")}
    assert got == want, sorted(got ^ want)[:10]


def test_quality_empty_doc_is_und(spark, profiles):
    df = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    got = {r.doc_id: (r.label, r.score)
           for r in Q.quality_classify_udf(df, profiles).collect()}
    assert got == {1: ("und", 0.0), 2: ("und", 0.0)}


def test_quality_features_shape(spark):
    df = spark.createDataFrame([(1, "Alpha beta gamma")], "id long, text string")
    feats = df.select(Q.features(F.col("text")).alias("f")).collect()[0].f
    assert feats == ["alpha", "beta", "gamma", "alpha_beta", "beta_gamma"]

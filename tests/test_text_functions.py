"""Text-analysis function tests with hand-computed expectations."""

import pandas as pd
from pyspark.sql import functions as F

from wdedup_spark.functions import text as tx


def _one(spark, text):
    return spark.createDataFrame(pd.DataFrame({"text": [text]}))


def test_token_count_and_whitespace(spark):
    df = _one(spark, "  the  quick\tbrown\nfox  ")
    row = df.select(
        tx.token_count("text").alias("n"),
        tx.char_count("text").alias("c"),
    ).collect()[0]
    assert row["n"] == 4
    assert row["c"] == 24  # char_count keeps the whitespace


def test_empty_text(spark):
    df = _one(spark, "")
    row = df.select(
        tx.token_count("text").alias("n"),
        tx.distinct_token_ratio("text").alias("dr"),
        tx.quality_score("text").alias("q"),
        tx.lang_id("text").alias("lang"),
    ).collect()[0]
    assert row["n"] == 0 and row["dr"] == 1.0 and row["q"] == 0.5
    assert row["lang"] == "und"


def test_stopword_ratio_and_lang_id(spark):
    df = _one(spark, "the cat of the house is in the garden")
    row = df.select(
        (tx.lang_scores("text")["en"] / tx.token_count("text")).alias("swr"),
        tx.lang_id("text").alias("lang"),
    ).collect()[0]
    # stopwords: the, of, the, is, in, the → 6/9
    assert abs(row["swr"] - 6 / 9) < 1e-9
    assert row["lang"] == "en"
    de = _one(spark, "der hund und die katze ist von den bergen")
    assert de.select(tx.lang_id("text").alias("l")).collect()[0]["l"] == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["Hello   World", " hello world ", "hello worlds"]})
    )
    fps = [r["fp"] for r in df.select(tx.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["word " * 100, "a a a a a", "x"]})
    )
    rows = df.select(tx.quality_score("text").alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0
    # repeated-token doc scores below diverse doc of same length
    diverse = _one(spark, "a b c d e")
    repeated = _one(spark, "a a a a a")
    qd = diverse.select(tx.quality_score("text").alias("q")).collect()[0]["q"]
    qr = repeated.select(tx.quality_score("text").alias("q")).collect()[0]["q"]
    assert qd > qr

"""Exact string-gram reference for benchmark decontamination.

``decontaminate.contaminated`` identifies a gram by its 64-bit shingle
hash.  This module keeps the exact definition it is tested against: a
gram is the joined token string, built by Spark SQL expressions.  No
engine path uses it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wdedup_spark.functions.text import tokens


def ngram_array(text: Column | str, n: int) -> Column:
    """DISTINCT n-token grams of a whitespace-tokenized text, as joined
    strings; empty array when the doc has fewer than ``n`` tokens (a doc
    shorter than the gram width cannot be contaminated by the rule)."""
    toks = tokens(text)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def string_gram_hits(
    train: DataFrame, bench: DataFrame, text_col: str, id_col: str, n: int
) -> dict:
    """{train id: count of DISTINCT n-gram strings it shares with bench}."""
    train_grams = train.select(
        F.col(id_col).alias("id"), F.explode(ngram_array(text_col, n)).alias("gram")
    )
    bench_grams = bench.select(F.explode(ngram_array(text_col, n)).alias("gram")).distinct()
    return {
        r["id"]: r["n"]
        for r in train_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

"""Deterministic hash sampling (operators/sample.py): reproducibility
across partitionings, rate accuracy, salt independence, strata and
quotas."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wdedup_spark.operators import sample

N = 4000


def _ids(spark, n=N, par=4):
    return spark.range(n).select(F.col("id").alias("doc_id")).repartition(par)


def _keyed(df, frac, salt=""):
    """The plain keyed draw: one fraction for every row (no strata)."""
    return sample.stratified_sample(df, {}, default_frac=frac, salt=salt)


def test_deterministic_across_partitionings(spark):
    a = {r.doc_id for r in _keyed(_ids(spark, par=2), 0.3, salt="s").collect()}
    b = {r.doc_id for r in _keyed(_ids(spark, par=13), 0.3, salt="s").collect()}
    assert a == b and 0 < len(a) < N


def test_rate_close_and_salts_independent(spark):
    a = {r.doc_id for r in _keyed(_ids(spark), 0.5, salt="a").collect()}
    b = {r.doc_id for r in _keyed(_ids(spark), 0.5, salt="b").collect()}
    for s in (a, b):  # binomial(4000, .5): ±5 sigma ≈ ±158
        assert abs(len(s) - N / 2) < 160
    overlap = len(a & b)  # independent draws: ~N/4
    assert abs(overlap - N / 4) < 160


def test_nested_fractions(spark):
    # the keyed draw is a fixed uniform per id: frac=0.1 kept set is a
    # subset of frac=0.3's under the same salt (consistency property)
    lo = {r.doc_id for r in _keyed(_ids(spark), 0.1, salt="s").collect()}
    hi = {r.doc_id for r in _keyed(_ids(spark), 0.3, salt="s").collect()}
    assert lo <= hi


def test_edge_fracs(spark):
    assert _keyed(_ids(spark), 0.0).count() == 0
    assert _keyed(_ids(spark), 1.0).count() == N
    with pytest.raises(ValueError):
        _keyed(_ids(spark), 1.5)


def test_stratified(spark):
    df = _ids(spark).withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"))
    got = sample.stratified_sample(df, {"a": 1.0}, strata_col="source",
                                   salt="s", default_frac=0.0)
    rows = got.groupBy("source").count().collect()
    assert {r.source: r["count"] for r in rows} == {"a": N // 2}
    with pytest.raises(ValueError):
        sample.stratified_sample(df, {"a": -0.1})


def test_quota_sample_exact_counts_and_nesting(spark):
    # 3 strata with sizes 100, 7, 0-beyond-k; quota must be exactly
    # min(k, size) per stratum, the set deterministic across
    # partitionings, and quota-3 nested inside quota-10
    rows = [(i, "big") for i in range(100)] + \
           [(1000 + i, "small") for i in range(7)]
    base = spark.createDataFrame(rows, "doc_id long, source string")
    for par in (2, 9):
        df = base.repartition(par)
        got10 = sample.quota_sample(df, ["source"], 10, salt="q").collect()
        by = {}
        for r in got10:
            by.setdefault(r.source, set()).add(r.doc_id)
        assert len(by["big"]) == 10 and len(by["small"]) == 7
        got3 = {r.doc_id for r in
                sample.quota_sample(df, ["source"], 3, salt="q").collect()}
        assert len(got3) == 6  # 3 + 3
        assert got3 <= (by["big"] | by["small"])  # nesting
    # a different salt draws a different big-stratum set
    alt = {r.doc_id for r in
           sample.quota_sample(base, ["source"], 10, salt="z").collect()
           if r.source == "big"}
    assert alt != by["big"]


def test_quota_sample_rejects_reserved_columns(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string") \
              .withColumn("_qs_h", F.lit(0))
    with pytest.raises(ValueError, match="_qs_h"):
        sample.quota_sample(df, ["source"], 2)


def test_quota_sample_drops_null_ids(spark):
    # review r5: NULL ids hash to NULL (Spark sorts NULLS FIRST, DuckDB
    # LAST, and NULL keys break the total order among themselves) —
    # quota_sample must drop them, like the threshold samplers do
    rows = [(i, "a") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string").union(
        spark.sql("SELECT CAST(NULL AS LONG) doc_id, 'a' source "
                  "FROM range(5)")
    )
    got = sample.quota_sample(df, ["source"], 8, salt="n").collect()
    assert len(got) == 8 and all(r.doc_id is not None for r in got)

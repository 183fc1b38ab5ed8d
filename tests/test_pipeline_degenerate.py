"""Degenerate corpora through the whole pipeline, at the default config
and with every optional channel on (prefix + containment + edit).  Each
input reaches the signing kernel; the pinned figures are the cluster
counts the pipeline gives today."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
TS = datetime.datetime(2024, 1, 1)
SAME = " ".join(f"w{i}" for i in range(60))


def _one_turn(texts) -> list:
    return [(f"c{i:03d}", 0, "user", t, "", TS) for i, t in enumerate(texts)]


# input → (one single-turn conversation per text, clusters expected)
CORPORA = {
    "empty": ([], 0),
    "single": ([SAME], 1),
    "identical": ([SAME] * 300, 1),
    # shorter than k=3: one whole-doc shingle each, all distinct
    "short": ([f"s{i:02d}" if i % 2 else f"s{i:02d} t{i:02d}" for i in range(20)], 20),
    # a null text and an empty one both assemble to the empty document,
    # so exact dedup merges the 20 into one cluster
    "all_null": ([None] * 20, 1),
    "all_empty": ([""] * 20, 1),
}
CONFIGS = {
    "default": PipelineConfig(),
    "all_channels": PipelineConfig(enable_prefix=True, enable_containment=True, verify_edit=True),
}


@pytest.mark.parametrize("cfg_name", list(CONFIGS))
@pytest.mark.parametrize("corpus", list(CORPORA))
def test_degenerate_corpus(spark, tmp_path, corpus, cfg_name):
    texts, clusters = CORPORA[corpus]
    turns = spark.createDataFrame(_one_turn(texts), SCHEMA)
    out = run_pipeline(spark, turns, str(tmp_path), CONFIGS[cfg_name])
    got = out["clusters"].agg(
        F.count(F.lit(1)).alias("rows"), F.countDistinct("cluster_id").alias("clusters")
    ).first()
    assert got["rows"] == len(texts)
    assert got["clusters"] == clusters

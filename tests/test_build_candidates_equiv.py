"""Reference pin for the merged candidate stage.

``build_candidates`` unions the three channels' tagged banded streams
(minhash / simhash / substring) and runs ONE ``candidate_pairs_multi``
pass (one window exchange + one self-join for all channels), then folds
per-channel floors, star edges and the simhash Hamming check into one
groupBy.  This test diffs full (conv_a, conv_b, via) outputs against the
plain-Python reference in ``candidate_oracle`` across:

* the default config (max_bucket=256, MIN_BAND_COLLISIONS=2),
* a flood corpus with a tiny max_bucket, so star edges dominate,
* uncapped buckets (max_bucket=None), on the flood and the plain corpus,
* incremental mode (new_col batch flag + old-anchor star edges),
* a SimHash flood whose star anchor is more than MAX_HAMMING bits from
  most members, so the Hamming check must drop those star edges.

The candidate plan is pinned too: its only join is the bucket self-join.
"""

from __future__ import annotations

import random
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import candidate_oracle
from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.plans.pipeline import PipelineConfig, build_candidates


def _corpus(spark, flood: bool):
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "pack my box with five dozen liquor jugs before the long trip home",
        "sphinx of black quartz judge my vow said the curious old librarian",
        "how vexingly quick daft zebras jump over the sleeping yellow fence",
    ]
    rows = []
    for i in range(120):
        t = base[i % 4]
        if i % 3 == 0:
            t = t + f" variant {i // 3}"
        if i % 7 == 0:
            t = t.replace("the", "a certain", 1)
        rows.append((i, t))
    if flood:
        # 60 identical docs: every band bucket they share blows past a
        # small max_bucket and exercises the star path in every channel
        rows += [(1000 + j, "boilerplate notice " * 12) for j in range(60)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["conv_id", "doc"]))
    return add_signatures(df, "doc", k=3, n_perms=32, seed=7,
                          enable_simhash=True, enable_substring=True,
                          substring_k=4, substring_w=8).drop("doc")


def _collect(df) -> set:
    return {
        (r["conv_a"], r["conv_b"], tuple(r["via"]))
        for r in df.collect()
    }


def _reference(signed, cfg, new_col=None) -> set:
    cols = ["conv_id", "sig", "simhash", "anchors", *([new_col] if new_col else [])]
    return candidate_oracle.build_candidates(
        signed.select(*cols).collect(), cfg, new_col=new_col
    )


@pytest.mark.parametrize(
    "flood,max_bucket",
    [
        pytest.param(False, 256, id="False-256-star"),
        pytest.param(True, 8, id="True-8-star"),
        pytest.param(True, None, id="True-uncapped"),
        pytest.param(False, None, id="False-uncapped"),
    ],
)
def test_merged_equals_per_channel(spark, flood, max_bucket):
    cfg = PipelineConfig(
        n_perms=32, n_bands=8, max_bucket=max_bucket, substring_k=4, substring_w=8,
    )
    signed = _corpus(spark, flood).localCheckpoint(eager=True)
    got = _collect(build_candidates(signed, cfg))
    assert got, "corpus produced no candidates"
    assert got == _reference(signed, cfg)


def test_merged_equals_per_channel_incremental(spark):
    cfg = PipelineConfig(n_perms=32, n_bands=8, max_bucket=8, substring_k=4, substring_w=8)
    signed = (
        _corpus(spark, flood=True)
        .withColumn("is_new", F.pmod(F.col("conv_id"), F.lit(3)) == 0)
        .localCheckpoint(eager=True)
    )
    got = _collect(build_candidates(signed, cfg, new_col="is_new"))
    assert got == _reference(signed, cfg, new_col="is_new")


def test_far_star_anchor_dropped(spark):
    """Twelve SimHash values share blocks 0-2 (bits 0-32), so the
    (0, 1, 2) table holds one oversize bucket and star-connects every
    member to id 0.  Members 1 and 2 sit 1 and 3 bits from id 0 in the
    high blocks; member 3 sits 4 bits away and the rest are random there,
    so their star edges fail the Hamming check.  MinHash lanes are random
    and there are no anchors, so only the SimHash channel pairs."""
    rng = random.Random(5)

    def i64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    low = rng.getrandbits(33)
    high0 = rng.getrandbits(31)
    highs = [high0, high0 ^ 1, high0 ^ 0b10101, high0 ^ 0b1111]
    highs += [rng.getrandbits(31) for _ in range(8)]
    rows = [
        (i, [i64(rng.getrandbits(64)) for _ in range(32)], i64(h << 33 | low), [])
        for i, h in enumerate(highs)
    ]
    signed = spark.createDataFrame(
        rows, "conv_id long, sig array<long>, simhash long, anchors array<long>"
    )
    cfg = PipelineConfig(n_perms=32, n_bands=8, max_bucket=4)
    got = _collect(build_candidates(signed, cfg))
    assert {(0, 1, ("simhash",)), (0, 2, ("simhash",))} <= got
    assert not {(a, b) for a, b, _ in got} & {(0, i) for i in range(3, 12)}
    assert got == _reference(signed, cfg)


def _joins(df) -> list[str]:
    return re.findall(r"\b\w+Join\b", df._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("new_col", [None, "is_new"], ids=["batch", "incremental"])
def test_candidate_plan_has_one_join(spark, new_col):
    """The Hamming check filters the engine's raw rows on the signatures
    they carry: the bucket self-join is the plan's only join (the
    signature table is never joined back onto the pairs)."""
    cfg = PipelineConfig(n_perms=32, n_bands=8, substring_k=4, substring_w=8)
    signed = _corpus(spark, flood=False).withColumn(
        "is_new", F.pmod(F.col("conv_id"), F.lit(3)) == 0
    )
    assert _joins(build_candidates(signed, cfg, new_col=new_col)) == ["ShuffledHashJoin"]


@pytest.mark.parametrize("new_col", [None, "is_new"], ids=["batch", "incremental"])
def test_candidate_plan_shuffles_banded_once(spark, new_col):
    """The star branch's window and the self-join read ONE exchange of the
    banded union: the final AQE plan has exactly one
    hashpartitioning(ch, band, bucket) Exchange (the join's is reused)."""
    cfg = PipelineConfig(n_perms=32, n_bands=8, max_bucket=8, substring_k=4, substring_w=8)
    signed = (
        _corpus(spark, flood=True)
        .withColumn("is_new", F.pmod(F.col("conv_id"), F.lit(3)) == 0)
        .localCheckpoint(eager=True)
    )
    df = build_candidates(signed, cfg, new_col=new_col)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    banded = re.findall(
        r"^[\s+\-:]*Exchange hashpartitioning\(ch#\d+, band#\d+, bucket#\d+",
        final, flags=re.M,
    )
    assert len(banded) == 1, final

"""Prefix-filtered containment join vs a brute-force oracle — planted
quote-in-document pairs (high containment, low Jaccard) plus randomized
corpora, and a losslessness check of the candidate filter itself."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wdedup_spark.operators.containment import containment_join


def oracle(sets: dict[int, set], t: float) -> dict[tuple[int, int], float]:
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            c = len(sa & sb) / min(len(sa), len(sb))
            if c >= t:
                out[(a, b)] = round(c, 9)
    return out


def _run(spark, sets: dict[int, set], t: float):
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()], "conv_id long, shingles array<long>"
    )
    got = {
        (r.conv_a, r.conv_b): round(r.containment, 9)
        for r in containment_join(df, threshold=t).collect()
    }
    assert got == oracle(sets, t)


def test_quote_in_long_document_found_despite_tiny_jaccard(spark):
    quote = set(range(10))                      # |A| = 10
    long_doc = set(range(9)) | set(range(100, 400))  # shares 9 of 10
    other = set(range(1000, 1300))
    sets = {1: quote, 2: long_doc, 3: other}
    # containment 0.9, jaccard 9/310 ~ 0.03 — invisible to MinHash-LSH
    _run(spark, sets, 0.9)


def test_exact_threshold_boundary_no_float_loss(spark):
    # |A| = 10, overlap exactly 9 = ceil(0.9 * 10): the binary-float
    # 0.9*10 = 9.000000000000002 must not shrink the prefix below the
    # lossless bound
    sets = {1: set(range(10)), 2: set(range(1, 10)) | {99} | set(range(200, 250))}
    got = oracle(sets, 0.9)
    assert got  # overlap 9 / min 10 = 0.9 — at the boundary
    _run(spark, sets, 0.9)


def _random_sets() -> dict[int, set]:
    rng = random.Random(3)
    sets: dict[int, set] = {}
    for i in range(50):
        sets[i] = {rng.randrange(120) for _ in range(rng.randint(3, 40))}
    for i in range(50, 70):
        base = sets[rng.randrange(50)]
        if len(base) >= 4:
            keep = rng.randint(max(2, len(base) - 3), len(base))
            sets[i] = set(rng.sample(sorted(base), keep))  # subset -> containment 1
        else:
            sets[i] = set(base)
    return sets


def test_randomized_vs_oracle(spark):
    sets = _random_sets()
    for t in (0.7, 0.9, 1.0):
        _run(spark, sets, t)


@pytest.mark.parametrize("freq_top", [0, 5])
def test_truncated_hot_token_map_stays_lossless(spark, monkeypatch, freq_top):
    """The order is lossless for ANY consistent total order, so the batch
    join must equal the oracle when the hot-token map is empty (pure
    value order) or holds fewer tokens than have df >= 2 — on the
    randomized corpus and on a token-df flood: token -1 in every set,
    which sorts first by value and so enters every value-ordered
    prefix."""
    import wdedup_spark.operators.containment as c

    sets = _random_sets()
    df = Counter(tk for s in sets.values() for tk in s)
    assert sum(n >= 2 for n in df.values()) > freq_top  # the map truncates
    monkeypatch.setattr(c, "FREQ_TOP", freq_top)
    flood = {i: s | {-1} for i, s in sets.items()}
    for t in (0.7, 1.0):
        _run(spark, sets, t)
        _run(spark, flood, t)


def test_empty_and_singleton_sets(spark):
    sets = {1: set(), 2: {5}, 3: {5, 6, 7}}
    # empty sets are dropped (no containment defined); {5} ⊂ {5,6,7} -> 1.0
    _run(spark, sets, 0.9)


def test_prefix_bound_production_expression_vs_exact(spark):
    """The PRODUCTION prefix-bound Column (prefix_bound_len — Spark
    HALF_UP round, not Python banker's) equals the exact rational bound
    over a dense (size, percent-threshold) grid."""
    import math
    from fractions import Fraction

    from pyspark.sql import functions as F

    from wdedup_spark.operators.containment import prefix_bound_len

    grid = spark.range(1, 3001).selectExpr("id as sz").crossJoin(
        spark.range(1, 101).selectExpr("id as t_pct")
    )
    for t_pct in (1, 7, 50, 80, 85, 90, 95, 99, 100):
        t = t_pct / 100.0
        got = (
            grid.filter(F.col("t_pct") == t_pct)
            .select(
                "sz",
                prefix_bound_len(F.col("sz"), t, 1).alias("plen"),
                prefix_bound_len(F.col("sz"), t, 2).alias("plen2"),
            )
            .collect()
        )
        for r in got:
            alpha = math.ceil(Fraction(t_pct, 100) * r.sz)
            want = r.sz - alpha + 1
            assert r.plen == want, (r.sz, t_pct, r.plen, want)
            want2 = r.sz - alpha + min(2, alpha)
            assert r.plen2 == want2, (r.sz, t_pct, r.plen2, want2)


def test_candidate_filter_is_lossless_before_verify(spark):
    """Every oracle pair must appear among candidates (verify can only
    remove false positives, never recover a missed candidate)."""
    rng = random.Random(17)
    sets = {i: {rng.randrange(60) for _ in range(rng.randint(2, 25))} for i in range(60)}
    t = 0.8
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()], "conv_id long, shingles array<long>"
    )
    got = {(r.conv_a, r.conv_b) for r in containment_join(df, threshold=t).collect()}
    assert got == set(oracle(sets, t))

"""Skew safety of candidate_pairs: oversize buckets must never be
materialized as a collect_list array (VERDICT round-2 finding #1).

Star edges exist for boilerplate floods; the round-2 implementation
aggregated ``collect_list(id)`` over EVERY bucket before filtering on the
size — an executor OOM at exactly the skew it targets.  The engine counts
bucket sizes with a window (sort-based, spills) and only expands buckets
already proven small; oversize rows flow straight to star edges.
"""

import re

import pytest
from pyspark.sql import functions as F

import candidate_oracle
from wdedup_spark.operators.lsh import candidate_pairs, candidate_pairs_multi


def _banded(spark, rows):
    return spark.createDataFrame(rows, "band int, bucket long, id long")


@pytest.fixture(scope="module")
def skewed(spark):
    """One 100k-member hot bucket + two small buckets + a singleton."""
    hot = spark.range(100_000).select(
        F.lit(0).alias("band"), F.lit(777).alias("bucket"), F.col("id")
    )
    small = _banded(
        spark,
        [(1, 10, 1), (1, 10, 2), (1, 10, 3),      # 3-member bucket
         (1, 11, 5), (1, 11, 9),                  # 2-member bucket
         (2, 12, 42)],                            # singleton — no pairs
    )
    return hot.unionByName(small).localCheckpoint(eager=True)


def test_star_policy_truncates_hot_bucket(spark, skewed):
    pairs = candidate_pairs(skewed, max_bucket=16)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    # hot bucket → exactly m-1 star edges around the min id (0)
    star = {(0, i) for i in range(1, 100_000)}
    small = {(1, 2), (1, 3), (2, 3), (5, 9)}
    assert got == star | small


def test_oversize_branch_builds_no_array(spark, skewed):
    """Plan-level guarantee: bucket sizes come from a window count (spills,
    no buffer) and NO per-bucket array is ever built — expansion is a
    size-gated self-join, so collect_list is gone entirely and the join
    inputs are filtered on the window-computed size.  A collision floor
    folds collisions and star edges in exactly one aggregate on
    (conv_a, conv_b)."""
    pairs = candidate_pairs(skewed, max_bucket=16)
    optimized = pairs._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "windowspecdefinition" in optimized, "size gate must be a window count"
    assert "collect_list" not in optimized
    join_idx = optimized.index("join")
    gate_idx = optimized.index("<= 16")
    assert gate_idx > join_idx, "size filter must sit BELOW the join"

    floored = candidate_pairs(skewed, max_bucket=16, min_collisions=2)
    plan = floored._jdf.queryExecution().optimizedPlan().toString()
    agg_keys = re.findall(r"Aggregate \[([^\]]*)\]", plan)
    assert len(agg_keys) == 1, plan
    assert re.sub(r"#\d+L?", "", agg_keys[0]) == "conv_a, conv_b", plan


def test_all_policy_unchanged(spark):
    """max_bucket=None expands every bucket, whatever its size."""
    banded = _banded(
        spark, [(0, 1, 7), (0, 1, 8), (0, 1, 9), (1, 2, 7), (1, 2, 8)]
    )
    pairs = candidate_pairs(banded, max_bucket=None)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    assert got == {(7, 8), (7, 9), (8, 9)}


def test_min_collisions_floor_with_star(spark):
    # pair (7,8) collides in 2 bands, (7,9) in 1 → floor 2 keeps only (7,8);
    # star edges bypass the floor (structural connectivity)
    rows = [(0, 1, 7), (0, 1, 8), (1, 2, 7), (1, 2, 8), (2, 3, 7), (2, 3, 9)]
    hot = [(3, 99, i) for i in range(20, 40)]
    banded = _banded(spark, rows + hot)
    pairs = candidate_pairs(banded, max_bucket=8, min_collisions=2)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    assert got == {(7, 8)} | {(20, i) for i in range(21, 40)}


def test_windowed_path_equals_bruteforce_random(spark):
    """Property check: the window-gated implementation is semantically
    identical to the straightforward per-bucket enumeration across random
    bucket structures, capped and uncapped buckets, and collision floors."""
    import random

    rng = random.Random(7)
    for trial in range(6):
        rows = [
            (rng.randrange(4), rng.randrange(12), rng.randrange(40))
            for _ in range(rng.randrange(30, 220))
        ]
        # banded input is one row per (band, id): dedup like band_buckets does
        rows = sorted({(b, bkt, i) for b, bkt, i in rows})
        # drop ids appearing twice in one band with different buckets is
        # impossible in real banding; keep first occurrence per (band, id)
        seen = set()
        clean = []
        for b, bkt, i in rows:
            if (b, i) not in seen:
                seen.add((b, i))
                clean.append((b, bkt, i))
        df = _banded(spark, clean)
        for max_bucket in (5, None):
            for mc in (1, 2):
                got = {
                    (r["conv_a"], r["conv_b"])
                    for r in candidate_pairs(df, max_bucket, min_collisions=mc).collect()
                }
                want = candidate_oracle.candidate_pairs(clean, max_bucket, mc)
                assert got == want, (trial, max_bucket, mc)


def _raw(df) -> set:
    return {(r["conv_a"], r["conv_b"], r["is_star"], r["p_a"], r["p_b"]) for r in df.collect()}


def test_payload_follows_each_side_batch(spark):
    """Every non-key column is a payload: collision rows carry both
    members' values, star rows the min-id anchor's value on its side
    (p falls as id rises, so the min p is never the anchor's)."""
    banded = spark.createDataFrame(
        [(0, 0, 1, i, 100 - i) for i in (5, 3, 9, 7)]     # oversize: star
        + [(0, 1, 2, 12, 88), (0, 1, 2, 11, 89)],        # gated pair
        "ch tinyint, band int, bucket long, id long, p long",
    )
    assert _raw(candidate_pairs_multi(banded, max_bucket=2)) == {
        (3, 5, True, 97, 95),
        (3, 7, True, 97, 93),
        (3, 9, True, 97, 91),
        (11, 12, False, 89, 88),
    }


def test_payload_follows_each_side_incremental(spark):
    """Incremental star rows anchor at the min OLD member, which may be
    the larger id of the pair (its payload then sits on the b side), and
    fall back to the min NEW member in an all-new bucket."""
    banded = spark.createDataFrame(
        # band 0: old 8, 6 and new 2, 9 — anchor 6, above member 2
        [(0, 0, 1, i, 100 - i, i in (2, 9)) for i in (8, 6, 2, 9)]
        # band 1: all new — anchor is the min new member, 1
        + [(0, 1, 1, i, 100 - i, True) for i in (4, 1, 7)],
        "ch tinyint, band int, bucket long, id long, p long, is_new boolean",
    )
    assert _raw(candidate_pairs_multi(banded, max_bucket=2, new_col="is_new")) == {
        (2, 6, True, 98, 94),
        (6, 9, True, 94, 91),
        (1, 4, True, 99, 96),
        (1, 7, True, 99, 93),
    }

"""Unit tests of the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_measure.py -q
"""

import statistics

import pytest

from measure import (
    bracketed_overhead,
    median_index,
    pair_recall,
    self_time,
    summary,
    task_skew,
    union_length,
    unplanted_pairs,
)

# planted: a~b~c (a chain), d~e; found: {a,b,c,x}, {d}, {e}, {y,z}
PLANTED = [("a", "b"), ("b", "c"), ("d", "e")]
FOUND = {"a": 1, "b": 1, "c": 1, "x": 1, "d": 2, "e": 3, "y": 4, "z": 4}


def test_recall_counts_pairs_sharing_a_cluster():
    assert pair_recall(PLANTED, FOUND) == pytest.approx(2 / 3)


def test_recall_of_an_id_without_cluster_is_a_miss():
    assert pair_recall([("a", "b"), ("a", "nope")], FOUND) == 0.5


def test_unplanted_pairs_excludes_the_closure_of_planted_pairs():
    # cluster 1 has 6 pairs, the closure a~b~c implies 3 (a-c included);
    # the x pairs (3) and y-z (1) are unplanted
    assert unplanted_pairs(PLANTED, FOUND) == 4


def test_unplanted_pairs_is_zero_when_clusters_equal_the_closure():
    found = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2}
    assert unplanted_pairs(PLANTED, found) == 0
    assert pair_recall(PLANTED, found) == 1.0


def test_union_of_overlapping_intervals_is_clipped():
    iv = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (6.5, 6.8), (9.0, 12.0)]
    assert union_length(iv, 0.0, 100.0) == pytest.approx(3.0 + 1.0 + 3.0)
    assert union_length(iv, 2.5, 10.0) == pytest.approx(1.5 + 1.0 + 1.0)
    assert union_length([], 0.0, 1.0) == 0.0
    assert union_length([(5.0, 6.0)], 0.0, 1.0) == 0.0


def test_self_time_subtracts_covered_part_once():
    # jobs overlap each other and one sticks out of the span
    assert self_time(10.0, 20.0, [(11.0, 14.0), (13.0, 15.0), (19.0, 25.0)]) == pytest.approx(
        10.0 - 4.0 - 1.0
    )
    assert self_time(0.0, 2.0, []) == 2.0


def test_bracketed_overhead_cancels_linear_drift():
    # untraced runs 12 s then 10 s: the session sped up by 1 s per run,
    # so a traced run at 11.5 s costs 0.5 s of tracing
    assert bracketed_overhead(12.0, 11.5, 10.0) == pytest.approx(0.5)
    assert bracketed_overhead(10.0, 10.0, 10.0) == 0.0


def test_task_skew_is_max_over_median_with_a_1ms_floor():
    assert task_skew(100.0, 250.0) == 2.5
    assert task_skew(0.0, 0.0) == 1.0
    assert task_skew(0.2, 5.0) == 5.0


def test_summary_matches_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    s = summary(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert s == {"n": 6, "median": 3.5, "q1": q1, "q3": q3}


def test_summary_of_one_sample():
    assert summary([7.0]) == {"n": 1, "median": 7.0, "q1": 7.0, "q3": 7.0}
    with pytest.raises(ValueError):
        summary([])


def test_median_index_picks_an_actual_run():
    assert median_index([3.0, 1.0, 2.0]) == 2
    assert median_index([4.0, 1.0, 3.0, 2.0]) == 3  # lower middle of even count
    assert median_index([9.0]) == 0

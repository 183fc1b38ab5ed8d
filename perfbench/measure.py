"""The benchmark's own arithmetic: no Spark, no engine imports.

Summaries of repeated timings, interval arithmetic for attributing a
stage span's wall time to the Spark jobs inside it, task skew, and the
correctness gate's pair counting against the generator's planted pairs.
"""

from __future__ import annotations

import statistics
from collections import Counter
from typing import Iterable, Mapping


def summary(values: Iterable[float]) -> dict:
    """Median and quartiles as ``statistics.quantiles(values, n=4)`` gives
    them; a single sample is its own median and quartiles."""
    vals = sorted(float(v) for v in values)
    if not vals:
        raise ValueError("summary of no samples")
    if len(vals) == 1:
        q1 = med = q3 = vals[0]
    else:
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3}


def median_index(values: list[float]) -> int:
    """Index of the lower-middle sample: the run whose layer breakdown
    stands for the median run (an actual run, so its spans add up)."""
    if not values:
        raise ValueError("median_index of no samples")
    order = sorted(range(len(values)), key=lambda i: values[i])
    return order[(len(values) - 1) // 2]


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that child intervals cover."""
    return (end - start) - union_length(children, start, end)


def bracketed_overhead(before: float, traced: float, after: float) -> float:
    """A traced run's wall minus the mean of the untraced runs on either
    side of it: a linear drift between consecutive runs cancels."""
    return traced - (before + after) / 2


def task_skew(median_ms: float, max_ms: float) -> float:
    """Max task time over median task time.  Tasks shorter than 1 ms are
    counted as 1 ms so a stage of near-empty tasks reads ~1, not inf."""
    return max(max_ms, 1.0) / max(median_ms, 1.0)


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def pair_recall(pairs: Iterable[tuple[str, str]], cluster_of: Mapping[str, str]) -> float:
    """Share of ``pairs`` whose two ids are assigned the same cluster.  An
    id missing from ``cluster_of`` shares no cluster."""
    pairs = list(pairs)
    if not pairs:
        return 1.0
    hit = sum(
        1
        for a, b in pairs
        if a in cluster_of and b in cluster_of and cluster_of[a] == cluster_of[b]
    )
    return hit / len(pairs)


def unplanted_pairs(pairs: Iterable[tuple[str, str]], cluster_of: Mapping[str, str]) -> int:
    """Same-cluster id pairs that the transitive closure of ``pairs`` does
    not imply: per found cluster, all member pairs minus the pairs inside
    each planted component's share of that cluster."""
    uf = _UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    sizes = Counter(cluster_of.values())
    shared = Counter((c, uf.find(i)) for i, c in cluster_of.items())
    together = sum(n * (n - 1) // 2 for n in sizes.values())
    planted = sum(n * (n - 1) // 2 for n in shared.values())
    return together - planted

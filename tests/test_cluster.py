"""Connected-components tests: hand-built graphs + oracle closure."""

import pandas as pd

import dedup_oracle as oracle
import wdedup_spark.operators.cluster as cl
from wdedup_spark.operators.cluster import cluster_assignments, connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["conv_a", "conv_b"]))


import pytest


@pytest.mark.parametrize("small_thresh", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_cc_basic_chain(spark, small_thresh, monkeypatch):
    # chain a-b-c-d plus isolated pair e-f — both execution strategies
    monkeypatch.setattr(cl, "SMALL_GRAPH_EDGES", small_thresh)
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")])
    got = {r["conv_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


@pytest.mark.parametrize("small_thresh", [2_000_000, 0], ids=["driver-uf", "distributed"])
def test_cc_long_path_converges(spark, small_thresh, monkeypatch):
    # path of 33 nodes — needs multiple hash-to-min iterations
    monkeypatch.setattr(cl, "SMALL_GRAPH_EDGES", small_thresh)
    n = 33
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = _edges(spark, list(zip(nodes[:-1], nodes[1:])))
    got = {r["conv_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"n000"}
    assert len(got) == n


def test_cc_raises_when_rounds_run_out(spark, monkeypatch):
    """The distributed loop fails loudly instead of returning labels that
    have not converged: the 33-node path needs more than one round."""
    monkeypatch.setattr(cl, "MAX_ROUNDS", 1)
    monkeypatch.setattr(cl, "SMALL_GRAPH_EDGES", 0)
    nodes = [f"n{i:03d}" for i in range(33)]
    edges = _edges(spark, list(zip(nodes[:-1], nodes[1:])))
    with pytest.raises(RuntimeError, match="did not converge"):
        cl.connected_components(edges)


def test_cluster_assignments_singletons(spark):
    all_ids = spark.createDataFrame(pd.DataFrame({"conv_id": ["a", "b", "c", "z"]}))
    edges = _edges(spark, [("a", "b")])
    got = {r["conv_id"]: r["cluster_id"] for r in cluster_assignments(all_ids, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "z": "z"}


def test_cc_matches_union_find_oracle(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    ids = [f"v{i:03d}" for i in range(120)]
    pairs = set()
    while len(pairs) < 150:
        a, b = rng.choice(120, 2, replace=False)
        pairs.add((ids[min(a, b)], ids[max(a, b)]))
    pairs = sorted(pairs)
    edges = _edges(spark, pairs)
    got = {r["conv_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    want = oracle.transitive_closure_min(
        pd.DataFrame(pairs, columns=["conv_a", "conv_b"]), list(got.keys())
    )
    assert got == want


def test_cc_distributed_with_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """With a checkpoint dir configured, the distributed path must use
    reliable checkpoint() (executor-loss tolerant on a real cluster) and
    produce identical components."""
    import numpy as np

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rng = np.random.default_rng(9)
        # a long path (worst case for propagation) + random unions
        edges_py = [(i, i + 1) for i in range(0, 60)] + [
            (int(rng.integers(100, 160)), int(rng.integers(100, 160))) for _ in range(40)
        ]
        edges = spark.createDataFrame(edges_py, "conv_a long, conv_b long")
        # oracle: driver union-find over the same edges
        want = {r["conv_id"]: r["cluster_id"] for r in cl.connected_components(edges).collect()}
        monkeypatch.setattr(cl, "SMALL_GRAPH_EDGES", 0)
        got = {r["conv_id"]: r["cluster_id"] for r in cl.connected_components(edges).collect()}
        assert got == want
        # the reliable path really engaged (checkpoint dir is non-empty)
        import os

        assert any(os.scandir(str(tmp_path / "ckpt")))
    finally:
        # later tests in the session fall back to localCheckpoint only if
        # no dir is set; leaving it set is safe (strictly more durable)
        pass


def test_incremental_update_equals_full_recompute(spark):
    """incremental_update over (existing assignment + new batch) must match
    clustering the whole graph from scratch — including new docs bridging
    two existing clusters (both relabel to the joint min)."""
    import random

    from wdedup_spark.operators.cluster import cluster_assignments, incremental_update

    rng = random.Random(13)
    for trial in range(4):
        old_ids = list(range(0, 60))
        old_edges = [
            (a, b)
            for a, b in {
                tuple(sorted(rng.sample(old_ids, 2))) for _ in range(40)
            }
        ]
        new_ids = list(range(100, 130))
        # new-new, new-old, and old-old (re-verified) edges all appear
        new_edges = (
            [tuple(sorted(rng.sample(new_ids, 2))) for _ in range(10)]
            + [(rng.choice(old_ids), rng.choice(new_ids)) for _ in range(12)]
            + [tuple(sorted(rng.sample(old_ids, 2))) for _ in range(3)]
        )
        new_edges = [(a, b) for a, b in set(new_edges) if a != b]

        old_ids_df = spark.createDataFrame([(i,) for i in old_ids], "conv_id long")
        old_edges_df = spark.createDataFrame(old_edges or [(0, 0)], "conv_a long, conv_b long")
        if not old_edges:
            old_edges_df = old_edges_df.filter("conv_a != conv_b")
        existing = cluster_assignments(old_ids_df, old_edges_df)

        new_ids_df = spark.createDataFrame([(i,) for i in new_ids], "conv_id long")
        new_edges_df = spark.createDataFrame(new_edges, "conv_a long, conv_b long")
        got = {
            (r["conv_id"], r["cluster_id"])
            for r in incremental_update(existing, new_edges_df, new_ids_df).collect()
        }

        all_ids_df = spark.createDataFrame([(i,) for i in old_ids + new_ids], "conv_id long")
        all_edges_df = spark.createDataFrame(
            old_edges + new_edges, "conv_a long, conv_b long"
        )
        want = {
            (r["conv_id"], r["cluster_id"])
            for r in cluster_assignments(all_ids_df, all_edges_df).collect()
        }
        assert got == want, f"trial {trial}"


def test_incremental_update_no_new_edges(spark):
    from wdedup_spark.operators.cluster import incremental_update

    existing = spark.createDataFrame([(1, 1), (2, 1), (5, 5)], "conv_id long, cluster_id long")
    new_ids = spark.createDataFrame([(9,), (10,)], "conv_id long")
    empty = spark.createDataFrame([], "conv_a long, conv_b long")
    got = {
        (r["conv_id"], r["cluster_id"])
        for r in incremental_update(existing, empty, new_ids).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 5), (9, 9), (10, 10)}

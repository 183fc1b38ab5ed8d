"""End-to-end pipeline: recall vs planted pairs + cluster oracle +
resume protocol (FIXTURES.md F4) + skew fixture (F5)."""

import os
import shutil

import pandas as pd
import pytest

import dedup_oracle as oracle
from wdedup_spark import synth
from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def piped(spark, tiny, tiny_turns, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("pipe"))
    out = run_pipeline(spark, tiny_turns, workdir, CFG)
    return out, workdir


def _cluster_map(out):
    return {r["conv_id"]: r["cluster_id"] for r in out["clusters"].collect()}


def test_planted_pairs_clustered(spark, tiny, piped):
    out, _ = piped
    cmap = _cluster_map(out)
    planted = tiny.oracle_pairs
    missed = []
    for a, b, cls in planted.itertuples(index=False):
        if cmap[a] != cmap[b]:
            missed.append((a, b, cls))
    # D2 rides the MinHash path (char flips keep Jaccard >= threshold);
    # everything planted must cluster together: recall == 1 on this fixture
    recall = 1 - len(missed) / len(planted)
    assert recall >= 0.99, f"missed: {missed}"


def test_cluster_equals_oracle_closure(spark, tiny, piped):
    """Clusters == transitive closure of (exact ∪ verified ∪ substring)
    edges with min-id representative (reference's lesser-occurrence rule)."""
    out, _ = piped
    cmap = _cluster_map(out)
    edges = out["verified"].select("conv_a", "conv_b").toPandas()
    from wdedup_spark.operators.exact import add_fingerprint

    exact_edges = (
        add_fingerprint(out["conv"], "doc")
        .select("fp", "conv_id")
        .join(
            out["exact"].filter("n_members > 1").selectExpr("fp", "rep_id"), "fp"
        )
        .filter("conv_id != rep_id")
        .selectExpr("rep_id as conv_a", "conv_id as conv_b")
        .toPandas()
    )
    all_edges = pd.concat([edges, exact_edges], ignore_index=True)
    want = oracle.transitive_closure_min(all_edges, list(cmap.keys()))
    assert cmap == want


def test_resume_skips_completed_stages(spark, tiny_turns, tmp_path):
    """F4: rerun consults the ledger — committed stages are not recomputed,
    final clusters byte-identical (WAL replay semantics,
    /root/reference/src/wprof.cpp:179-216)."""
    workdir = str(tmp_path / "resume")
    out1 = run_pipeline(spark, tiny_turns, workdir, CFG)
    clusters1 = sorted(map(tuple, out1["clusters"].collect()))
    ledger1 = out1["ledger"].entries.copy()
    mtimes1 = {
        s: os.path.getmtime(os.path.join(workdir, s, "_SUCCESS"))
        for s in ("assemble", "exact", "sign", "candidates", "verify", "cluster")
    }
    # simulate crash after "sign": drop downstream outputs
    for stage in ("candidates", "verify", "cluster"):
        shutil.rmtree(os.path.join(workdir, stage))
    out2 = run_pipeline(spark, tiny_turns, workdir, CFG)
    clusters2 = sorted(map(tuple, out2["clusters"].collect()))
    assert clusters1 == clusters2
    # upstream outputs untouched (not recomputed)
    for s in ("assemble", "exact", "sign"):
        assert os.path.getmtime(os.path.join(workdir, s, "_SUCCESS")) == mtimes1[s]


def test_config_fence_invalidates(spark, tiny_turns, tmp_path):
    """Changing the pipeline config cold-starts the ledger (version fence,
    /root/reference/src/main.cpp:196-206)."""
    workdir = str(tmp_path / "fence")
    run_pipeline(spark, tiny_turns, workdir, CFG)
    cfg2 = PipelineConfig(threshold=0.7)
    out2 = run_pipeline(spark, tiny_turns, workdir, cfg2)
    fences = {e["config_fence"] for e in out2["ledger"].entries}
    assert fences == {cfg2.fence()}


@pytest.mark.parametrize(
    "const", ["MAX_HAMMING", "MIN_BAND_COLLISIONS", "EDIT_MARGIN", "SYNC_MIN_ROWS_PER_RANGE"]
)
def test_fence_covers_pipeline_constants(monkeypatch, const):
    """The module tuning constants are fenced like config fields: a changed
    constant must not reuse outputs written under the old value."""
    from wdedup_spark.plans import pipeline

    before = CFG.fence()
    monkeypatch.setattr(pipeline, const, getattr(pipeline, const) + 1)
    assert CFG.fence() != before


def test_skew_fixture_results_stable(spark, tmp_path):
    """F5: hot boilerplate bucket — star policy bounds pair volume while
    planted dups still cluster."""
    res = synth.generate_transcripts(n_base=150, seed=43, hot_prefix_frac=0.3)
    turns = synth.to_spark(spark, res)
    out = run_pipeline(spark, turns, str(tmp_path / "skew"), CFG)
    cmap = _cluster_map(out)
    missed = [
        (a, b, c) for a, b, c in res.oracle_pairs.itertuples(index=False) if cmap[a] != cmap[b]
    ]
    assert not missed, f"skew run missed {missed}"

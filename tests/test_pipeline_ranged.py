"""The ranged sign path the engine takes at scale, on a tiny corpus.

Ranged sign commits start at ``SYNC_MIN_ROWS_PER_RANGE`` conversations
per range (20 000 by default), so the constant is patched down: the same
corpus then runs ``run_pipeline`` and a ``run_incremental`` day with
``eff_ranges > 1``.  Both must commit sign under ``rng=`` buckets and
produce the same clusters as the single-commit (``sync_ranges=1``) run.
"""

import os

import pytest
from pyspark.sql import functions as F

from wdedup_spark import synth
from wdedup_spark.plans import pipeline
from wdedup_spark.plans.pipeline import PipelineConfig, run_incremental, run_pipeline

N_RANGES = 3


@pytest.fixture
def small_ranges(monkeypatch):
    # 40 base and 14 day conversations both reach N_RANGES ranges
    monkeypatch.setattr(pipeline, "SYNC_MIN_ROWS_PER_RANGE", 4)


@pytest.fixture(scope="module")
def days(spark):
    # conv-000040 onwards are the planted copies of base conversations,
    # so the day links to the committed corpus
    turns = synth.to_spark(spark, synth.generate_transcripts(n_base=40, seed=5))
    turns = turns.localCheckpoint(eager=True)
    is_day = F.col("conv_id") >= F.lit("conv-000040")
    return turns.filter(~is_day), turns.filter(is_day)


def _buckets(workdir, stage):
    return sorted(d for d in os.listdir(os.path.join(workdir, stage)) if d.startswith("rng="))


def _collect(out):
    return sorted((r["conv_id"], r["cluster_id"]) for r in out["clusters"].collect())


def test_ranged_sign_matches_single_commit(spark, days, tmp_path, small_ranges):
    base, day = days
    results = {}
    for n in (N_RANGES, 1):
        cfg = PipelineConfig(sync_ranges=n)
        base_dir, day_dir = str(tmp_path / f"base{n}"), str(tmp_path / f"day{n}")
        b = run_pipeline(spark, base, base_dir, cfg)
        d = run_incremental(spark, day, base_dir, day_dir, cfg)
        for out, wd in ((b, base_dir), (d, day_dir)):
            entry = out["ledger"].entry("sign")
            if n > 1:
                assert entry["ranged"] == N_RANGES
                assert _buckets(wd, "sign") == [f"rng={r}" for r in range(N_RANGES)]
                assert _buckets(wd, "exact"), "sign input must be range-laid-out"
            else:
                assert "ranged" not in entry and not _buckets(wd, "sign")
        results[n] = (_collect(b), _collect(d))
    assert results[N_RANGES] == results[1]
    # the day is not vacuous: its planted copies joined base clusters
    assert any(
        cid >= "conv-000040" > cluster for cid, cluster in results[1][1]
    )


def test_ranged_increment_of_seen_docs_only(spark, days, tmp_path, small_ranges):
    """A day whose every conversation re-sends committed text commits an
    EMPTY exact stage; the range-laid-out commit and the ranged sign must
    still go through, and every re-sent id joins its original's cluster."""
    base, _ = days
    cfg = PipelineConfig(sync_ranges=N_RANGES)
    base_dir, day_dir = str(tmp_path / "base"), str(tmp_path / "day")
    run_pipeline(spark, base, base_dir, cfg)
    resent = base.filter(F.col("conv_id") < F.lit("conv-000014")).withColumn(
        "conv_id", F.concat(F.lit("re-"), F.col("conv_id"))
    )
    out = run_incremental(spark, resent, base_dir, day_dir, cfg)
    ledger = out["ledger"]
    assert ledger.metrics()["exact"]["rows"] == 0
    assert ledger.entry("sign")["ranged"] == N_RANGES
    by_id = dict(_collect(out))
    resent_ids = [c for c in by_id if c.startswith("re-")]
    assert len(resent_ids) == 14
    assert all(by_id[c] == by_id[c[3:]] for c in resent_ids)

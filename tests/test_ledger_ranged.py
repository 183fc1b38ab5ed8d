"""Sub-stage (syncDistance-analog) recovery + storage-agnostic ledger.

Mirrors /root/reference/src/wprof.cpp:258-284 + src/wcli.cpp:109-112: the
reference bounds within-stage recompute to --sync-distance bytes; here a
crashed ranged stage resumes from its uncommitted key-ranges only.
"""

import posixpath

import pytest
from pyspark.sql import functions as F

from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline
from wdedup_spark.sources.ledger import StageLedger


def _transform_factory(calls, fail_on=None):
    def transform(part, r):
        calls.append(r)
        if fail_on is not None and r == fail_on:
            raise RuntimeError(f"injected crash in range {r}")
        return part.withColumn("out", F.col("val") + 1)

    return transform


def test_kill_mid_sign_resumes_from_missing_ranges(spark, tmp_path):
    wd = str(tmp_path / "ranged")
    led = StageLedger(wd, config_fence="f1", spark=spark)
    _commit_input(spark, led, n_ranges=8)
    calls1: list[int] = []
    with pytest.raises(RuntimeError, match="injected crash"):
        led.run_ranged(
            spark, "sign", "input", _transform_factory(calls1, fail_on=2), n_ranges=8
        )
    committed = {
        r for r in range(8)
        if led.fs.exists(posixpath.join(wd, "sign", f"rng={r}", "_SUCCESS"))
    }
    assert committed, "some ranges must have committed before the crash"
    assert 2 not in committed
    assert not led.is_committed("sign")

    # fresh ledger (new process) — resume must recompute ONLY missing ranges
    led2 = StageLedger(wd, config_fence="f1", spark=spark)
    calls2: list[int] = []
    result = led2.run_ranged(
        spark, "sign", "input", _transform_factory(calls2), n_ranges=8
    )
    assert set(calls2) == set(range(8)) - committed
    assert led2.is_committed("sign")
    # output is complete and correct despite the partial-crash history
    rows = result.count()
    assert rows == 1000
    assert result.filter(F.col("out") != F.col("val") + 1).count() == 0

    # idempotent replay: a third run reads back, no transform calls
    led3 = StageLedger(wd, config_fence="f1", spark=spark)
    calls3: list[int] = []
    again = led3.run_ranged(
        spark, "sign", "input", _transform_factory(calls3), n_ranges=8
    )
    assert calls3 == []
    assert again.count() == 1000


def test_fence_change_invalidates_partial_ranges(spark, tmp_path):
    wd = str(tmp_path / "fence")
    led = StageLedger(wd, config_fence="cfgA", spark=spark)
    _commit_input(spark, led, n_ranges=4)
    calls: list[int] = []
    with pytest.raises(RuntimeError):
        led.run_ranged(
            spark, "sign", "input", _transform_factory(calls, fail_on=1), n_ranges=4
        )
    # different config → the ledger drops every commit, upstream included
    # (the pipeline re-runs it); stale sign buckets must NOT be resumed from
    led2 = StageLedger(wd, config_fence="cfgB", spark=spark)
    assert not led2.is_committed("input")
    _commit_input(spark, led2, n_ranges=4)
    calls2: list[int] = []
    result = led2.run_ranged(
        spark, "sign", "input", _transform_factory(calls2), n_ranges=4
    )
    assert set(calls2) == set(range(4))  # full recompute
    assert result.count() == 1000


def test_ledger_on_file_uri(spark, tmp_path):
    """Storage-agnostic check: the whole pipeline against a file:/ URI
    workdir — no os.* path assumptions anywhere in the ledger."""
    wd = "file://" + str(tmp_path / "uri-work")
    from wdedup_spark import synth

    turns = synth.to_spark(spark, synth.generate_transcripts(n_base=40, seed=5))
    cfg = PipelineConfig(sync_ranges=4)
    out = run_pipeline(spark, turns, wd, cfg)
    assert out["ledger"].is_committed("cluster")
    n = out["clusters"].count()
    assert n > 0
    # resume over the URI workdir too
    out2 = run_pipeline(spark, turns, wd, cfg)
    assert out2["clusters"].count() == n


def _commit_input(spark, led, n_ranges):
    """Commit the upstream stage range-laid-out on conv_id, the way the
    pipeline commits ``exact`` ahead of a ranged sign."""
    led.run(
        spark, "input",
        lambda: spark.range(0, 1000).select(
            F.concat(F.lit("id-"), F.col("id")).alias("conv_id"),
            (F.col("id") * 3).alias("val"),
        ),
        range_key="conv_id", n_ranges=n_ranges,
    )


def test_ranged_input_must_be_range_laid_out(spark, tmp_path):
    led = StageLedger(str(tmp_path / "plain"), config_fence="f1", spark=spark)
    _commit_input(spark, led, n_ranges=1)  # n_ranges <= 1: plain write
    with pytest.raises(ValueError, match="not written range-partitioned"):
        led.run_ranged(spark, "sign", "input", _transform_factory([]), n_ranges=4)


def test_commit_lists_every_parquet_file(spark, tmp_path):
    """The commit record lists every parquet file of a range-laid-out
    output with its bucket-relative path and size, and no checksum files;
    its footer row count matches the data."""
    import os

    wd = str(tmp_path / "listing")
    led = StageLedger(wd, config_fence="f1", spark=spark)
    _commit_input(spark, led, n_ranges=4)
    entry = led.entry("input")
    out = os.path.join(wd, "input")
    on_disk = sorted(
        (os.path.relpath(os.path.join(d, f), out), os.path.getsize(os.path.join(d, f)))
        for d, _, names in os.walk(out)
        for f in names
        if f.endswith(".parquet") and not f.startswith(".")
    )
    assert [(f["file"], f["bytes"]) for f in entry["files"]] == on_disk
    assert {f["file"].split("/")[0] for f in entry["files"]} <= {f"rng={r}" for r in range(4)}
    assert entry["n_files"] == len(on_disk) > 0
    assert entry["bytes"] == sum(size for _, size in on_disk)
    assert entry["rows"] == 1000

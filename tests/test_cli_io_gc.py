"""CLI, text-file parity source, stage GC, stop_after staging."""

import json
import os

import pytest

from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline
from wdedup_spark.sources.io import find_first_unique_word_in_file, read_words_from_textfile

CFG = PipelineConfig()


def test_findfirst_textfile_parity(spark, tmp_path):
    """The reference's CLI semantic on its native input format
    (README.md:60-84): whitespace-separated words in a text file."""
    p = tmp_path / "words.txt"
    p.write_text("b a\tb\r\nc a  c x\n\nd d\n")
    assert find_first_unique_word_in_file(spark, str(p)) == "x"
    # all duplicates → "" (src/wfindfirst.cpp:44,59)
    p2 = tmp_path / "alldup.txt"
    p2.write_text("a b\nb a\n")
    assert find_first_unique_word_in_file(spark, str(p2)) == ""


def test_words_textfile_counts(spark, tmp_path):
    p = tmp_path / "w.txt"
    p.write_text("x y x\nz y\n")
    words = read_words_from_textfile(spark, str(p))
    counts = (
        words.groupBy("word").count().toPandas().set_index("word")["count"].to_dict()
    )
    assert counts == {"x": 2, "y": 2, "z": 1}


def test_first_occurrence_order_multifile_multisplit(spark, tmp_path):
    """Regression for the round-1 packed ord key: first-occurrence order
    must come from real file coordinates (path, split offset, row, pos),
    not from monotonically_increasing_id partition enumeration — verified
    against a pandas oracle over two files forced into many splits."""
    import numpy as np

    from wdedup_spark.operators.wdedup import singular_filter, word_profile

    rng = np.random.default_rng(3)
    vocab = [f"w{i:04d}" for i in range(4000)]
    d = tmp_path / "txt"
    d.mkdir()
    files = []
    for fi in range(2):
        lines = [
            " ".join(vocab[int(rng.integers(0, len(vocab)))] for _ in range(20))
            for _ in range(300)
        ]
        p = d / f"part-{fi}.txt"
        p.write_text("\n".join(lines) + "\n")
        files.append(p)

    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        words = read_words_from_textfile(spark, str(d))
        assert words.rdd.getNumPartitions() > 4  # the fixture really splits
        got = [
            r["word"]
            for r in singular_filter(word_profile(words)).orderBy("first_ord").collect()
        ]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)

    seen: dict[str, int] = {}
    order: list[str] = []
    counts: dict[str, int] = {}
    for p in sorted(files, key=str):
        for line in p.read_text().splitlines():
            for w in line.split():
                counts[w] = counts.get(w, 0) + 1
                if w not in seen:
                    seen[w] = len(order)
                    order.append(w)
    want = [w for w in order if counts[w] == 1]
    assert len(want) > 50  # meaningful singleton population
    assert got == want


def test_stop_after_and_resume(spark, tiny_turns, tmp_path):
    """--stop-after commits a prefix of stages (the reference's
    --wprof-only debug mode); a later full run resumes from there."""
    wd = str(tmp_path / "staged")
    partial = run_pipeline(spark, tiny_turns, wd, CFG, stop_after="sign")
    assert set(partial) == {"ledger", "conv", "exact", "signed"}
    assert partial["ledger"].is_committed("sign")
    assert not partial["ledger"].is_committed("candidates")
    full = run_pipeline(spark, tiny_turns, wd, CFG)
    assert full["ledger"].is_committed("cluster")


def test_gc_reclaims_and_resume_skips(spark, tiny_turns, tmp_path):
    wd = str(tmp_path / "gc")
    out1 = run_pipeline(spark, tiny_turns, wd, CFG, gc=True)
    clusters1 = sorted(map(tuple, out1["clusters"].collect()))
    assert not os.path.exists(os.path.join(wd, "sign"))
    assert not os.path.exists(os.path.join(wd, "candidates"))
    # resume: gc'd stages are treated as committed, nothing recomputed
    out2 = run_pipeline(spark, tiny_turns, wd, CFG, gc=True)
    assert out2["signed"] is None and out2["candidates"] is None
    assert sorted(map(tuple, out2["clusters"].collect())) == clusters1


def test_cli_dedup_and_findfirst(spark, tiny, tmp_path, monkeypatch):
    """End-to-end through the argparse entry (shares the session fixture's
    JVM via getOrCreate)."""
    from wdedup_spark import cli, synth

    src = str(tmp_path / "turns")
    synth.to_spark(spark, tiny).write.parquet(src)
    wd = str(tmp_path / "cliwork")
    rc = cli.main(["dedup", "--input", src, "--workdir", wd, "--stop-after", "exact"])
    assert rc == 0
    assert os.path.exists(os.path.join(wd, "exact", "_SUCCESS"))
    words = tmp_path / "words.txt"
    words.write_text("a b a q b\n")
    assert cli.main(["findfirst", "--input", str(words)]) == 0


def test_cli_dedup_incr_honours_sync_ranges(spark, tmp_path, monkeypatch):
    """dedup-incr runs the same ranged sign as dedup: with the per-range
    row floor patched down, --sync-ranges 2 commits the day's sign under
    rng= buckets."""
    from pyspark.sql import functions as F

    from wdedup_spark import cli, synth
    from wdedup_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "SYNC_MIN_ROWS_PER_RANGE", 4)
    turns = synth.to_spark(spark, synth.generate_transcripts(n_base=40, seed=5))
    is_day = F.col("conv_id") >= F.lit("conv-000040")
    base_src, day_src = str(tmp_path / "base_turns"), str(tmp_path / "day_turns")
    turns.filter(~is_day).write.parquet(base_src)
    turns.filter(is_day).write.parquet(day_src)
    base_wd, day_wd = str(tmp_path / "base"), str(tmp_path / "day")
    assert cli.main(["dedup", "--input", base_src, "--workdir", base_wd, "--no-gc"]) == 0
    assert cli.main([
        "dedup-incr", "--input", day_src, "--workdir", day_wd, "--base", base_wd,
        "--sync-ranges", "2",
    ]) == 0
    sign = os.path.join(day_wd, "sign")
    assert sorted(d for d in os.listdir(sign) if d.startswith("rng=")) == ["rng=0", "rng=1"]
    assert os.path.exists(os.path.join(day_wd, "cluster", "_SUCCESS"))


@pytest.mark.parametrize("cmd", ["dedup", "dedup-incr"])
def test_cli_defaults_are_pipeline_config_defaults(cmd):
    """Each pipeline flag's default is its PipelineConfig field's, so a
    bare `cli dedup` runs exactly PipelineConfig()."""
    from wdedup_spark import cli

    argv = [cmd, "--input", "i", "--workdir", "w"]
    args = cli.build_parser().parse_args(argv + (["--base", "b"] if cmd == "dedup-incr" else []))
    cfg = PipelineConfig()
    fields = {
        "k": "k", "n_perms": "n_perms", "n_bands": "n_bands",
        "threshold": "threshold", "seed": "seed", "max_bucket": "max_bucket",
        "containment_threshold": "containment_threshold",
        "min_span": "substring_min_span", "sync_ranges": "sync_ranges",
    }
    for dest, name in fields.items():
        assert getattr(args, dest) == getattr(cfg, name), dest
    flags = (not args.no_simhash, not args.no_substring, args.prefix, args.containment)
    assert flags == (
        cfg.enable_simhash, cfg.enable_substring, cfg.enable_prefix, cfg.enable_containment,
    )

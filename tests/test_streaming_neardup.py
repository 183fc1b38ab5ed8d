"""Streaming near-dup flags: new docs probed against a static LSH index.

Static side = the batch sign stage's output (as in production); stream
side = a file-source stream of new documents containing one near-dup of
an indexed doc, one exact re-delivery, and one novel doc.
"""

import pytest
from pyspark.sql import functions as F

from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.streaming.neardup_stream import index_for_stream, stream_neardup_flags

N_PERMS = 128
N_BANDS = 32


def _doc(tokens):
    return " ".join(tokens)


@pytest.fixture(scope="module")
def corpus_docs():
    base = [f"tok{i:03d}" for i in range(200)]
    other = [f"alt{i:03d}" for i in range(150)]
    return [
        ("idx-0", _doc(base)),
        ("idx-1", _doc(other)),
        ("idx-2", _doc([f"zed{i}" for i in range(80)])),
    ]


def test_stream_neardup_flags(spark, tmp_path, corpus_docs):
    static = spark.createDataFrame(corpus_docs, "conv_id string, doc string")
    signed = add_signatures(
        static, "doc", k=3, n_perms=N_PERMS,
        enable_simhash=False, enable_substring=False,
    ).select("conv_id", "sig")
    index = index_for_stream(signed, N_PERMS, N_BANDS).localCheckpoint(eager=True)

    # stream: near-dup of idx-0 (2% token edits), exact copy of idx-1, novel
    base = corpus_docs[0][1].split()
    near = list(base)
    for i in range(0, 200, 50):
        near[i] = f"edit{i}"
    new_docs = [
        ("new-near", _doc(near)),
        ("new-exact", corpus_docs[1][1]),
        ("new-novel", _doc([f"qqq{i}" for i in range(120)])),
    ]
    src = str(tmp_path / "neardup-src")
    spark.createDataFrame(new_docs, "conv_id string, doc string").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

    flags = stream_neardup_flags(stream, index, k=3, n_perms=N_PERMS, n_bands=N_BANDS)
    q = (
        flags.writeStream.format("memory")
        .queryName("neardup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT conv_id, index_id, max(est) AS est FROM neardup_sink GROUP BY conv_id, index_id"
    ).collect()
    got = {(r["conv_id"], r["index_id"]): r["est"] for r in out}

    assert ("new-exact", "idx-1") in got and got[("new-exact", "idx-1")] == 1.0
    assert ("new-near", "idx-0") in got and got[("new-near", "idx-0")] >= 0.65
    assert not any(cid == "new-novel" for cid, _ in got)


def _turns(conv_id, tokens, start_ts=0):
    """One turn per 10 tokens — exercises assembly's turn ordering."""
    rows = []
    for i in range(0, len(tokens), 10):
        rows.append(
            (conv_id, i // 10, "user" if (i // 10) % 2 == 0 else "assistant",
             " ".join(tokens[i : i + 10]), None, i // 10 + start_ts)
        )
    return rows


def test_stream_neardup_from_pipeline_workdir(spark, tmp_path):
    """VERDICT r3 #8 — the production contract end-to-end: the streaming
    probe index comes from an ACTUAL run_pipeline workdir (the committed
    ``sign`` stage read back through the ledger, exactly how a resumed
    batch run gets it), not a hand-built index; and the stream's flags
    must equal the batch dataflow's flags on the same new-docs batch
    (stream_neardup_flags is pure DataFrame ops, so running it over the
    static DataFrame IS the batch verify pre-filter — bit-for-bit parity
    of the sign→band→join→estimate chain across the two execution modes)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from wdedup_spark.operators.assemble import assemble_conversations
    from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline
    from wdedup_spark.sources.ledger import StageLedger

    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", LongType()),
    ])
    base = [f"alpha{i:03d}" for i in range(120)]
    other = [f"beta{i:03d}" for i in range(120)]
    third = [f"gamma{i:03d}" for i in range(90)]
    corpus_turns = _turns("conv-a", base) + _turns("conv-b", other) + _turns("conv-c", third)
    turns = spark.createDataFrame(corpus_turns, schema)

    cfg = PipelineConfig()
    workdir = str(tmp_path / "pipe-work")
    run_pipeline(spark, turns, workdir, cfg, stop_after="sign")

    # re-open the ledger cold (as a resuming run / a streaming job would)
    # and read the COMMITTED sign table — not the in-session DataFrame
    ledger = StageLedger(workdir, config_fence=cfg.fence(), spark=spark)
    assert ledger.is_committed("sign")
    signed = ledger.output(spark, "sign").select("conv_id", "sig")
    index = index_for_stream(signed, cfg.n_perms, cfg.n_bands).localCheckpoint(eager=True)

    # new batch: near-dup of conv-a (3% token edits), exact re-delivery of
    # conv-b under a new id, and a novel conversation
    near = list(base)
    for i in range(0, 120, 40):
        near[i] = f"edit{i}"
    new_turns = (
        _turns("new-near", near)
        + _turns("new-exact", other)
        + _turns("new-novel", [f"delta{i:03d}" for i in range(100)])
    )
    new_docs = assemble_conversations(spark.createDataFrame(new_turns, schema))

    # batch flags: the same function over the static DataFrame
    kw = dict(k=cfg.k, n_perms=cfg.n_perms, n_bands=cfg.n_bands, seed=cfg.seed)
    batch_rows = stream_neardup_flags(new_docs, index, **kw).collect()

    # stream flags: file-source stream over the same docs
    src = str(tmp_path / "pipe-neardup-src")
    new_docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_neardup_flags(stream, index, **kw)
        .writeStream.format("memory")
        .queryName("pipe_neardup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = spark.sql("SELECT * FROM pipe_neardup_sink").collect()

    def norm(rows):
        return sorted((r["conv_id"], r["index_id"], round(r["est"], 9)) for r in rows)

    assert norm(stream_rows) == norm(batch_rows), "stream/batch dataflow parity"

    got = {}
    for r in stream_rows:
        key = (r["conv_id"], r["index_id"])
        got[key] = max(got.get(key, 0.0), r["est"])
    assert got.get(("new-exact", "conv-b")) == 1.0
    assert got.get(("new-near", "conv-a"), 0.0) >= 0.65
    assert not any(cid == "new-novel" for cid, _ in got)


def test_probe_bands_like_the_index(spark):
    """The probe is ``band_buckets`` with the signature passed through:
    one row per (id, band), its bucket equal to the index's — and equal to
    xxhash64 over the band's signature SLICE, the value a hand-built
    struct-array banding would compute."""
    from wdedup_spark.operators.lsh import band_buckets

    n_perms, n_bands = 16, 4
    rows = n_perms // n_bands
    signed = spark.createDataFrame(
        [(f"c{i}", [i * 1000 + j for j in range(n_perms)]) for i in range(3)],
        "conv_id string, sig array<long>",
    )
    plain = band_buckets(signed, n_perms, n_bands=n_bands)
    carried = band_buckets(signed, n_perms, n_bands=n_bands, passthrough=["sig"])
    assert carried.columns == ["band", "bucket", "id", "sig"]
    got = {(r["id"], r["band"]): (r["bucket"], list(r["sig"])) for r in carried.collect()}
    assert {k: v[0] for k, v in got.items()} == {
        (r["id"], r["band"]): r["bucket"] for r in plain.collect()
    }
    sliced = signed.select(
        "conv_id",
        "sig",
        F.posexplode(
            F.array(*[
                F.xxhash64(F.lit(b), F.slice("sig", b * rows + 1, rows))
                for b in range(n_bands)
            ])
        ).alias("band", "bucket"),
    ).collect()
    assert len(got) == len(sliced) == 3 * n_bands
    for r in sliced:
        assert got[(r["conv_id"], r["band"])] == (r["bucket"], list(r["sig"]))

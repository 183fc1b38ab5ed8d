"""Streaming NEAR-dup detection: new documents vs a static corpus index.

The batch pipeline owns corpus-vs-corpus dedup; the streaming question a
10^12-turn ingest actually asks is incremental — "is this NEW document a
near-duplicate of anything already indexed?".  That decomposes into
stateless, streaming-legal pieces:

  sign (fused pandas UDF, per batch)      — same kernel as batch
  LSH band (``lsh.band_buckets``)          — the index's own banding
  stream-static equi-join on (band,bucket) — Spark's supported shape
  MinHash lane-agreement estimate filter  — JVM zip_with/aggregate

No streaming state is needed at all (no aggregation, no watermark): every
micro-batch row is signed, banded, probed against the broadcast/static
index, and emitted with its Jaccard estimate.  The estimate is a cheap
stream-side filter only; exact verification of the flagged pairs (the
batch verify stage computes exact Jaccard for every candidate) stays
downstream in batch — the same split the batch pipeline makes between
candidates and verify.

The static side is the ledger's committed ``sign`` stage output — the
streaming path literally reuses the batch pipeline's checkpointed tables
(reference parity: wdedup resumes from its committed profiles the same
way, /root/reference/src/wmerge.cpp:62-104).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdedup_spark.operators.lsh import band_buckets
from wdedup_spark.operators.minhash import add_signatures


def index_for_stream(signed: DataFrame, n_perms: int = 128, n_bands: int = 32) -> DataFrame:
    """Static probe index from the batch ``sign`` stage output:
    one row per (band, bucket, index id, signature)."""
    # the signature rides the banding (passthrough): no join back onto
    # the corpus-sized banded rows
    return band_buckets(signed, n_perms, n_bands=n_bands, passthrough=["sig"]).select(
        "band", "bucket", F.col("id").alias("index_id"), F.col("sig").alias("index_sig")
    )


def stream_neardup_flags(
    docs: DataFrame,
    index: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    n_bands: int = 32,
    seed: int = 42,
    min_est: float = 0.65,
) -> DataFrame:
    """docs stream (conv_id, doc) × static index → flagged near-dup rows
    (conv_id, index_id, est).

    ``est`` is the MinHash lane-agreement Jaccard estimate, a JVM
    pre-filter ahead of downstream exact verification; pairs may appear
    once per colliding band (no in-stream aggregation: keeps the query
    stateless and append-only), so downstream consumers dedup on
    (conv_id, index_id) when exact-verifying.
    """
    signed = add_signatures(
        docs, "doc", k=k, n_perms=n_perms, seed=seed,
        enable_simhash=False, enable_substring=False, enable_shingles=False,
    ).select("conv_id", "sig")
    # the index's own banding, carrying the signature along: everything
    # before the stream-static join stays narrow and stateless — a
    # self-join on the stream would be an (unsupported and unnecessary)
    # stream-stream join
    probe = band_buckets(signed, n_perms, n_bands=n_bands, passthrough=["sig"]).select(
        F.col("id").alias("stream_id"), "sig", "band", "bucket"
    )
    est = (
        probe.join(index, ["band", "bucket"])
        .filter(F.col("stream_id") != F.col("index_id"))
        .withColumn(
            "est",
            F.aggregate(
                F.zip_with("sig", "index_sig", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / n_perms,
        )
        .filter(F.col("est") >= min_est)
        .select(F.col("stream_id").alias("conv_id"), "index_id", "est")
    )
    return est

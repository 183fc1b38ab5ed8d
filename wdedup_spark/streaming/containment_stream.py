"""Streaming containment probe: is a NEW document a quote/superset of
anything already indexed (or vice versa)?

Same decomposition discipline as ``neardup_stream``: everything on the
stream side is per-row and stateless (shingle, order, slice-flag,
explode), and the corpus is reached through ONE stream-static equi-join.

Order choice: the prefix filter (operators/containment.py) is lossless
under ANY single consistent total token order, and batch and stream
share ONE: ``hot_token_freqs`` builds a bounded driver map of the
corpus's top-``FREQ_TOP`` hot tokens (df ≥ 2) and ``freq_order_udf``
sorts each set per row by ``(freqs.get(tk, 0), tk)`` — unmapped
(rare/unseen) tokens first by value, mapped hot tokens last by ascending
df.  The map is built once at index time and ships to executors inside
the UDF's closure, so the stream side stays stateless (exact corpus
frequencies for a stream row would need a stream-side aggregation), and
hot tokens structurally cannot enter a prefix unless a set consists of
nothing else.  Plain value order (an empty map) would let a hot
boilerplate token land in every value-ordered prefix and fatten its
posting list to O(corpus).

The index records its build ``threshold`` AND shingle ``k``
(ADVICE r4): the prefix postings are sized for the threshold, and the
stream must shingle with the same k — a lower probe threshold or a
mismatched k would silently produce false negatives, so both are
validated loudly.

Both subsumption directions ride one join on the token key against a
union of the two static posting tables, each tagged with its role:
* ``full`` postings match when the STREAM doc is the smaller set and
  the probing token lies in its prefix;
* ``prefix`` postings match when the INDEXED doc is the smaller set
  (any stream token).

The stream's shingle array rides along the token explode for the exact
verify (a stream row cannot be re-joined to itself), so a document with
n shingles amplifies to ~n rows × n-element arrays inside its
micro-batch — fine at conversation scale (hundreds of shingles), use
the batch/incremental channel for megabyte documents.

Output may contain duplicate (conv_id, index_id) rows — one per shared
candidate token; a per-batch ``dropDuplicates`` in ``foreachBatch`` (or
any downstream exact stage) collapses them.  Emitting duplicates keeps
this operator stateless.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdedup_spark.operators.containment import (
    containment_udf,
    freq_order_udf,
    hot_token_freqs,
    prefix_bound_len,
)
from wdedup_spark.operators.minhash import add_shingles


@dataclass(frozen=True)
class ContainmentIndex:
    """Static corpus side, built once from the committed sign stage.

    ``threshold`` is part of the index: the ``prefix`` postings are
    sized for it, so probing at a LOWER threshold would be lossy — the
    probe validates ``probe_t >= index.threshold``.  ``k`` is the
    shingle width the sets were built from: a stream shingled at a
    different k would silently produce near-zero containments (false
    negatives), so the probe validates it too (ADVICE r4).  ``freqs``
    is the bounded hot-token order map — the probe MUST order with the
    same map (prefix membership on both sides rides one total order)."""

    postings: DataFrame  # (tk, index_id, index_sz, side 'prefix'|'full')
    sets: DataFrame      # (index_id, index_sh) — ordered distinct shingle arrays
    threshold: float
    k: int = 3
    freqs: dict = field(default_factory=dict)


def containment_index(
    signed: DataFrame,
    threshold: float,
    id_col: str = "conv_id",
    shingle_col: str = "shingles",
    k: int = 3,
) -> ContainmentIndex:
    """Build the static side from a (batch) signed table — in production
    the committed sign stage outputs, exactly like ``index_for_stream``.

    ``k`` is recorded (not applied — ``signed`` is already shingled) so
    the probe can validate its own shingling against the index's."""
    t = float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    distinct = signed.select(
        F.col(id_col).alias("index_id"),
        F.array_distinct(F.col(shingle_col)).alias("dsh"),
    )
    freqs = hot_token_freqs(distinct, "dsh")
    order = freq_order_udf(freqs, distinct.schema["dsh"].dataType)
    # checkpoint: the ordered sets feed both posting roles and the verify
    # side, which a stream re-runs every micro-batch
    sets = (
        distinct.select("index_id", order(F.col("dsh")).alias("sh"))
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
        .localCheckpoint(eager=False)
    )
    plen = prefix_bound_len(F.col("sz"), t, 1)
    exploded = sets.select(
        "index_id",
        F.col("sz").alias("index_sz"),
        plen.alias("plen"),
        F.posexplode("sh").alias("pos", "tk"),
    )
    postings = exploded.select(
        "tk",
        "index_id",
        "index_sz",
        F.when(F.col("pos") < F.col("plen"), F.lit("prefix"))
        .otherwise(F.lit("full")).alias("side"),
    )
    # the 'full' role needs EVERY token (prefix tokens included): emit
    # prefix rows under both roles
    postings = postings.unionByName(
        exploded.filter(F.col("pos") < F.col("plen")).select(
            "tk", "index_id", "index_sz", F.lit("full").alias("side")
        )
    )
    return ContainmentIndex(
        postings=postings,
        sets=sets.select("index_id", F.col("sh").alias("index_sh")),
        threshold=t,
        k=k,
        freqs=freqs,
    )


def stream_containment_flags(
    docs: DataFrame,
    index: ContainmentIndex,
    threshold: float | None = None,
    k: int | None = None,
) -> DataFrame:
    """Streaming documents (conv_id, doc) → rows flagging containment
    pairs with anything indexed: (conv_id, index_id, containment).

    ``threshold`` defaults to the index's; a lower value is rejected —
    the index's prefix postings are sized for ``index.threshold``, so
    probing below it would silently drop pairs in the indexed-smaller
    direction.  ``k`` defaults to the index's and a MISMATCH is
    rejected: shingling the stream at a different width than the index
    was built from yields near-zero containments — false negatives, not
    an error, unless refused here (ADVICE r4).  May emit duplicate pair
    rows (see module docstring)."""
    t = index.threshold if threshold is None else float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    if t < index.threshold:
        raise ValueError(
            f"probe threshold {t} below the index build threshold "
            f"{index.threshold}: the committed prefix postings are too "
            "short for lossless candidates — rebuild the index"
        )
    if k is None:
        k = index.k
    elif k != index.k:
        raise ValueError(
            f"stream shingle k={k} does not match the index's k={index.k}: "
            "cross-k containments are near-zero by construction (silent "
            "false negatives) — shingle the stream with the index's k or "
            "rebuild the index"
        )
    # ONE shingle pass (the signing kernel asked for shingles only — no
    # MinHash lanes) and ONE posexplode; the prefix membership is a
    # per-token flag, so both subsumption directions come out of a
    # single stream-static join below.  Ordering uses the index's static
    # hot-token map — per-row, stateless, same total order as the
    # postings were built under.
    shingled = add_shingles(docs, "doc", k=k)
    order = freq_order_udf(index.freqs, shingled.schema["shingles"].dataType)
    signed = (
        shingled.select(
            F.col("conv_id").alias("stream_id"),
            order(F.array_distinct("shingles")).alias("sh"),
        )
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") > 0)
    )
    exploded = signed.select(
        "stream_id", "sh", "sz",
        prefix_bound_len(F.col("sz"), t, 1).alias("plen"),
        F.posexplode("sh").alias("pos", "tk"),
    )
    cands = (
        exploded.join(index.postings, "tk")
        .filter(
            (
                # stream doc smaller: its prefix token hits the larger
                # indexed set's full postings
                (F.col("side") == "full")
                & (F.col("pos") < F.col("plen"))
                & (F.col("sz") <= F.col("index_sz"))
            )
            | (
                # indexed doc smaller: its prefix posting hits any
                # stream token
                (F.col("side") == "prefix")
                & (F.col("index_sz") <= F.col("sz"))
            )
        )
        .filter(F.col("stream_id") != F.col("index_id"))
        .select("stream_id", "sh", "index_id")
    )
    return (
        cands.join(index.sets, "index_id")
        .withColumn("containment", containment_udf(F.col("sh"), F.col("index_sh")))
        .filter(F.col("containment") >= t)
        .select(F.col("stream_id").alias("conv_id"), "index_id", "containment")
    )

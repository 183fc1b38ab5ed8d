"""Exact long-substring duplicate pass (fixture D3) — winnowing anchors.

The distributed replacement for a suffix-array scan: documents sharing a
verbatim token span of length >= ``guarantee`` tokens share at least one
*winnowing fingerprint* (Schleimer, Wilkerson, Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003).  Winnowing selects
the min k-gram hash in every window of W consecutive k-grams — a
content-defined, alignment-free sample with the guarantee
``detectable span >= W + k - 1`` tokens.

Pipeline shape mirrors the LSH path exactly (anchor = band bucket):
  anchors (narrow: the signing kernel, minhash.sign_udf, asked for
  anchors only) → explode anchors → bucket groupBy → candidate pairs →
  verify longest common token run (verify.verify_pairs).

vs a true distributed suffix array (per-partition suffix arrays + k-mer
anchor join across partitions, SURVEY.md §2.1): winnowing gives the same
cross-partition detection guarantee for spans >= W+k-1 with one shuffle
and no O(n log n) per-partition construction; the trade-off is the span
floor.  Verification is exact, so no false positives.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from wdedup_spark.functions import hashing
from wdedup_spark.operators.lsh import candidate_pairs
from wdedup_spark.operators.minhash import add_signatures

DEFAULT_KGRAM = 16
DEFAULT_WINDOW = 48  # guarantee: spans >= 48+16-1 = 63 tokens are detected


def winnow_from_grams(grams: np.ndarray, w: int) -> np.ndarray:
    """Distinct winnowing fingerprints of one document's k-gram hash
    sequence (the batch kernels supply the grams)."""
    n = len(grams)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n <= w:
        return np.unique(grams.min(keepdims=True))
    # sliding-window minimum via stride trick (w windows are small; use
    # numpy min over a strided view — O(n*w) worst case but w is constant)
    view = np.lib.stride_tricks.sliding_window_view(grams, w)
    return np.unique(view.min(axis=1))


def _common_run(ta: np.ndarray, tb: np.ndarray, k: int) -> int:
    """Longest common token run (>= k tokens) via k-gram seed chaining.

    Exact for runs of length >= k: a common substring of L tokens is a
    run of L-k+1 consecutive matching k-grams, tracked per diagonal in
    O(#gram-matches) — the seed-and-extend idea (BLAST-style) instead of
    O(n·m) DP.  Runs shorter than k tokens report 0 (callers use
    min_span >> k).  Upper bound on the result: the longest stretch of
    consecutive positions whose gram is shared, plus k - 1.  The count
    of shared distinct grams bounds nothing: a run of one repeated token
    shares a single distinct gram however long it is.
    """
    if len(ta) == 0 or len(tb) == 0:
        return 0
    kk = min(k, len(ta), len(tb))
    ga = hashing.shingle_hashes_seq(ta, kk)
    gb = hashing.shingle_hashes_seq(tb, kk)
    shared = np.intersect1d(np.unique(ga), np.unique(gb))
    if len(shared) == 0:
        return 0
    # positions of shared grams only (bounds the match set)
    pos_a: dict[int, list[int]] = {}
    sset = set(shared.tolist())
    for i, g in enumerate(ga.tolist()):
        if g in sset:
            pos_a.setdefault(g, []).append(i)
    best = 0
    prev: dict[int, int] = {}  # i -> consecutive-match run ending at (i, j-1)
    for j, g in enumerate(gb.tolist()):
        cur: dict[int, int] = {}
        for i in pos_a.get(g, ()):
            cur[i] = prev.get(i - 1, 0) + 1
            if cur[i] > best:
                best = cur[i]
        prev = cur
    return best + kk - 1 if best else 0


@pandas_udf(IntegerType())
def common_run_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Longest common token run between two texts (exact for runs >= the
    seed width; see _common_run): the per-row reference for the common
    run ``verify.verify_kernel`` decides substring candidates with.
    Both sides of the batch are tokenized and hashed in one
    ``split_hash_batch`` pass; null texts count as empty."""
    n = len(a)
    flat, off = hashing.split_hash_batch(pd.concat([a, b], ignore_index=True))
    return pd.Series(
        np.fromiter(
            (
                _common_run(flat[off[i]:off[i + 1]], flat[off[n + i]:off[n + i + 1]], DEFAULT_KGRAM)
                for i in range(n)
            ),
            dtype=np.int32,
            count=n,
        )
    )


def substring_candidates(
    df: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    k: int = DEFAULT_KGRAM,
    w: int = DEFAULT_WINDOW,
    min_span: int = 100,
    max_bucket: int | None = 64,
) -> DataFrame:
    """→ (conv_a, conv_b, common_run) for pairs sharing a verbatim token
    span of >= min_span tokens (min_span must be >= w + k - 1).

    With ``max_bucket=None`` the winnowing guarantee (spans >= w + k - 1
    share an anchor) plus the exact common-run verification make the
    output EXACTLY the all-pairs common-run >= min_span set — the
    contract the DuckDB diagonal-islands oracle checks.  A cap bounds hot
    anchors (boilerplate spans shared by thousands of docs) at scale with
    star edges.
    """
    # checkpoint: the winnowing pass feeds the anchor explode AND both
    # sides of the verify join — without this it executes three times
    # per query (r6)
    fp = add_signatures(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("doc")), "doc",
        n_perms=0, enable_simhash=False, substring_k=k, substring_w=w,
        enable_shingles=False,
    ).select("id", "doc", "anchors").localCheckpoint(eager=False)
    anchored = fp.select("id", F.explode("anchors").alias("bucket")).withColumn(
        "band", F.lit(0)
    )
    # local import: verify imports this module's _common_run
    from wdedup_spark.operators.verify import verify_pairs

    cands = candidate_pairs(anchored, max_bucket).withColumn(
        "via", F.array(F.lit("substring"))
    )
    docs = fp.select(F.col("id").alias("conv_id"), "doc")
    # the kernel also keeps Jaccard passes (threshold 1.0: identical
    # k-gram sets), so the run filter decides
    return (
        verify_pairs(cands, docs, k, 1.0, min_span)
        .filter(F.col("common_run") >= min_span)
        .select("conv_a", "conv_b", "common_run")
    )

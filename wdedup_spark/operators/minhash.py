"""Shingling + MinHash signatures as vectorized pandas UDFs.

Replaces the reference's per-segment in-memory dedup structure
(/root/reference/src/wtreededup.cpp:59-96) as the "compress before you
shuffle" step: a conversation document of arbitrary size becomes a fixed
``n_perms × 8``-byte signature *before* any exchange.  SURVEY.md §7 "sign
before shuffle" — at 10^12-turn scale wide stages ship 1 KB signatures,
never raw text.

All kernels are Arrow-batched pandas UDFs (north_rule: "vectorized
pandas/Arrow UDFs (no per-row Python)"): the per-row work is numpy over
uint64 arrays; Python-level loops touch only O(tokens) hashing with a
batch-level memo (functions/hashing.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wdedup_spark.functions import hashing

DEFAULT_K = 3
DEFAULT_NUM_PERMS = 128
DEFAULT_SEED = 42


def shingle_udf(k: int = DEFAULT_K):
    """text → array<long> of distinct hashed k-token-shingles.

    Whole-batch vectorized (r6, guide §4.2): one tokenize+factorize pass,
    one global windowed-hash pass, one lexsort — no per-doc Python loop.
    Bit-identical to the per-doc kernels (tests/test_hashing_batch.py)."""

    @pandas_udf("array<long>")
    def _shingle(texts: pd.Series) -> pd.Series:
        import numpy as np

        if len(texts) == 0:
            return pd.Series([], dtype=object)
        flat_h, offsets = hashing.split_hash_batch(texts)
        grams, go = hashing.batch_shingle_seq(flat_h, offsets, k)
        sets, so = hashing.batch_unique_sets(grams, go)
        return pd.Series(np.split(sets.view(np.int64), so[1:-1]))

    return _shingle


def sign_udf(
    k: int = DEFAULT_K,
    n_perms: int = DEFAULT_NUM_PERMS,
    seed: int = DEFAULT_SEED,
    enable_simhash: bool = True,
    enable_substring: bool = True,
    substring_k: int = 16,
    substring_w: int = 48,
):
    """Fused signing kernel: ONE pandas UDF computing every signature the
    pipeline needs — shingle set, MinHash signature, SimHash, winnowing
    anchors — from one tokenization pass per document.

    vs separate UDFs: one Arrow round-trip instead of four, and token
    hashing runs once instead of four times.  This is the hot kernel of
    the whole engine (the analog of the reference's single-pass
    tokenize+insert loop, /root/reference/src/wprof.cpp:243-275).
    """
    a, b = hashing.minhash_params(n_perms, seed)

    @pandas_udf(
        "struct<shingles:array<long>, sig:array<long>, simhash:long, anchors:array<long>>"
    )
    def _sign(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        n = len(texts)
        if n == 0:
            return pd.DataFrame(
                {"shingles": [], "sig": [],
                 "simhash": pd.Series([], dtype="int64"), "anchors": []}
            )
        # whole-batch vectorized pipeline (r6, guide §4.2): tokenization +
        # token hashing (one factorize, blake2b per distinct token), the
        # k-gram windowed hash, per-doc set dedup, MinHash and SimHash all
        # run as a few numpy passes over flattened ragged arrays instead
        # of a per-document Python loop — bit-identical outputs
        # (tests/test_hashing_batch.py pins parity with the per-doc
        # kernels on every edge shape)
        flat_h, offsets = hashing.split_hash_batch(texts)
        grams, go = hashing.batch_shingle_seq(flat_h, offsets, k)
        sets, so = hashing.batch_unique_sets(grams, go)
        shingles = np.split(sets.view(np.int64), so[1:-1])
        sigs = list(hashing.batch_minhash(sets, so, a, b).view(np.int64))
        if enable_simhash:
            simhashes = hashing.batch_simhash(grams, go).view(np.int64)
        else:
            simhashes = np.zeros(n, dtype=np.int64)
        if enable_substring:
            from wdedup_spark.operators.substring import winnow_from_grams

            sgrams, sgo = hashing.batch_shingle_seq(flat_h, offsets, substring_k)
            anchors = [
                hashing.to_i64(winnow_from_grams(sgrams[sgo[i]:sgo[i + 1]], substring_w))
                for i in range(n)
            ]
        else:
            anchors = [[]] * n
        return pd.DataFrame(
            {"shingles": shingles, "sig": sigs,
             "simhash": pd.Series(simhashes, dtype="int64"), "anchors": anchors}
        )

    return _sign


def add_signatures(
    df: DataFrame,
    text_col: str = "doc",
    k: int = DEFAULT_K,
    n_perms: int = DEFAULT_NUM_PERMS,
    seed: int = DEFAULT_SEED,
    enable_simhash: bool = True,
    enable_substring: bool = True,
    substring_k: int = 16,
    substring_w: int = 48,
) -> DataFrame:
    """Attach all signatures in one fused pass: + shingles, sig, simhash,
    anchors columns."""
    s = sign_udf(k, n_perms, seed, enable_simhash, enable_substring, substring_k, substring_w)
    return df.withColumn("_s", s(F.col(text_col))).select("*", "_s.*").drop("_s")


def add_shingles(df: DataFrame, text_col: str = "doc", k: int = DEFAULT_K, out_col: str = "shingles") -> DataFrame:
    return df.withColumn(out_col, shingle_udf(k)(F.col(text_col)))

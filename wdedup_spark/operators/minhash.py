"""The signing kernel: text → shingle set, MinHash signature, SimHash and
winnowing anchors, as ONE vectorized pandas UDF.

Replaces the reference's per-segment in-memory dedup structure
(/root/reference/src/wtreededup.cpp:59-96) as the "compress before you
shuffle" step: a conversation document of arbitrary size becomes a fixed
``n_perms × 8``-byte signature *before* any exchange.  SURVEY.md §7 "sign
before shuffle" — at 10^12-turn scale wide stages ship 1 KB signatures,
never raw text.

Every caller (pipeline, queries, streams) asks ``sign_udf`` for only the
fields it reads.  The per-row work is numpy over uint64 arrays; Python
loops touch only O(tokens) hashing with a batch memo (functions/hashing.py).
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


def sign_udf(
    k: int = DEFAULT_K,
    n_perms: int = DEFAULT_NUM_PERMS,
    seed: int = DEFAULT_SEED,
    enable_simhash: bool = True,
    enable_substring: bool = True,
    substring_k: int = 16,
    substring_w: int = 48,
    enable_shingles: bool = True,
):
    """Fused signing kernel: ONE pandas UDF computing the signatures a
    caller asks for — shingle set (``enable_shingles``), MinHash signature
    (``n_perms`` lanes; 0 asks for none), SimHash (``enable_simhash``),
    winnowing anchors (``enable_substring``) — from one tokenization pass
    per document.

    The output struct has a fixed schema whatever is asked for; a field
    nobody asked for comes out empty (``[]``) or 0, and only the work the
    asked fields need runs: k-grams for shingles, sig or simhash, the
    per-doc set dedup for shingles or sig, MinHash only for n_perms > 0.

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
        # whole-batch vectorized pipeline (r6, guide §4.2): tokenization +
        # token hashing (one factorize, blake2b per distinct token), the
        # k-gram windowed hash, per-doc set dedup, MinHash and SimHash all
        # run as a few numpy passes over flattened ragged arrays instead
        # of a per-document Python loop — bit-identical outputs
        # (tests/test_hashing_batch.py pins parity with the per-doc
        # kernels on every edge shape)
        flat_h, offsets = hashing.split_hash_batch(texts)
        shingles = sigs = anchors = [[]] * n
        simhashes = np.zeros(n, dtype=np.int64)
        if enable_shingles or n_perms or enable_simhash:
            grams, go = hashing.batch_shingle_seq(flat_h, offsets, k)
            if enable_shingles or n_perms:
                sets, so = hashing.batch_unique_sets(grams, go)
                if n_perms:
                    sigs = list(hashing.batch_minhash(sets, so, a, b).view(np.int64))
                if enable_shingles:
                    sets = sets.view(np.int64)
                    shingles = [sets[so[i]:so[i + 1]] for i in range(n)]
            if enable_simhash:
                simhashes = hashing.batch_simhash(grams, go).view(np.int64)
        if enable_substring:
            from wdedup_spark.operators.substring import winnow_from_grams

            sgrams, sgo = hashing.batch_shingle_seq(flat_h, offsets, substring_k)
            anchors = [
                hashing.to_i64(winnow_from_grams(sgrams[sgo[i]:sgo[i + 1]], substring_w))
                for i in range(n)
            ]
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
    enable_shingles: bool = True,
) -> DataFrame:
    """Attach all signatures in one fused pass: + shingles, sig, simhash,
    anchors columns (the fields not asked for are empty or 0)."""
    s = sign_udf(
        k, n_perms, seed, enable_simhash, enable_substring, substring_k, substring_w,
        enable_shingles,
    )
    return df.withColumn("_s", s(F.col(text_col))).select("*", "_s.*").drop("_s")


def add_shingles(df: DataFrame, text_col: str = "doc", k: int = DEFAULT_K) -> DataFrame:
    """+ the distinct hashed k-shingle set as ``shingles``: the signing
    kernel asked for shingles only (no MinHash lanes, SimHash or
    anchors)."""
    return add_signatures(
        df, text_col, k, n_perms=0, enable_simhash=False, enable_substring=False
    ).drop("sig", "simhash", "anchors")

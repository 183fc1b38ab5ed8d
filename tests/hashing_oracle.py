"""Per-document and per-row references for the batch hashing kernels.

The engine tokenizes, shingles and signs whole Arrow batches
(``hashing.split_hash_batch``, ``batch_shingle_seq``, ``batch_unique_sets``,
``batch_simhash``).  These one-document-at-a-time versions are the parity
oracles those kernels are compared against (tests/test_hashing_batch.py,
tests/test_udf_parity.py); no engine path calls them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from wdedup_spark.functions import hashing
from wdedup_spark.operators.substring import DEFAULT_KGRAM, _common_run


class TokenHasher:
    """Memoizing per-token hasher (``hashing.token_hash`` per distinct token)."""

    def __init__(self) -> None:
        self._memo: dict[str, int] = {}

    def hash_tokens(self, tokens: list[str]) -> np.ndarray:
        memo = self._memo
        out = np.empty(len(tokens), dtype=np.uint64)
        for i, t in enumerate(tokens):
            h = memo.get(t)
            if h is None:
                h = hashing.token_hash(t)
                memo[t] = h
            out[i] = h
        return out


def shingle_hashes(token_h: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-shingle hashes of one document (its shingle set)."""
    return np.unique(hashing.shingle_hashes_seq(token_h, k))


_BIT_SHIFTS = np.arange(64, dtype=np.uint64)


def simhash(token_h: np.ndarray) -> int:
    """64-bit SimHash of one document: bitwise majority of its feature
    hashes, each weighted by its count (Charikar 2002).  Python int in
    [0, 2^64); 0 for an empty document."""
    if len(token_h) == 0:
        return 0
    vals, counts = np.unique(token_h, return_counts=True)
    w = counts.astype(np.int64)
    bits = ((vals[:, None] >> _BIT_SHIFTS[None, :]) & np.uint64(1)).astype(np.int64)
    v = (bits * w[:, None]).sum(axis=0) * 2 - w.sum()
    return sum(1 << i for i in range(64) if v[i] > 0)


def winnow(token_h: np.ndarray, k: int, w: int) -> np.ndarray:
    """Distinct winnowing fingerprints of one token-hash sequence: the
    min k-gram hash of every window of ``w`` consecutive k-grams (one
    window over all grams when there are fewer than ``w``)."""
    g = hashing.shingle_hashes_seq(token_h, k)
    if len(g) == 0:
        return np.empty(0, dtype=np.uint64)
    starts = range(max(len(g) - w + 1, 1))
    return np.unique(np.array([g[i:i + w].min() for i in starts], dtype=np.uint64))


def _toks(text) -> list[str]:
    return text.split() if text else []


def common_run_rows(a: pd.Series, b: pd.Series) -> pd.Series:
    """``substring.common_run_udf`` one pair at a time."""
    th = TokenHasher()
    return pd.Series(
        [
            _common_run(th.hash_tokens(_toks(x)), th.hash_tokens(_toks(y)), DEFAULT_KGRAM)
            for x, y in zip(a, b)
        ],
        dtype="int32",
    )


def simhash_rows(texts: pd.Series, k: int) -> pd.Series:
    """``simhash.simhash_udf(k)`` one document at a time."""
    return pd.Series(
        [hashing.to_i64(simhash(hashing.md5_shingle_hashes(_toks(t), k))) for t in texts],
        dtype="int64",
    )

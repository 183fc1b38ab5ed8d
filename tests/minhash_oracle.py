"""Per-doc MinHash reference: the parity oracle for
``hashing.batch_minhash`` (tests/test_hashing_batch.py) and the
signature-property tests.  No engine path signs one document at a time."""

from __future__ import annotations

import numpy as np


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature: ``sig[j] = min_s (a[j]*s + b[j] mod 2^64)``.

    Empty shingle set → all-max sentinel (never collides with real docs).
    """
    if len(shingles) == 0:
        return np.full(len(a), np.iinfo(np.uint64).max, dtype=np.uint64)
    # (n_shingles, n_perms) — chunk shingles to bound the temporary
    out = np.full(len(a), np.iinfo(np.uint64).max, dtype=np.uint64)
    CHUNK = 4096
    for i in range(0, len(shingles), CHUNK):
        s = shingles[i : i + CHUNK]
        out = np.minimum(out, (s[:, None] * a[None, :] + b[None, :]).min(axis=0))
    return out

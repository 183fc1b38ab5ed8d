"""Deterministic 64-bit hashing kernels shared by all signature stages.

The reference packs each word's first 8 bytes into an integer so most
comparisons are one CPU op (/root/reference/include/wbloom.hpp:50-108).
We go one step further — every token becomes a full 64-bit digest and all
downstream math is numpy ``uint64`` with C wrap-around semantics.  blake2b
is keyed-seedable, stable across processes/platforms (unlike Python's
``hash``), and implemented in C.

The kernels work on whole Arrow batches: ``split_hash_batch`` tokenizes
and hashes a batch in one pass (blake2b once per distinct token), and
the ``batch_*`` kernels shingle and sign every document of it in a
handful of numpy passes.  ``shingle_hashes_seq`` is the one per-document
kernel the engine keeps: the common-run verifier seeds on the grams of a
single candidate pair.  The per-document references the batch kernels
are tested against live in tests/hashing_oracle.py.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np

# Odd multipliers for polynomial shingle combination (splitmix64 constants).
_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)

U64 = np.uint64


def token_hash(tok: str) -> int:
    """Stable 64-bit hash of one token."""
    return int.from_bytes(blake2b(tok.encode("utf-8"), digest_size=8).digest(), "little")


def shingle_hashes_seq(token_h: np.ndarray, k: int) -> np.ndarray:
    """Positional k-shingle hashes (one per window, order preserved).

    Polynomial combination over a sliding window, fully vectorized:
    ``sh[i] = C1*h[i] + C2*h[i+1] + ... (mod 2^64)``.  For k > len(tokens)
    the whole document is one shingle.
    """
    n = len(token_h)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        k = n
    consts = _poly_consts(k)
    m = n - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(k):  # k is small (3-16); loop over window offset, vector over positions
        acc += token_h[j : j + m] * consts[j]
    return _finalize(acc)


def minhash_params(n_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed multiply-shift permutation parameters (odd a, any b).

    Determinism contract: same (n_perms, seed) → same signatures, the
    analog of the reference's deterministic merge planner
    (/root/reference/include/wdedup.hpp:114-116).
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=n_perms, dtype=np.uint64) | U64(1)
    b = rng.integers(0, 2**63, size=n_perms, dtype=np.uint64)
    return a, b


# ---------------------------------------------------------------------------
# Batch (whole-Arrow-batch) kernels — round 6 (guide §4.2): a per-document
# Python loop costs ~30-50 µs of interpreter overhead per document, which
# dominates the sign stage once the corpus is large.  These kernels
# process ALL documents of a batch in a handful of numpy passes over
# flattened ragged arrays; outputs are bit-identical to the per-document
# references in tests/hashing_oracle.py (same token_hash, same polynomial
# combination, same minhash params), verified by tests/test_hashing_batch.py.
# ---------------------------------------------------------------------------


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] for an int64 counts array."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    idx = np.arange(total, dtype=np.int64)
    return idx - np.repeat(ends - counts, counts)


def split_hash_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize + hash a whole batch of texts in one pass.

    Returns ``(flat, offsets)``: ``flat[offsets[i]:offsets[i+1]]`` are doc
    i's token hashes in order.  Token identity is resolved once per batch
    (``pd.factorize`` — C-level hashing) and blake2b runs once per
    DISTINCT token, the batch-memo idea taken to its vectorized limit.
    """
    import pandas as pd

    tok_lists = [t.split() if t else [] for t in texts]
    n = len(tok_lists)
    lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offsets
    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        flat[pos:pos + len(toks)] = toks
        pos += len(toks)
    codes, uniques = pd.factorize(flat)
    uh = np.fromiter(
        (token_hash(t) for t in uniques), dtype=np.uint64, count=len(uniques)
    )
    return uh[codes], offsets


def _poly_consts(k: int) -> np.ndarray:
    # NOTE these constants are AFFINE in the window position j, which
    # creates structural collision classes for k >= 4: two windows whose
    # token multisets have equal Σh and equal Σ j·h collide with
    # certainty (e.g. "a b b a" vs "b a a b" at k=4 — found by the r6
    # sf0.1 decontamination sweep).  Candidate-generation paths are
    # immune (exact verification downstream) and k=3 is structurally
    # safe (the only position-permutation with equal weights is the
    # identity), so these stay for signature compatibility; any path
    # that uses the HASH ITSELF as an identity (hashed decontamination)
    # must use the mixed constants below.
    return (_C1 * (np.arange(1, k + 1, dtype=np.uint64) * _C2 + _C3)) | U64(1)


def _poly_consts_mixed(k: int) -> np.ndarray:
    """Per-position constants passed through a full splitmix64-style
    finalizer — NOT affine in j, so the Σh/Σj·h collision classes of
    ``_poly_consts`` do not exist (collisions are plain 64-bit random)."""
    x = np.arange(1, k + 1, dtype=np.uint64) * _C1
    x ^= x >> U64(30)
    x *= _C2
    x ^= x >> U64(27)
    x *= _C3
    x ^= x >> U64(31)
    return x | U64(1)


def _finalize(acc: np.ndarray) -> np.ndarray:
    acc = acc * _C1
    acc ^= acc >> U64(31)
    return acc


def batch_shingle_seq(
    flat_h: np.ndarray, offsets: np.ndarray, k: int, mixed: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc positional k-shingle hashes (``shingle_hashes_seq`` for
    every doc at once).  Returns ``(grams_flat, gram_offsets)``; docs with
    ``0 < len < k`` clamp to one whole-doc shingle, empty docs yield no
    grams — identical edge semantics to the per-doc kernel.

    ``mixed=True`` uses the non-affine position constants (see
    ``_poly_consts_mixed``) — REQUIRED when the hash value itself is a
    gram identity rather than a candidate key."""
    n_docs = len(offsets) - 1
    lens = np.diff(offsets)
    m = np.where(lens == 0, 0, np.maximum(lens - k + 1, 1))
    go = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(m, out=go[1:])
    out = np.zeros(int(go[-1]), dtype=np.uint64)
    n_tot = len(flat_h)
    if n_tot == 0:
        return out, go
    cfn = _poly_consts_mixed if mixed else _poly_consts
    full = lens >= k
    n_win = n_tot - k + 1
    if full.any() and n_win > 0:
        consts = cfn(k)
        acc = np.zeros(n_win, dtype=np.uint64)
        for j in range(k):
            acc += flat_h[j:j + n_win] * consts[j]
        acc = _finalize(acc)
        starts = offsets[:-1][full]
        cnt = (lens - k + 1)[full]
        rag = _ragged_arange(cnt)
        out[np.repeat(go[:-1][full], cnt) + rag] = acc[np.repeat(starts, cnt) + rag]
    # short docs (0 < len < k): a single whole-doc gram at width len
    for short_len in range(1, k):
        sel = lens == short_len
        if not sel.any():
            continue
        consts = cfn(short_len)
        starts = offsets[:-1][sel]
        acc = np.zeros(int(sel.sum()), dtype=np.uint64)
        for j in range(short_len):
            acc += flat_h[starts + j] * consts[j]
        out[go[:-1][sel]] = _finalize(acc)
    return out, go


def batch_unique_sets(
    grams_flat: np.ndarray, gram_offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sorted distinct values (the shingle SET per doc).  One
    lexsort over (doc, gram) + adjacent-dedup instead of per-doc
    ``np.unique`` calls.  Returns ``(sets_flat, set_offsets)``."""
    n_docs = len(gram_offsets) - 1
    cnt = np.diff(gram_offsets)
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), cnt)
    order = np.lexsort((grams_flat, doc_of))
    g = grams_flat[order]
    d = doc_of[order]
    keep = np.ones(len(g), dtype=bool)
    if len(g) > 1:
        keep[1:] = (g[1:] != g[:-1]) | (d[1:] != d[:-1])
    g = g[keep]
    d = d[keep]
    so = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(d, minlength=n_docs).astype(np.int64), out=so[1:])
    return g, so


#: gram cap per minhash/simhash chunk.  Deliberately SMALL: the
#: (chunk, n_perms) uint64 working set must stay L2-resident — measured
#: on the 128-perm shape: cap 1024 (1 MB) runs the whole 524k-gram batch
#: in 0.21 s, cap 32768 (32 MB, DRAM-resident) in 3.1 s, and the DRAM
#: traffic multiplies across 32 concurrent worker processes
_BATCH_CHUNK_GRAMS = 1 << 10


def batch_minhash(
    sets_flat: np.ndarray, set_offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """MinHash signatures for every doc: one (chunk_grams, n_perms)
    product + ``minimum.reduceat`` per chunk of docs.  Empty sets get the
    all-max sentinel (never collides with a real doc).  Returns an
    ``(n_docs, n_perms)`` uint64 matrix."""
    n_docs = len(set_offsets) - 1
    out = np.full((n_docs, len(a)), np.iinfo(np.uint64).max, dtype=np.uint64)
    counts = np.diff(set_offsets)
    cap = max(_BATCH_CHUNK_GRAMS, int(counts.max()) if n_docs else 0)
    buf = np.empty((cap, len(a)), dtype=np.uint64)
    start = 0
    while start < n_docs:
        end = start + 1
        g0 = set_offsets[start]
        while end < n_docs and set_offsets[end + 1] - g0 <= cap:
            end += 1
        seg = sets_flat[g0:set_offsets[end]]
        if len(seg):
            ne = np.flatnonzero(counts[start:end] > 0) + start
            # fused into one preallocated buffer: no fresh-page temporaries
            prod = np.multiply(seg[:, None], a[None, :], out=buf[: len(seg)])
            prod += b
            out[ne] = np.minimum.reduceat(prod, set_offsets[ne] - g0, axis=0)
        start = end
    return out


_BIT_SHIFTS = np.arange(64, dtype=np.uint64)
_SIMHASH_WEIGHTS = U64(1) << _BIT_SHIFTS


def batch_simhash(grams_flat: np.ndarray, gram_offsets: np.ndarray) -> np.ndarray:
    """SimHash for every doc from its ALL-occurrence gram hashes: the
    bitwise majority over every occurrence (the count-weighted majority
    over distinct grams).  Returns an int64-viewable uint64 vector (0 for
    empty docs)."""
    n_docs = len(gram_offsets) - 1
    out = np.zeros(n_docs, dtype=np.uint64)
    counts = np.diff(gram_offsets)
    start = 0
    while start < n_docs:
        end = start + 1
        g0 = gram_offsets[start]
        while end < n_docs and gram_offsets[end + 1] - g0 <= _BATCH_CHUNK_GRAMS:
            end += 1
        seg = grams_flat[g0:gram_offsets[end]]
        if len(seg):
            ne = np.flatnonzero(counts[start:end] > 0) + start
            bits = ((seg[:, None] >> _BIT_SHIFTS[None, :]) & U64(1)).astype(np.int64)
            sums = np.add.reduceat(bits, gram_offsets[ne] - g0, axis=0)
            v = 2 * sums - counts[ne][:, None]
            out[ne] = ((v > 0).astype(np.uint64) * _SIMHASH_WEIGHTS[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        start = end
    return out


def md5_shingle_hashes(tokens: list[str], k: int) -> np.ndarray:
    """Positional k-shingle hashes derived from md5 of the shingle STRING
    (first 8 digest bytes, big-endian) — duplicates preserved.

    This is the oracle-mirrorable feature hash: DuckDB computes the exact
    same value as ``('0x' || substr(md5(s), 1, 16))::UBIGINT``, so SimHash
    bit majorities built on these features can be verified by SQL.  Slower
    than the blake2b/polynomial kernel (string join + md5 per window) —
    used by the oracle-checked query paths, not the pipeline hot path.
    """
    from hashlib import md5

    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    kk = min(k, n)
    return np.fromiter(
        (
            int.from_bytes(md5(" ".join(tokens[i : i + kk]).encode("utf-8")).digest()[:8], "big")
            for i in range(n - kk + 1)
        ),
        dtype=np.uint64,
        count=n - kk + 1,
    )


def to_i64(x: np.ndarray | int):
    """Reinterpret uint64 → int64 for Spark LongType transport."""
    if isinstance(x, np.ndarray):
        return x.view(np.int64)
    x = int(x)
    return x - (1 << 64) if x >= (1 << 63) else x

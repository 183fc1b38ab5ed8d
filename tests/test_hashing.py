"""Kernel unit tests (no Spark) — the analog of the reference's only
substantive test, wio.readwrite round-trip rigor
(/root/reference/tests/wiobase.cpp:71-102), applied to every kernel."""

import numpy as np

from wdedup_spark.functions import hashing

from hashing_oracle import TokenHasher, shingle_hashes, simhash, winnow
from minhash_oracle import minhash_signature


def test_token_hash_deterministic():
    assert hashing.token_hash("hello") == hashing.token_hash("hello")
    assert hashing.token_hash("hello") != hashing.token_hash("hellp")


def test_token_hasher_memo_matches_direct():
    th = TokenHasher()
    toks = ["a", "b", "a", "c", "a"]
    h = th.hash_tokens(toks)
    assert h[0] == h[2] == h[4] == hashing.token_hash("a")


def test_shingle_hashes_window_semantics():
    th = TokenHasher()
    h = th.hash_tokens(["a", "b", "c", "d"])
    seq = hashing.shingle_hashes_seq(h, 3)
    assert len(seq) == 2  # abc, bcd
    # same window content → same hash regardless of position
    h2 = th.hash_tokens(["x", "a", "b", "c"])
    seq2 = hashing.shingle_hashes_seq(h2, 3)
    assert seq[0] == seq2[1]
    # shorter than k: whole doc is one shingle
    assert len(hashing.shingle_hashes_seq(th.hash_tokens(["a", "b"]), 3)) == 1
    assert len(hashing.shingle_hashes_seq(np.empty(0, dtype=np.uint64), 3)) == 0


def test_minhash_identical_sets_identical_sigs():
    a, b = hashing.minhash_params(64, 42)
    th = TokenHasher()
    s1 = shingle_hashes(th.hash_tokens("the quick brown fox jumps".split()), 3)
    sig1 = minhash_signature(s1, a, b)
    sig2 = minhash_signature(s1.copy(), a, b)
    assert (sig1 == sig2).all()


def test_minhash_similarity_estimate():
    """Signature agreement rate ≈ Jaccard (within loose tolerance)."""
    rng = np.random.default_rng(0)
    n = 2000
    base = rng.integers(0, 2**63, size=n, dtype=np.uint64)
    # 90% overlap
    other = base.copy()
    other[: n // 10] = rng.integers(0, 2**63, size=n // 10, dtype=np.uint64)
    sa = np.unique(base)
    sb = np.unique(other)
    true_j = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
    a, b = hashing.minhash_params(256, 7)
    est = (minhash_signature(sa, a, b) == minhash_signature(sb, a, b)).mean()
    assert abs(est - true_j) < 0.08


def test_simhash_near_texts_near_hamming():
    th = TokenHasher()
    t1 = ("w%d " % i for i in range(300))
    base = list("tok%d" % i for i in range(300))
    h1 = simhash(th.hash_tokens(base))
    edited = base.copy()
    edited[5] = "CHANGED"
    h2 = simhash(th.hash_tokens(edited))
    ham = bin(h1 ^ h2).count("1")
    assert ham <= 12
    unrelated = ["z%d" % i for i in range(300)]
    h3 = simhash(th.hash_tokens(unrelated))
    assert bin(h1 ^ h3).count("1") > 15


def test_to_i64_roundtrip():
    x = np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)
    signed = hashing.to_i64(x)
    assert signed.dtype == np.int64
    assert (signed.view(np.uint64) == x).all()
    assert hashing.to_i64(2**64 - 1) == -1
    assert hashing.to_i64(5) == 5


def test_winnow_guarantee():
    """Docs sharing a span >= w+k-1 tokens share >= 1 fingerprint."""
    th = TokenHasher()
    shared = ["s%d" % i for i in range(63)]  # exactly w+k-1 = 63
    d1 = ["a%d" % i for i in range(100)] + shared + ["b%d" % i for i in range(50)]
    d2 = ["c%d" % i for i in range(37)] + shared + ["d%d" % i for i in range(80)]
    w1 = winnow(th.hash_tokens(d1), 16, 48)
    w2 = winnow(th.hash_tokens(d2), 16, 48)
    assert len(np.intersect1d(w1, w2)) >= 1
    # disjoint docs share nothing
    w3 = winnow(th.hash_tokens(["q%d" % i for i in range(200)]), 16, 48)
    assert len(np.intersect1d(w1, w3)) == 0

"""Parity: the r6 whole-batch vectorized kernels must be bit-identical to
the per-doc reference kernels (tests/hashing_oracle.py) on every edge
shape (empty docs, docs shorter than k, duplicate-heavy docs, long
docs)."""

from __future__ import annotations

import numpy as np
import pytest

from wdedup_spark.functions import hashing
from wdedup_spark.operators.substring import winnow_from_grams

from hashing_oracle import TokenHasher, shingle_hashes, simhash, winnow
from minhash_oracle import minhash_signature

K = 3


def _docs():
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = [
        "",
        "one",
        "two words",
        "exactly three toks",
        " ".join(rng.choice(vocab, size=40)),
        " ".join(["dup"] * 30),
        " ".join(rng.choice(vocab[:5], size=200)),
        "a b c d e f g h",
    ]
    # plus a pile of random docs of random lengths (incl. more empties)
    for n in rng.integers(0, 120, size=60):
        docs.append(" ".join(rng.choice(vocab, size=int(n))))
    return docs


def test_split_hash_batch_matches_tokenhasher():
    docs = _docs()
    flat, off = hashing.split_hash_batch(docs)
    th = TokenHasher()
    for i, d in enumerate(docs):
        ref = th.hash_tokens(d.split() if d else [])
        np.testing.assert_array_equal(flat[off[i]:off[i + 1]], ref)


@pytest.mark.parametrize("k", [1, 2, 3, 8, 16])
def test_batch_shingle_seq_matches(k):
    docs = _docs()
    flat, off = hashing.split_hash_batch(docs)
    grams, go = hashing.batch_shingle_seq(flat, off, k)
    th = TokenHasher()
    for i, d in enumerate(docs):
        ref = hashing.shingle_hashes_seq(th.hash_tokens(d.split() if d else []), k)
        np.testing.assert_array_equal(grams[go[i]:go[i + 1]], ref)


def test_batch_unique_sets_matches():
    docs = _docs()
    flat, off = hashing.split_hash_batch(docs)
    grams, go = hashing.batch_shingle_seq(flat, off, K)
    sets, so = hashing.batch_unique_sets(grams, go)
    th = TokenHasher()
    for i, d in enumerate(docs):
        ref = shingle_hashes(th.hash_tokens(d.split() if d else []), K)
        np.testing.assert_array_equal(sets[so[i]:so[i + 1]], ref)


def test_batch_minhash_matches():
    docs = _docs()
    a, b = hashing.minhash_params(128, 42)
    flat, off = hashing.split_hash_batch(docs)
    grams, go = hashing.batch_shingle_seq(flat, off, K)
    sets, so = hashing.batch_unique_sets(grams, go)
    sigs = hashing.batch_minhash(sets, so, a, b)
    th = TokenHasher()
    for i, d in enumerate(docs):
        sset = shingle_hashes(th.hash_tokens(d.split() if d else []), K)
        np.testing.assert_array_equal(sigs[i], minhash_signature(sset, a, b))


def test_batch_minhash_chunking_boundary(monkeypatch):
    # force tiny chunks so the doc-chunk loop and empty-doc handling at
    # chunk boundaries are exercised
    monkeypatch.setattr(hashing, "_BATCH_CHUNK_GRAMS", 7)
    test_batch_minhash_matches()


def test_batch_simhash_matches():
    docs = _docs()
    flat, off = hashing.split_hash_batch(docs)
    grams, go = hashing.batch_shingle_seq(flat, off, K)
    sims = hashing.batch_simhash(grams, go)
    th = TokenHasher()
    for i, d in enumerate(docs):
        seq = hashing.shingle_hashes_seq(th.hash_tokens(d.split() if d else []), K)
        assert int(sims[i]) == simhash(seq)


def test_winnow_from_grams_matches_winnow():
    docs = _docs()
    th = TokenHasher()
    for d in docs:
        h = th.hash_tokens(d.split() if d else [])
        ref = winnow(h, 16, 48)
        got = winnow_from_grams(hashing.shingle_hashes_seq(h, 16), 48)
        np.testing.assert_array_equal(got, ref)


def test_empty_batch():
    flat, off = hashing.split_hash_batch([])
    assert len(flat) == 0 and list(off) == [0]
    grams, go = hashing.batch_shingle_seq(flat, off, K)
    assert len(grams) == 0 and list(go) == [0]
    sets, so = hashing.batch_unique_sets(grams, go)
    assert len(sets) == 0 and list(so) == [0]
    assert hashing.batch_minhash(sets, so, *hashing.minhash_params(8, 1)).shape == (0, 8)
    assert len(hashing.batch_simhash(grams, go)) == 0

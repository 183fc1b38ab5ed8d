"""Property-based kernel tests (hypothesis) — no Spark session needed.

The reference's only rigorous test is an I/O round-trip
(/root/reference/tests/wiobase.cpp:71-102); these apply the same
round-trip/invariant rigor to the dedup kernels over randomized inputs.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from wdedup_spark.functions import hashing
from wdedup_spark.operators.substring import _common_run

from hashing_oracle import TokenHasher, shingle_hashes, winnow
from minhash_oracle import minhash_signature

token = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
tokens = st.lists(token, min_size=0, max_size=60)


@settings(max_examples=60, deadline=None)
@given(tokens)
def test_shingle_set_is_order_of_windows_invariant(toks):
    """Same token sequence → same shingle set, twice (determinism)."""
    th = TokenHasher()
    h = th.hash_tokens(toks)
    a = shingle_hashes(h, 3)
    b = shingle_hashes(TokenHasher().hash_tokens(list(toks)), 3)
    assert (a == b).all()


@settings(max_examples=60, deadline=None)
@given(tokens, tokens)
def test_minhash_agreement_bounded_by_membership(xs, ys):
    """Identical sets → identical signatures; disjoint non-empty sets →
    (almost surely) different signatures."""
    th = TokenHasher()
    a, b = hashing.minhash_params(32, 42)
    sx = shingle_hashes(th.hash_tokens(xs), 3)
    sy = shingle_hashes(th.hash_tokens(ys), 3)
    sig_x = minhash_signature(sx, a, b)
    sig_x2 = minhash_signature(sx.copy(), a, b)
    assert (sig_x == sig_x2).all()
    if set(sx.tolist()) == set(sy.tolist()):
        assert (sig_x == minhash_signature(sy, a, b)).all()


@settings(max_examples=40, deadline=None)
@given(tokens, tokens, st.integers(min_value=2, max_value=5))
def test_common_run_matches_naive_dp(xs, ys, k):
    """Seed-chained common run == naive O(n·m) longest-common-substring DP
    whenever the true common run is >= k tokens (else 0 reported)."""
    th = TokenHasher()
    ta, tb = th.hash_tokens(xs), th.hash_tokens(ys)
    got = _common_run(ta, tb, k)
    # naive DP over tokens
    best = 0
    if len(ta) and len(tb):
        prev = np.zeros(len(ta), dtype=np.int32)
        for hb in tb:
            eq = ta == hb
            cur = np.zeros(len(ta), dtype=np.int32)
            cur[eq] = 1
            cur[1:][eq[1:]] += prev[:-1][eq[1:]]
            best = max(best, int(cur.max()) if len(cur) else 0)
            prev = cur
    kk = min(k, len(ta), len(tb)) if len(ta) and len(tb) else k
    if best >= kk:
        assert got == best
    else:
        assert got == 0


def test_common_run_repeated_token_run():
    """A run of one repeated token shares a single distinct 16-gram, yet
    the common run is the whole stretch: the bound on ``_common_run`` is
    the longest stretch of consecutive shared-gram positions + k - 1,
    not the shared distinct-gram count + k - 1."""
    th = TokenHasher()
    a = th.hash_tokens(["x"] + ["ok"] * 100 + ["y"])
    b = th.hash_tokens(["ok"] * 120)
    ga = shingle_hashes(a, 16)
    gb = shingle_hashes(b, 16)
    assert len(np.intersect1d(ga, gb)) == 1
    assert _common_run(a, b, 16) == 100


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=200), st.integers(min_value=63, max_value=120))
def test_winnow_shared_span_guarantee(prefix_len, span_len):
    """Any two docs sharing a verbatim span >= w+k-1 (=63) tokens share at
    least one winnowing fingerprint — for arbitrary alignment."""
    th = TokenHasher()
    span = [f"s{i}" for i in range(span_len)]
    d1 = [f"a{i}" for i in range(prefix_len)] + span + ["z1"]
    d2 = [f"b{i}" for i in range(37)] + span + [f"c{i}" for i in range(11)]
    w1 = winnow(th.hash_tokens(d1), 16, 48)
    w2 = winnow(th.hash_tokens(d2), 16, 48)
    assert len(np.intersect1d(w1, w2)) >= 1


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=50))
def test_to_i64_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (hashing.to_i64(arr).view(np.uint64) == arr).all()
    for v in vals:
        signed = hashing.to_i64(v)
        assert signed % (1 << 64) == v % (1 << 64)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10**7), st.integers(min_value=1, max_value=100))
def test_containment_prefix_bound_float_safe(sz, t_pct):
    """Model-level check of the round-before-ceil trick (the production
    Spark Column itself — HALF_UP rounding — is pinned against exact
    rational arithmetic over a grid in
    tests/test_containment.py::test_prefix_bound_production_expression_vs_exact)."""
    import math
    from fractions import Fraction

    t = t_pct / 100.0
    got_alpha = math.ceil(round(sz * t, 6))
    want_alpha = math.ceil(Fraction(t_pct, 100) * sz)
    assert got_alpha == want_alpha

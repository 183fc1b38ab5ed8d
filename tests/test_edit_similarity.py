"""Edit-distance verifier tests vs a plain-Python Levenshtein oracle.

The token-level similarity is the pipeline's edit check inside
``verify.verify_kernel``; it is read off the kernel's verdict at the
oracle value (passes) and at the next float above it (fails)."""

import numpy as np
import pandas as pd
import pytest

from wdedup_spark.operators.verify import verify_kernel


def _lev(a, b):
    a, b = a.split(), b.split()
    n, m = len(a), len(b)
    dp = list(range(n + 1))
    for j in range(1, m + 1):
        prev_diag, dp[0] = dp[0], j
        for k in range(1, n + 1):
            cur = min(prev_diag + (a[k - 1] != b[j - 1]), dp[k] + 1, dp[k - 1] + 1)
            prev_diag, dp[k] = dp[k], cur
    return dp[n]


CASES = [
    ("a b c d e", "a b c d e"),
    ("a b c d e", "a b x d e"),
    ("a b c d e", "b c d e"),
    ("a b c d e", "a b c d e f g"),
    ("a b", "x y z"),
    ("", "a b"),
    ("", ""),
    ("q w e r t y u i o p", "q w r t t y u u o p"),
]


def _edit_verified(ta, tb, edit_threshold):
    """Does the kernel's edit channel pass (ta, tb) at ``edit_threshold``?
    Jaccard can never pass (threshold 2) and every pair gets the edit
    check (floor -1)."""
    pdf = pd.DataFrame(
        {"conv_a": ["a"], "conv_b": ["b"], "via": [np.array(["minhash"], dtype=object)],
         "doc_a": [ta], "doc_b": [tb]}
    )
    out = verify_kernel(pdf, 3, 2.0, 100, -1.0, edit_threshold)
    assert all(v == ["edit"] for v in out["via"])
    return len(out) == 1


def _assert_similarity(ta, tb, want):
    assert _edit_verified(ta, tb, want), (ta, tb)
    assert not _edit_verified(ta, tb, np.nextafter(want, np.inf)), (ta, tb)


def test_edit_similarity_matches_oracle():
    for ta, tb in CASES:
        na, nb = len(ta.split()), len(tb.split())
        if na == 0 and nb == 0:
            want = 1.0
        elif na == 0 or nb == 0:
            want = 0.0
        else:
            want = 1.0 - _lev(ta, tb) / max(na, nb)
        _assert_similarity(ta, tb, want)


def test_edit_similarity_random_vs_oracle():
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(30)]
    for _ in range(40):
        n, m = rng.integers(1, 40, 2)
        ta = " ".join(rng.choice(vocab, n))
        tb = " ".join(rng.choice(vocab, m))
        want = 1.0 - _lev(ta, tb) / max(n, m)
        _assert_similarity(ta, tb, want)


def _lev_chars(a, b):
    n, m = len(a), len(b)
    dp = list(range(n + 1))
    for j in range(1, m + 1):
        prev_diag, dp[0] = dp[0], j
        for k in range(1, n + 1):
            cur = min(prev_diag + (a[k - 1] != b[j - 1]), dp[k] + 1, dp[k - 1] + 1)
            prev_diag, dp[k] = dp[k], cur
    return dp[n]


def test_edit_similarity_bytes_matches_duckdb(spark):
    """Byte-level kernel == DuckDB levenshtein (the oracle contract of
    edit_dup_pairs) — DuckDB compares utf-8 BYTES, so the engine does
    too, with strlen() byte denominators."""
    import duckdb

    from wdedup_spark.operators.verify import edit_similarity_bytes_udf

    cases = [
        ("kitten", "sitting"),
        ("hello world", "hello wurld"),
        ("", "abc"),
        ("", ""),
        ("über straße", "uber strasse"),
        ("the quick brown fox", "the quick brown fox"),
        ("a" * 200, "a" * 180 + "b" * 20),
    ]
    pdf = pd.DataFrame(cases, columns=["ta", "tb"])
    got = (
        spark.createDataFrame(pdf)
        .select("ta", "tb", edit_similarity_bytes_udf("ta", "tb").alias("sim"))
        .toPandas()
    )
    con = duckdb.connect()
    for r in got.itertuples(index=False):
        want_d = con.execute("SELECT levenshtein(?, ?)", [r.ta, r.tb]).fetchone()[0]
        assert want_d == _lev_chars(r.ta.encode("utf-8"), r.tb.encode("utf-8"))
        mx = max(len(r.ta.encode("utf-8")), len(r.tb.encode("utf-8")))
        want = 1.0 if mx == 0 else 1.0 - want_d / mx
        assert abs(r.sim - want) < 1e-12, (r.ta, r.tb)

"""The two text UDFs that tokenize whole Arrow batches must equal their
one-row-at-a-time references (tests/hashing_oracle.py) on every edge
shape, however the rows are split into batches:

* ``substring.common_run_udf`` — ``split_hash_batch`` over both sides;
* ``simhash.simhash_udf(k)`` — per-doc md5 features, one
  ``batch_simhash`` majority pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wdedup_spark.functions import hashing
from wdedup_spark.operators.simhash import simhash_udf
from wdedup_spark.operators.substring import common_run_udf

from hashing_oracle import common_run_rows, simhash_rows


def _docs() -> list:
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    shared = " ".join(f"s{i}" for i in range(30))
    docs = [
        "",
        None,
        "one",
        "two words",
        "exactly three toks",
        " ".join(f"t{i}" for i in range(15)),  # shorter than 16 tokens
        " ".join(f"t{i}" for i in range(16)),  # exactly 16
        "x " + shared + " y",
        "a b " + shared,
        shared,
        " ".join(["dup"] * 40),
        "  spaced\tout \n tokens  here ",
    ]
    for n in rng.integers(0, 80, size=40):
        docs.append(" ".join(rng.choice(vocab, size=int(n))))
    return docs


def _pairs():
    docs = _docs()
    rng = np.random.default_rng(9)
    ia = list(range(len(docs))) + list(rng.integers(0, len(docs), size=60))
    ib = list(reversed(range(len(docs)))) + list(rng.integers(0, len(docs), size=60))
    # every doc against itself too: full-length runs, empty vs empty
    ia += list(range(len(docs)))
    ib += list(range(len(docs)))
    a = pd.Series([docs[i] for i in ia], dtype=object)
    b = pd.Series([docs[i] for i in ib], dtype=object)
    return a, b


def _batched(fn, parts: int, *cols: pd.Series) -> pd.Series:
    bounds = np.linspace(0, len(cols[0]), parts + 1).astype(int)
    return pd.concat(
        [
            fn(*[c.iloc[s:e].reset_index(drop=True) for c in cols])
            for s, e in zip(bounds[:-1], bounds[1:])
        ],
        ignore_index=True,
    )


@pytest.mark.parametrize("parts", [1, 3, 17])
def test_common_run_udf_matches_per_row(spark, parts):
    a, b = _pairs()
    want = common_run_rows(a, b)
    assert (want > 0).any() and (want == 0).any()
    got = _batched(common_run_udf.func, parts, a, b)
    assert got.dtype == np.int32
    assert got.tolist() == want.tolist()


def test_common_run_udf_empty_batch(spark):
    got = common_run_udf.func(pd.Series([], dtype=object), pd.Series([], dtype=object))
    assert len(got) == 0


@pytest.mark.parametrize("k", [1, 3, 5])
@pytest.mark.parametrize("parts", [1, 4, 23])
def test_simhash_udf_matches_per_doc(spark, k, parts):
    texts = pd.Series(_docs(), dtype=object)
    want = simhash_rows(texts, k)
    got = _batched(simhash_udf(k).func, parts, texts)
    assert got.dtype == np.int64
    assert got.tolist() == want.tolist()
    assert got.iloc[0] == got.iloc[1] == 0  # empty and null docs


def test_simhash_udf_chunk_boundaries(spark, monkeypatch):
    # tiny majority chunks: documents straddle the chunk loop everywhere
    monkeypatch.setattr(hashing, "_BATCH_CHUNK_GRAMS", 5)
    texts = pd.Series(_docs(), dtype=object)
    assert simhash_udf(3).func(texts).tolist() == simhash_rows(texts, 3).tolist()


def test_simhash_udf_empty_batch(spark):
    assert len(simhash_udf(3).func(pd.Series([], dtype=object))) == 0

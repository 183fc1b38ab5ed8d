"""The signing kernel (``minhash.sign_udf``) in each field mode its callers
use.

Every caller asks the one kernel for only the fields it reads:

* full — the pipeline's sign stage (shingles, sig, simhash, anchors);
* shingles — ``add_shingles`` (containment query and stream);
* anchors — ``substring_candidates``;
* sig — ``_signed_candidates`` and ``stream_neardup_flags``.

In every mode an asked field equals the full kernel's column bit for bit,
a field nobody asked for is empty or 0, and ``shingles`` / ``anchors``
equal the per-document oracles.  The rewired callers with a checkpoint
run the kernel exactly once per query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wdedup_spark.operators.minhash import sign_udf

from hashing_oracle import TokenHasher, shingle_hashes, winnow
from test_hashing_batch import K, _docs

N_PERMS, SEED, SUB_K, SUB_W = 32, 42, 16, 48
FIELDS = ("shingles", "sig", "simhash", "anchors")

# mode → (sign_udf arguments after k, the fields asked for)
MODES = {
    "full": ((N_PERMS, SEED, True, True, SUB_K, SUB_W, True), FIELDS),
    "shingles": ((0, SEED, False, False, SUB_K, SUB_W, True), ("shingles",)),
    "anchors": ((0, SEED, False, True, SUB_K, SUB_W, False), ("anchors",)),
    "sig": ((N_PERMS, SEED, False, False, SUB_K, SUB_W, False), ("sig",)),
}


def _texts() -> pd.Series:
    # null, empty, shorter than k, duplicate-heavy and long docs
    return pd.Series([None, *_docs(), None], dtype=object)


def _kernel(mode: str):
    args, _ = MODES[mode]
    return sign_udf(K, *args).func


@pytest.fixture(scope="module")
def full(spark):
    # spark: sign_udf parses its DDL return type against a live session
    return _kernel("full")(_texts())


@pytest.mark.parametrize("mode", list(MODES))
def test_mode_parity(spark, full, mode):
    got = _kernel(mode)(_texts())
    assert list(got.columns) == list(FIELDS)
    assert len(got) == len(full)
    asked = MODES[mode][1]
    for f in FIELDS:
        if f in asked and f == "simhash":
            np.testing.assert_array_equal(got[f].to_numpy(), full[f].to_numpy())
        elif f in asked:
            for g, e in zip(got[f], full[f]):
                np.testing.assert_array_equal(np.asarray(g, dtype=np.int64), e)
        elif f == "simhash":
            assert (got[f] == 0).all()
        else:
            assert all(len(v) == 0 for v in got[f])


@pytest.mark.parametrize("mode", list(MODES))
def test_mode_fields_match_oracles(spark, mode):
    got = _kernel(mode)(_texts())
    asked = MODES[mode][1]
    th = TokenHasher()
    for i, d in enumerate(_texts()):
        h = th.hash_tokens(d.split() if d else [])
        if "shingles" in asked:
            np.testing.assert_array_equal(
                np.asarray(got["shingles"][i], dtype=np.int64),
                shingle_hashes(h, K).view(np.int64),
            )
        if "anchors" in asked:
            np.testing.assert_array_equal(
                np.asarray(got["anchors"][i], dtype=np.int64),
                winnow(h, SUB_K, SUB_W).view(np.int64),
            )


@pytest.mark.parametrize("mode", list(MODES))
def test_mode_empty_batch(spark, mode):
    got = _kernel(mode)(pd.Series([], dtype=object))
    assert list(got.columns) == list(FIELDS) and len(got) == 0


def _sign_evals(spark, run) -> int:
    """ArrowEvalPython nodes over the signing kernel in the final plans of
    every SQL execution ``run`` starts.  A checkpoint hides its source
    from the consuming plan, so the pin reads every execution: the
    checkpoint's own and each consumer's."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def ids() -> list[int]:
        jsc.listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = set(ids())
    run()
    n = 0
    for eid in set(ids()) - before:
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            n += node.name() == "ArrowEvalPython" and "_sign(" in node.desc()
    return n


def _texts_table() -> list[str]:
    # six docs sharing long verbatim spans, so every stage has rows
    return [" ".join(f"t{j}" for j in range(i, i + 120)) for i in range(6)]


def test_substring_candidates_signs_once(spark):
    """The winnowing pass feeds the anchor explode and both verify sides;
    its checkpoint keeps that to one kernel run."""
    from wdedup_spark.operators.substring import substring_candidates

    docs = spark.createDataFrame(list(enumerate(_texts_table())), "conv_id long, doc string")
    rows = []
    assert _sign_evals(
        spark, lambda: rows.extend(substring_candidates(docs, max_bucket=None).collect())
    ) == 1
    assert len(rows) == 15


def test_containment_pairs_signs_once(spark, tmp_path):
    """containment_join reads the shingle sets for the hot-token map, the
    ordered sets and both verify sides: one kernel run."""
    import __spark_entry__ as entrymod

    texts = _texts_table()
    pd.DataFrame({"doc_id": range(6), "text": texts}).to_parquet(tmp_path / "documents.parquet")
    q = entrymod.queries()["containment_pairs"]
    rows = []
    assert _sign_evals(spark, lambda: rows.extend(q(spark, str(tmp_path)).collect())) == 1
    # docs i and j share 118 - |i - j| of their 118 shingles
    assert len(rows) == 15


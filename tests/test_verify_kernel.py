"""The verify engine: ``verify.verify_kernel`` against a per-row oracle
built from the standalone UDFs, the plan ``verify.verify_pairs`` runs it
in, and the one-evaluation plans of the verifying queries."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from wdedup_spark.operators.minhash import sign_udf
from wdedup_spark.operators.substring import common_run_udf
from wdedup_spark.operators.verify import jaccard_udf, verify_kernel, verify_pairs
from wdedup_spark.plans.pipeline import EDIT_MARGIN, PipelineConfig

from test_edit_similarity import _lev

K = 3
THRESHOLD = 0.8
MIN_SPAN = 24
EDIT_T = 0.85


def _corpus():
    """id → doc: empty and null docs, docs shorter than k and than the
    16-token common-run seed, an identical pair, near-dups, long docs
    sharing verbatim spans, and unrelated random docs."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(40)]

    def rand(n):
        return [str(t) for t in rng.choice(vocab, size=n)]

    base = rand(120)
    near = list(base)
    for p in (7, 40, 90):
        near[p] = "zz"
    swapped = list(base)
    for p in range(3, 99, 12):  # 8 swaps: edit sim 1 - 16/120, Jaccard ~0.57
        swapped[p], swapped[p + 1] = swapped[p + 1], swapped[p]
    quoted = rand(30) + base[20:70] + rand(30)
    docs = {
        "e1": "", "e2": "", "n1": None,
        "s1": "a b", "s2": "a b", "s3": "b a",
        "m1": " ".join(base[:10]), "m2": " ".join(base[:12]),
        "i1": " ".join(base), "i2": " ".join(base),
        "d1": " ".join(near), "d2": " ".join(swapped), "q1": " ".join(quoted),
    }
    for i in range(12):
        docs[f"r{i}"] = " ".join(rand(int(rng.integers(1, 80))))
    return docs


def _pairs(docs):
    rng = np.random.default_rng(5)
    ids = sorted(docs)
    rows = []
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            # random channel sets, about half carrying substring; the
            # pairs that share a long verbatim span, and the reordered
            # copy, always carry it
            via = {"minhash", "simhash", "substring"} & set(rng.choice(
                ["minhash", "simhash", "substring"], size=int(rng.integers(1, 4))
            ))
            if {a, b} <= {"i1", "i2", "q1", "d2"}:
                via.add("substring")
            via = sorted(via)
            rows.append((a, b, np.array(via, dtype=object), docs[a], docs[b]))
    return pd.DataFrame(rows, columns=["conv_a", "conv_b", "via", "doc_a", "doc_b"])


def _oracle(pdf, edit_floor):
    """Per-row verdicts from the standalone UDFs: Jaccard over the sign
    stage's committed shingles, the common-run UDF, token Levenshtein."""
    sign = sign_udf(k=K, enable_simhash=False, enable_substring=False).func
    sh_a = sign(pdf["doc_a"].reset_index(drop=True))["shingles"]
    sh_b = sign(pdf["doc_b"].reset_index(drop=True))["shingles"]
    jac = jaccard_udf.func(sh_a, sh_b)
    run = common_run_udf.func(pdf["doc_a"].reset_index(drop=True), pdf["doc_b"].reset_index(drop=True))
    want = {}
    for i, r in enumerate(pdf.itertuples(index=False)):
        is_sub = "substring" in r.via
        via = []
        ok_jac = jac[i] >= THRESHOLD
        if edit_floor is not None and not ok_jac and (jac[i] >= edit_floor or is_sub):
            ta, tb = (r.doc_a or "").split(), (r.doc_b or "").split()
            if not ta and not tb:
                sim = 1.0
            elif not ta or not tb:
                sim = 0.0
            else:
                sim = 1.0 - _lev(" ".join(ta), " ".join(tb)) / max(len(ta), len(tb))
            if sim >= EDIT_T:
                via.append("edit")
        if ok_jac:
            via.append("jaccard")
        if is_sub and run[i] >= MIN_SPAN:
            via.append("substring")
        if via:
            want[(r.conv_a, r.conv_b)] = (jac[i] if ok_jac else None, run[i] if is_sub else None, via)
    return want


@pytest.mark.parametrize(
    "edit_floor", [None, THRESHOLD - EDIT_MARGIN, 0.7],
    # the narrow band leaves the reordered copy to the substring rule
    ids=["edit-off", "edit-on", "edit-narrow-band"],
)
def test_kernel_matches_per_row_oracle(spark, edit_floor):
    # spark: sign_udf parses its DDL return type against a live session
    pdf = _pairs(_corpus())
    want = _oracle(pdf, edit_floor)
    got_df = verify_kernel(pdf, K, THRESHOLD, MIN_SPAN, edit_floor, EDIT_T)
    got = {
        (r.conv_a, r.conv_b): (
            None if np.isnan(r.jaccard) else r.jaccard,
            None if pd.isna(r.common_run) else int(r.common_run),
            r.via,
        )
        for r in got_df.itertuples(index=False)
    }
    assert len(got) == len(got_df)
    # bit-identical Jaccard values, the common run on every substring
    # candidate (null elsewhere), identical channel lists
    assert got == want
    # the fixture reaches every channel, and the edit-off run never edits
    vias = {v for _, _, vs in want.values() for v in vs}
    assert vias == {"jaccard", "substring"} | ({"edit"} if edit_floor is not None else set())


def test_kernel_verdicts_do_not_depend_on_batching():
    pdf = _pairs(_corpus())
    whole = verify_kernel(pdf, K, THRESHOLD, MIN_SPAN, THRESHOLD - EDIT_MARGIN, EDIT_T)
    parts = pd.concat(
        [
            verify_kernel(pdf.iloc[i:i + 7], K, THRESHOLD, MIN_SPAN, THRESHOLD - EDIT_MARGIN, EDIT_T)
            for i in range(0, len(pdf), 7)
        ],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole.reset_index(drop=True), parts)


def test_kernel_empty_batch():
    pdf = _pairs(_corpus()).iloc[:0]
    out = verify_kernel(pdf, K, THRESHOLD, MIN_SPAN, 0.35, EDIT_T)
    assert list(out.columns) == ["conv_a", "conv_b", "jaccard", "common_run", "via"]
    assert len(out) == 0
    # an empty batch still converts to the stage's Arrow schema
    pa.Array.from_pandas(out["via"], type=pa.list_(pa.string()))


# -- plans --------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(plan: str) -> list[str]:
    """Physical operator names, one per plan-tree line."""
    return [m.group(1) for m in re.finditer(r"^[\s:+\-*]*\(?\d*\)?\s*(\w+)", plan, re.M)]


@pytest.mark.parametrize("verify_edit", [False, True], ids=["edit-off", "edit-on"])
def test_build_verify_plan_shape(spark, verify_edit):
    shared = " ".join(f"s{j}" for j in range(110))
    docs = spark.createDataFrame(
        [(f"c{i}", " ".join(f"t{j}" for j in range(i, i + 30))) for i in range(6)]
        # a 110-token verbatim run, shingle Jaccard ~0.35: substring only
        + [(f"c{i}", shared + " " + " ".join(f"u{i}_{j}" for j in range(100))) for i in (6, 7)],
        "conv_id string, doc string",
    )
    cands = spark.createDataFrame(
        [("c0", "c1", ["minhash"]), ("c1", "c2", ["minhash", "substring"]),
         ("c6", "c7", ["substring"])],
        "conv_a string, conv_b string, via array<string>",
    )
    cfg = PipelineConfig(verify_edit=verify_edit)
    edit_floor = cfg.threshold - EDIT_MARGIN if verify_edit else None
    verified = verify_pairs(
        cands, docs, cfg.k, cfg.threshold, cfg.substring_min_span, edit_floor, cfg.edit_threshold
    )
    nodes = _nodes(_plan(verified))
    assert sum(n.endswith("Join") for n in nodes) == 2, nodes
    assert nodes.count("MapInPandas") == 1, nodes
    assert "ArrowEvalPython" not in nodes, nodes
    assert not [n for n in nodes if "Aggregate" in n or n in ("Union", "Except")], nodes
    # and it runs: the 30-token docs overlap in 29 of 30 tokens (27 of 29
    # shingles); a pair without jaccard in via carries a NULL, not a NaN,
    # and only substring candidates carry a common run
    rows = {
        (r.conv_a, r.conv_b): (r.jaccard, r.common_run, list(r.via)) for r in verified.collect()
    }
    assert rows == {
        ("c0", "c1"): (27 / 29, None, ["jaccard"]),
        ("c1", "c2"): (27 / 29, 29, ["jaccard"]),
        ("c6", "c7"): (None, 110, ["substring"]),
    }


def test_substring_query_drops_jaccard_only_pairs(spark):
    """The kernel keeps Jaccard passes too, so the substring query must
    filter on the run: identical copies shorter than ``min_span`` share an
    anchor and every k-gram (Jaccard 1.0) yet are no substring pair."""
    from wdedup_spark.operators.substring import substring_candidates

    def run(n_tokens):
        doc = " ".join(f"t{j}" for j in range(n_tokens))
        docs = spark.createDataFrame([(0, doc), (1, doc)], "conv_id long, doc string")
        out = substring_candidates(docs, min_span=100, max_bucket=None).collect()
        return [(r.conv_a, r.conv_b, r.common_run) for r in out]

    assert run(90) == []
    assert run(110) == [(0, 1, 110)]


def test_marked_udfs_evaluate_once(spark, tmp_path):
    """Each verifier runs once per pair although a filter sits right on
    its value: the verify engine is one MapInPandas node with no per-row
    UDF beside it, and the asNondeterministic marker keeps the byte-level
    edit UDF to one ArrowEvalPython node."""
    import __spark_entry__ as entrymod
    from wdedup_spark.operators.substring import substring_candidates

    texts = [" ".join(f"t{j}" for j in range(i, i + 120)) for i in range(6)]

    def evals(df, udf_name):
        return sum(
            1 for line in _plan(df).splitlines()
            if "ArrowEvalPython" in line and udf_name in line
        )

    def one_kernel(df):
        nodes = _nodes(_plan(df))
        return nodes.count("MapInPandas") == 1 and "ArrowEvalPython" not in nodes

    docs = spark.createDataFrame(list(enumerate(texts)), "conv_id long, doc string")
    pairs = spark.createDataFrame(
        [(0, 1, ["minhash"]), (1, 2, ["minhash"])], "conv_a long, conv_b long, via array<string>"
    )
    assert one_kernel(verify_pairs(pairs, docs, 3, 0.8, 100))
    assert one_kernel(substring_candidates(docs, max_bucket=None))

    pd.DataFrame({"doc_id": range(6), "text": texts}).to_parquet(tmp_path / "documents.parquet")
    edit = entrymod.queries()["edit_dup_pairs"](spark, str(tmp_path))
    assert evals(edit, "edit_similarity_bytes_udf") == 1

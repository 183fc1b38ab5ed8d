"""Candidate-pair verification: exact Jaccard / edit-similarity / common run.

LSH/SimHash candidates are probabilistic; verification makes the final
pair set exact (false positives die here; false negatives are bounded by
the band/bucket recall, tested against the O(n²) oracle).

One engine decides every candidate pair, for the pipeline and the
queries alike: ``verify_pairs`` joins candidates to their documents and
runs ``verify_kernel`` in one ``mapInPandas`` pass.  ``jaccard_udf`` and
``substring.common_run_udf`` are only its per-row references.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from wdedup_spark.functions import hashing
from wdedup_spark.operators.substring import DEFAULT_KGRAM, _common_run


def _jaccard(sa: np.ndarray, sb: np.ndarray) -> float:
    """Exact Jaccard of two distinct-value shingle sets (empty vs empty
    is 1.0, the [""]-shingle convention)."""
    if len(sa) == 0 and len(sb) == 0:
        return 1.0
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    return inter / (len(sa) + len(sb) - inter)


@pandas_udf(DoubleType())
def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact Jaccard of two array<long> shingle-set columns (vectorized
    numpy set ops per row; the sign stage's sets are already distinct)."""
    out = np.empty(len(a), dtype=np.float64)
    for i in range(len(a)):
        out[i] = _jaccard(
            np.asarray(a.iloc[i], dtype=np.int64), np.asarray(b.iloc[i], dtype=np.int64)
        )
    return pd.Series(out)


def _edit_similarity(ta: np.ndarray, tb: np.ndarray) -> float:
    """Exact Levenshtein similarity 1 - dist/max_len over two int arrays,
    row-rolling DP vectorized in numpy.  The loop-carried insertion chain
    cur[k] = cur[k-1]+1 is resolved with the prefix-min trick: min over
    j<=k of (cand[j] + (k-j)) = (prefix-min of cand[j]-j) + k."""
    n, m = len(ta), len(tb)
    if n == 0 and m == 0:
        return 1.0
    if n == 0 or m == 0:
        return 0.0
    if m < n:
        ta, tb, n, m = tb, ta, m, n
    idx = np.arange(n + 1, dtype=np.int32)
    prev = idx.copy()
    for j in range(1, m + 1):
        cand = np.empty(n + 1, dtype=np.int32)
        cand[0] = j
        np.minimum(
            prev[:-1] + (ta != tb[j - 1]),  # substitution / match
            prev[1:] + 1,                   # deletion
            out=cand[1:],
        )
        t = cand - idx                      # insertion chain via prefix-min
        np.minimum.accumulate(t, out=t)
        prev = t + idx
    return 1.0 - int(prev[-1]) / max(n, m)


@pandas_udf(DoubleType())
def edit_similarity_bytes_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """BYTE-level Levenshtein similarity: 1 - dist/max_bytes over the
    utf-8 encoding (== character level for ASCII text).

    Byte semantics are deliberate: DuckDB's ``levenshtein()`` compares
    utf-8 BYTES (verified: 'über'↔'uber' = 2, not 1), so this is the
    oracle-mirrorable variant of the edit channel — pair it with
    ``strlen``/``octet_length`` denominators on the SQL side.  Same
    vectorized DP as the token-level check in ``verify_kernel``.
    """
    out = np.zeros(len(a), dtype=np.float64)
    for i in range(len(a)):
        sa, sb = a.iloc[i] or "", b.iloc[i] or ""
        ta = np.frombuffer(sa.encode("utf-8"), dtype=np.uint8)
        tb = np.frombuffer(sb.encode("utf-8"), dtype=np.uint8)
        out[i] = _edit_similarity(ta, tb)
    return pd.Series(out)


# r6 (guide §4.4): this kernel sits directly under its own threshold
# filter (withColumn + filter + select); the optimizer pushes the filter
# below the projection and evaluates the UDF TWICE per surviving row
# (two ArrowEvalPython nodes in the r5 plans).  It is a pure function,
# but marking it non-deterministic forbids the duplicating rewrite —
# one evaluation per row, identical values.
edit_similarity_bytes_udf = edit_similarity_bytes_udf.asNondeterministic()


def verify_kernel(
    pdf: pd.DataFrame,
    k: int,
    threshold: float,
    min_span: int,
    edit_floor: float | None,
    edit_threshold: float,
) -> pd.DataFrame:
    """Decide every verify channel for one batch of candidate pairs.

    ``pdf`` holds (conv_a, conv_b, via, doc_a, doc_b); the result holds
    the verified rows only, as (conv_a, conv_b, jaccard, common_run, via)
    with ``via`` the sorted subset of {edit, jaccard, substring} that
    passed, ``jaccard`` null unless ``via`` contains jaccard and
    ``common_run`` null unless the candidate's ``via`` contains substring:

    * jaccard — exact k-shingle Jaccard >= ``threshold``, over the sign
      stage's own batch kernels, so the value is bit-identical to
      ``jaccard_udf`` over the committed ``shingles``;
    * substring — for candidates whose ``via`` contains substring, the
      longest common token run (``_common_run``, 16-token seeds) >=
      ``min_span``;
    * edit — when ``edit_floor`` is set, token Levenshtein similarity >=
      ``edit_threshold`` for pairs that fail Jaccard but have Jaccard >=
      ``edit_floor`` or are substring candidates.

    Each distinct document of the batch is tokenized once, however many
    pairs it is in; null documents count as empty."""
    n = len(pdf)
    ids = pd.concat([pdf["conv_a"], pdf["conv_b"]], ignore_index=True)
    texts = pd.concat([pdf["doc_a"], pdf["doc_b"]], ignore_index=True)
    # factorize codes follow first appearance, as does ~duplicated()
    codes, _ = pd.factorize(ids)
    flat, off = hashing.split_hash_batch(texts[~ids.duplicated()])
    sets, so = hashing.batch_unique_sets(*hashing.batch_shingle_seq(flat, off, k))
    ia, ib = codes[:n], codes[n:]

    def toks(d: int) -> np.ndarray:
        return flat[off[d]:off[d + 1]]

    jac = np.array(
        [_jaccard(sets[so[a]:so[a + 1]], sets[so[b]:so[b + 1]]) for a, b in zip(ia, ib)],
        dtype=np.float64,
    )
    ok_jac = jac >= threshold
    is_sub = np.fromiter((("substring" in v) for v in pdf["via"]), dtype=bool, count=n)
    run = np.zeros(n, dtype=np.int32)
    for i in np.flatnonzero(is_sub):
        run[i] = _common_run(toks(ia[i]), toks(ib[i]), DEFAULT_KGRAM)
    ok_sub = is_sub & (run >= min_span)
    ok_edit = np.zeros(n, dtype=bool)
    if edit_floor is not None:
        for i in np.flatnonzero(~ok_jac & ((jac >= edit_floor) | is_sub)):
            ok_edit[i] = _edit_similarity(toks(ia[i]), toks(ib[i])) >= edit_threshold
    keep = np.flatnonzero(ok_jac | ok_sub | ok_edit)
    channels = (("edit", ok_edit), ("jaccard", ok_jac), ("substring", ok_sub))
    return pd.DataFrame(
        {
            "conv_a": pdf["conv_a"].to_numpy()[keep],
            "conv_b": pdf["conv_b"].to_numpy()[keep],
            "jaccard": np.where(ok_jac, jac, np.nan)[keep],
            "common_run": pd.arrays.IntegerArray(run[keep], ~is_sub[keep]),
            # object dtype even when empty: Arrow cannot read a float64
            # column as array<string>
            "via": pd.Series(
                [[nm for nm, ok in channels if ok[i]] for i in keep], dtype=object
            ),
        }
    )


def verify_pairs(
    cands: DataFrame,
    docs: DataFrame,
    k: int,
    threshold: float,
    min_span: int,
    edit_floor: float | None = None,
    edit_threshold: float | None = None,
) -> DataFrame:
    """``cands`` (conv_a, conv_b, via) joined to ``docs`` (conv_id, doc)
    once per pair side, then ONE ``mapInPandas`` pass of
    ``verify_kernel``: its verified rows and columns.  ``edit_threshold``
    is read only with ``edit_floor``."""

    def side(s: str) -> DataFrame:
        return docs.select(F.col("conv_id").alias(f"conv_{s}"), F.col("doc").alias(f"doc_{s}"))

    pairs = (
        cands.join(side("a"), "conv_a")
        .join(side("b"), "conv_b")
        .select("conv_a", "conv_b", "via", "doc_a", "doc_b")
    )

    def _verify(batches):
        for pdf in batches:
            yield verify_kernel(pdf, k, threshold, min_span, edit_floor, edit_threshold)

    id_type = cands.schema["conv_a"].dataType.simpleString()
    return pairs.mapInPandas(
        _verify,
        f"conv_a {id_type}, conv_b {id_type}, jaccard double, common_run int, "
        "via array<string>",
    )

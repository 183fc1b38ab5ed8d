"""Candidate-pair verification: exact Jaccard / edit-similarity / common run.

LSH/SimHash candidates are probabilistic; verification makes the final
pair set exact (false positives die here; false negatives are bounded by
the band/bucket recall, tested against the O(n²) oracle).

``verify_pairs`` (the queries) joins candidates to the committed
shingle-set table and runs ``jaccard_udf``.  ``verify_kernel`` (the
pipeline) decides every channel for one Arrow batch of candidates joined
to their documents, from one tokenization of those documents.
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


# r6 (guide §4.4): these kernels sit directly under their own threshold
# filter (withColumn + filter + select); the optimizer pushes the filter
# below the projection and evaluates the UDF TWICE per surviving row
# (two ArrowEvalPython nodes in the r5 plans).  They are pure functions,
# but marking them non-deterministic forbids the duplicating rewrite —
# one evaluation per row, identical values.
jaccard_udf = jaccard_udf.asNondeterministic()
edit_similarity_bytes_udf = edit_similarity_bytes_udf.asNondeterministic()


def verify_pairs(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "conv_id",
    shingle_col: str = "shingles",
    threshold: float = 0.8,
) -> DataFrame:
    """(conv_a, conv_b) × (id, shingles) → pairs with exact jaccard >= t.

    Output: (conv_a, conv_b, jaccard).
    """
    sh = shingled.select(F.col(id_col).alias("id"), F.col(shingle_col).alias("sh"))
    a = sh.select(F.col("id").alias("conv_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("conv_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "conv_a")
        .join(b, "conv_b")
        .withColumn("jaccard", jaccard_udf(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("conv_a", "conv_b", "jaccard")
    )


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
    the verified rows only, as (conv_a, conv_b, jaccard, via) with ``via``
    the sorted subset of {edit, jaccard, substring} that passed and
    ``jaccard`` null unless ``via`` contains jaccard:

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
    ok_sub = np.zeros(n, dtype=bool)
    for i in np.flatnonzero(is_sub):
        ok_sub[i] = _common_run(toks(ia[i]), toks(ib[i]), DEFAULT_KGRAM) >= min_span
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
            # object dtype even when empty: Arrow cannot read a float64
            # column as array<string>
            "via": pd.Series(
                [[nm for nm, ok in channels if ok[i]] for i in keep], dtype=object
            ),
        }
    )

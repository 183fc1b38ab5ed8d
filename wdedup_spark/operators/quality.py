"""Corpus-quality operators: repetition statistics and quality-aware
keeper selection within duplicate clusters.

Two pieces a training-data pipeline runs next to dedup:

* ``repetition_stats`` — Gopher-style within-document repetition signals
  (Rae et al. 2021 §A1.1: fraction of tokens inside duplicated n-grams,
  mass of the single most frequent n-gram).  Boilerplate, scraped nav
  bars and generation loops light these up while staying invisible to
  cross-document dedup.
* ``cluster_keepers`` — given duplicate-cluster assignments, keep the
  HIGHEST-QUALITY member instead of the min-id member: the reference
  keeps the first occurrence (src/wfindfirst.cpp:48-57, a byte-offset
  argmin); a quality-aware pipeline generalizes the argmin key to
  (quality desc, id) — same scan, different order.

Scale shape (r6): repetition stats are PER-DOCUMENT facts, so they are
computed narrowly — one Arrow-batched kernel per scan partition, zero
exchanges — instead of the r5 shape (explode every gram occurrence into
two corpus-wide hash aggregations, which shuffled ~L bytes of gram
strings per token of corpus; guide §2.3/§2.4: the cheapest shuffle is
the one you delete).  Gram identity inside the kernel is EXACT (token
codes from ``pd.factorize``, pairwise-combined and re-factorized — never
a lossy hash), so results are identical to the grouped-aggregation
formulation by construction.  Keeper selection keeps the single-exchange
``min_by`` aggregate shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _ngram_count_stats(texts: pd.Series, n: int):
    """Per-doc n-gram occurrence stats for a whole Arrow batch:
    ``(n_grams, top_gram_n, dup_mass)`` int64 arrays.  Docs with fewer
    than ``n`` tokens report 0 grams.

    Exact-identity trick: tokens are factorized once per batch (C-level
    string hashing); an n-gram's identity is the TUPLE of its token
    codes, folded pairwise with a re-factorize per step so values stay
    exact int64 — no 64-bit hash, no collision caveat."""
    tok_lists = [t.split() if t else [] for t in texts]
    nd = len(tok_lists)
    lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=nd)
    offsets = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    m = np.maximum(lens - n + 1, 0)  # grams per doc
    top = np.zeros(nd, dtype=np.int64)
    dup = np.zeros(nd, dtype=np.int64)
    if total == 0 or not (m > 0).any():
        return m, top, dup
    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        flat[pos:pos + len(toks)] = toks
        pos += len(toks)
    codes, _ = pd.factorize(flat)
    e = codes.astype(np.int64)
    for j in range(1, n):
        comb = e[: total - j] * np.int64(1 << 31) + codes[j:]
        e, _ = pd.factorize(comb)
        e = e.astype(np.int64)
    # windows crossing a doc boundary are invalid
    n_win = total - n + 1
    doc_of = np.repeat(np.arange(nd, dtype=np.int64), lens)[:n_win]
    valid = (np.arange(n_win, dtype=np.int64) - offsets[doc_of]) < m[doc_of]
    g = e[:n_win][valid]
    d = doc_of[valid]
    order = np.lexsort((g, d))
    g = g[order]
    d = d[order]
    # run-length encode (doc, gram) occurrence counts
    change = np.ones(len(g), dtype=bool)
    change[1:] = (g[1:] != g[:-1]) | (d[1:] != d[:-1])
    run_starts = np.flatnonzero(change)
    run_doc = d[run_starts]
    run_cnt = np.diff(np.append(run_starts, len(g)))
    doc_change = np.ones(len(run_doc), dtype=bool)
    doc_change[1:] = run_doc[1:] != run_doc[:-1]
    doc_starts = np.flatnonzero(doc_change)
    docs_present = run_doc[doc_starts]
    top[docs_present] = np.maximum.reduceat(run_cnt, doc_starts)
    dup[docs_present] = np.add.reduceat(np.where(run_cnt > 1, run_cnt, 0), doc_starts)
    return m, top, dup


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    flag_top_frac: float = 0.2,
) -> DataFrame:
    """→ ``(id, n_grams, top_gram_n, top_gram_frac, dup_gram_frac,
    flagged)`` per document with ≥1 n-gram:

    * ``top_gram_frac`` — occurrences of the single most frequent n-gram
      over all n-gram occurrences (loop/boilerplate detector);
    * ``dup_gram_frac`` — fraction of n-gram occurrences whose gram
      appears more than once in the doc (diffuse-repetition detector);
    * ``flagged`` — ``top_gram_frac > flag_top_frac``, the Gopher-rule
      cut a filtering pass would apply.

    Counts use ALL occurrences (not distinct grams): a doc that repeats
    one sentence 50 times must score ~1.0, not 1/n_distinct.

    Narrow plan (r6): the integer stats come from one Arrow-batched
    kernel fused into the scan (zero exchanges — the stats are per-doc
    facts); the fractions/flag are the same JVM double divisions the
    aggregate formulation produced, so values match bit-for-bit."""

    @pandas_udf("struct<n_grams:long, top_gram_n:long, dup_mass:long>")
    def _stats(texts: pd.Series) -> pd.DataFrame:
        m, top, dup = _ngram_count_stats(texts, n)
        return pd.DataFrame({"n_grams": m, "top_gram_n": top, "dup_mass": dup})

    # r6 (guide §4.4): the n_grams > 0 filter below otherwise gets
    # pushed under the caller's fan-out exchange and the kernel runs
    # twice (two ArrowEvalPython nodes observed in the plan)
    _stats = _stats.asNondeterministic()

    s = (
        df.select(F.col(id_col).alias("id"), _stats(F.col(text_col)).alias("_s"))
        .select("id", "_s.*")
        .filter(F.col("n_grams") > 0)
    )
    top_over_sum = F.col("top_gram_n") / F.col("n_grams")
    return s.select(
        "id",
        "n_grams",
        "top_gram_n",
        F.round(top_over_sum, 6).alias("top_gram_frac"),
        F.round(F.col("dup_mass") / F.col("n_grams"), 6).alias("dup_gram_frac"),
        (top_over_sum > flag_top_frac).alias("flagged"),
    )


def cluster_keepers(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """→ one row per cluster ``(cluster_id, keeper_id, n_members,
    best_quality)``: the keeper is the argmax-quality member, ties broken
    by min id (deterministic; reduces to the reference's first-occurrence
    rule when quality is constant)."""
    joined = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        quality.select(F.col(id_col).alias("id"), F.col(quality_col).alias("q")),
        "id",
    )
    # min_by on (-quality, id): one hash aggregate, no per-cluster sort
    # and no window — the same single-exchange shape as exact dedup's
    # min-rep, so a 10^8-member boilerplate cluster costs one combiner;
    # negating QUALITY (always double) instead of id keeps the tie-break
    # valid for any orderable id type
    return joined.groupBy("cluster_id").agg(
        F.min_by(
            "id", F.struct((-F.col("q")).alias("nq"), F.col("id").alias("id"))
        ).alias("keeper_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.max("q"), 6).alias("best_quality"),
    )


def soft_dedup_weights(
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """→ ``(id, cluster_id, n_members, weight)`` for EVERY document:
    ``weight = 1/n_members`` of its duplicate cluster — the soft-dedup
    alternative to dropping ("SoftDedup"-style data reweighting: keep
    all copies, down-weight their sampling so the cluster contributes
    ~one document's worth of gradient).  Reduces to weight 1.0 for singleton
    clusters, so applying it to a deduplicated corpus is a no-op.

    Shape: one ``groupBy(cluster_id)`` count (map-side partial) + an
    equi-join back on cluster_id — co-partitioned with the aggregation's
    own exchange, and AQE broadcasts the size table when small.  A
    window count would be one exchange cheaper but buffers whole
    clusters per partition; a 10^8-member boilerplate cluster makes
    that trade wrong at scale."""
    c = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("cluster_id")
    )
    sizes = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return c.join(sizes, "cluster_id").select(
        "id",
        "cluster_id",
        "n_members",
        F.round(F.lit(1.0) / F.col("n_members"), 6).alias("weight"),
    )

"""Set-containment similarity join — prefix-filtered AllPairs/PPJoin.

The asymmetric case the Jaccard channels structurally miss: a short
document quoted inside a much longer one has containment
``|A∩B| / min(|A|,|B|) ≈ 1`` but Jaccard ``≈ |A|/|B| → 0``, and
MinHash-LSH band collisions vanish with the Jaccard, so no number of
bands recovers the pair.  This operator finds all pairs with
containment ≥ t EXACTLY, using the prefix-filtering principle of the
set-similarity-join literature (Bayardo et al. "Scaling Up All Pairs
Similarity Search", WWW'07; PPJoin, Xiao et al. WWW'08):

  order every set consistently by ascending global token frequency
  (rarest first); if ``|S∩L| ≥ α`` then ANY ``|S|-α+1`` elements of S
  contain at least one intersection element (pigeonhole).  With
  ``α = t·min(|S|,|L|)`` and S the smaller set, S's first
  ``|S| - ⌈t·|S|⌉ + 1`` tokens must hit the intersection — so indexing
  ONLY those prefix tokens per set, and probing with EVERY token of
  candidate larger sets, is lossless.

Plan shape (all JVM except the ordering UDF and the exact verify):

* token order: ``hot_token_freqs`` collects the top-``FREQ_TOP`` tokens
  with df ≥ 2 into a bounded driver map, and ``freq_order_udf`` sorts
  each set per row by ``(freqs.get(tk, 0), tk)`` — rare tokens first by
  value, hot tokens last by ascending df.  One consistent total order
  (losslessness needs nothing more), no frequency join and no
  ``groupBy(id)`` re-collect; the streaming probe
  (streaming/containment_stream.py) orders through the same pair;
* candidate generation: inverted-index equi-join ``prefix(tk) ⨝
  tokens(tk)`` with ``size_index ≤ size_probe`` — the index side posts
  each set's RAREST tokens, so posting lists are short by construction
  (the whole point of frequency ordering: hot tokens cannot make a
  prefix unless a set consists of nothing else);
* exact containment verify on the surviving pairs only (vectorized
  intersect over the pre-distinct arrays).

At a corpus whose documents are near-identical tiny sets the prefix
lists degenerate toward full lists (classic PPJoin worst case) — run
exact dedup first (the pipeline invariant) and the degenerate mass
collapses to single representatives before this join sees it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, DoubleType

#: hot-token map bound for the token order (0 = pure token value order):
#: at 100 TB only the head of the df distribution matters for posting
#: length, so capping the map loses nothing
FREQ_TOP = 100_000


@pandas_udf(DoubleType())
def containment_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact containment-in-smaller |A∩B| / min(|A|,|B|) of two
    pre-distinct array columns (1.0 when both empty, 0.0 when exactly
    one is empty).

    Batched (VERDICT r4 #6, re-done after an end-to-end regression):
    string identity is resolved ONCE per Arrow batch — ``pd.factorize``
    over the flattened values of both sides (each distinct token hashed
    once, exact integer codes) — and the per-row work drops to sorted
    int64 intersects over batch offsets.  The first batched attempt
    (flattened (row, token) pandas merge + groupby) won its small
    micro-bench but REGRESSED the real query ~50% (containment_pairs
    6-7 s → 8.8-16 s at sf0.1: the merge re-hashes every token of every
    row into a join hash table, and the groupby adds a pass).  Measured
    at the query's real shapes (20k pairs × 30-250 string shingles):
    looped intersect1d 2.23 s, merge 3.38 s, THIS kernel 1.66 s —
    kernels must be judged end-to-end, not on toy shapes."""
    n = len(a)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.float64))
    la = np.fromiter((len(x) for x in a), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in b), dtype=np.int64, count=n)
    out = np.where((la == 0) & (lb == 0), 1.0, 0.0)
    mask = (la > 0) & (lb > 0)
    if mask.any():
        flat = np.concatenate(list(a) + list(b))
        codes, _ = pd.factorize(flat)
        split = int(la.sum())
        ca, cb = codes[:split], codes[split:]
        oa = np.concatenate(([0], np.cumsum(la)))
        ob = np.concatenate(([0], np.cumsum(lb)))
        cnt = np.zeros(n, dtype=np.float64)
        # no pre-sort: intersect1d concatenates and sorts internally
        # regardless of input order, so sorting here would be two extra
        # O(L log L) passes per pair for nothing (review r5)
        for i in np.flatnonzero(mask):
            cnt[i] = np.intersect1d(
                ca[oa[i]:oa[i + 1]], cb[ob[i]:ob[i + 1]], assume_unique=True
            ).size
        denom = np.minimum(la, lb).astype(np.float64)
        denom[denom == 0] = 1.0
        out = np.where(mask, cnt / denom, out)
    return pd.Series(out)


# (r6 negative result: marking this kernel non-deterministic to stop
# the guide-§4.4 double evaluation regressed containment_pairs 8.7 s →
# 39.6 s at sf1.0 — the marker also blocks optimizations the candidate
# join needs.  The double eval is tolerated here; see verify.py for the
# kernels where the marker is a measured win.)

def min_overlap(sz_col, t: float):
    """Integral minimum intersection α = ⌈t·|X|⌉ of a size-|X| set at
    threshold ``t``, as a Column.

    round-before-ceil: in binary floating point ``0.9*10 ==
    9.000000000000002`` and a naive ceil would raise α — and shrink the
    prefix below the lossless bound — exactly at threshold-boundary
    overlaps.  The ONE copy of this numeric trick; a Spark-grid test
    pins the prefix bound built on it against exact rational arithmetic
    (tests/test_containment.py)."""
    return F.ceil(F.round(sz_col * t, 6))


def prefix_bound_len(sz_col, t: float, l_prefix: int):
    """Lossless l-prefix length |X| − α + min(l, α) as a Column: with
    α = ``min_overlap``, any pair with |A∩B| ≥ α shares at least
    min(l, α) tokens of this prefix (the pigeonhole extended by l − 1,
    cf. the adaptive-prefix framework of Wang/Li/Feng, SIGMOD'12).  The
    streaming probe uses the plain 1-prefix; the batch join demands
    l = 2 shared prefix tokens."""
    alpha = min_overlap(sz_col, t)
    return (sz_col - alpha + F.least(F.lit(l_prefix), alpha)).cast("int")


def hot_token_freqs(sets: DataFrame, col: str) -> dict:
    """The bounded hot-token map of the token order: document frequency
    of the top-``FREQ_TOP`` tokens with df ≥ 2 in the pre-distinct array
    column ``col``, collected to the driver.  Only df ≥ 2 tokens can be
    shared, so only they can inflate a posting list, and only the head
    of their distribution matters — a bounded driver map, never the
    corpus (the bounded build side of "Design Trade-offs for a Robust
    Dynamic Hybrid Hash Join", VLDB 2022)."""
    # toPandas, not collect: the Arrow transfer builds no per-token Row
    # (dupheavy's 83k-token map: 0.7 s against 1.4 s, 4-core host)
    top = (
        sets.select(F.explode(col).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .orderBy(F.desc("df"), "tk")
        .limit(FREQ_TOP)
        .toPandas()
    )
    return dict(zip(top["tk"].tolist(), top["df"].tolist()))


def freq_order_udf(freqs: dict, arr_type: DataType):
    """Vectorized ordering UDF: each (pre-distinct) token array sorted by
    the single consistent total order ``(freqs.get(tk, 0), tk)`` — rare
    and unseen tokens first (value order among themselves), hot tokens
    last by ascending document frequency; an empty map is plain value
    order.  When every df ≥ 2 token is in the map this is exactly the
    ``(df, tk)`` order, since df = 1 tokens sort first by value under
    both keys.  One flattened (row, df, token) sort per Arrow batch,
    regrouped by offsets — no per-row Python sort.  ``arr_type`` is the
    input array type (tokens may be strings or hashed longs — the sign
    stage emits longs)."""

    @pandas_udf(arr_type)
    def _ordered(arr: pd.Series) -> pd.Series:
        n = len(arr)
        if n == 0:
            return pd.Series([], dtype=object)
        # null arrays stay null (size(null) = -1 is filtered downstream,
        # never a crash here)
        vals = [x if x is not None else [] for x in arr]
        lens = np.fromiter((len(x) for x in vals), dtype=np.int64, count=n)
        if lens.sum() == 0:
            return arr
        flat = pd.DataFrame(
            {
                "r": np.repeat(np.arange(n, dtype=np.int64), lens),
                "tk": np.concatenate([np.asarray(x) for x in vals if len(x)]),
            }
        )
        flat["df"] = flat["tk"].map(freqs).fillna(0).astype(np.int64)
        flat = flat.sort_values(["r", "df", "tk"], kind="stable")
        bounds = np.cumsum(lens)[:-1]
        parts = np.split(flat["tk"].to_numpy(), bounds)
        return pd.Series(
            [None if x is None else p for x, p in zip(arr, parts)]
        )

    return _ordered


def containment_join(
    shingled: DataFrame,
    threshold: float,
    id_col: str = "conv_id",
    shingle_col: str = "shingles",
    new_col: str | None = None,
) -> DataFrame:
    """All pairs with containment ≥ ``threshold`` over pre-distinct
    shingle-set arrays → ``(conv_a, conv_b, containment)`` with
    ``conv_a < conv_b``.  Exact (prefix filtering is lossless); see the
    module docstring for the candidate-generation argument.

    ``new_col``: incremental mode — ``shingled`` carries a boolean batch
    flag and only pairs TOUCHING a flagged set are generated (old×old
    pairs were emitted by previous increments).  The hot-token map is
    rebuilt over old ∪ new each day — the prefix filter is lossless
    for ANY single consistent total order, so no frozen-frequency state
    needs committing; the old side re-reads and re-orders the committed
    shingle arrays per row (the same economy as the LSH channel's
    re-banding), never re-tokenizes."""
    t = float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    flag = [F.col(new_col).alias("nw")] if new_col else []
    sets = shingled.select(
        F.col(id_col).alias("id"), F.array_distinct(F.col(shingle_col)).alias("sh"),
        *flag,
    )
    sized = sets.withColumn("sz", F.size("sh")).filter(F.col("sz") > 0)
    order = freq_order_udf(hot_token_freqs(sized, "sh"), sets.schema["sh"].dataType)
    # checkpoint: the ordered sets feed BOTH the prefix index and (r6)
    # the position-carrying probe side — without it the ordering UDF
    # runs once per side
    ordered = sized.select(
        "id", "sz", *(["nw"] if new_col else []), order(F.col("sh")).alias("otoks")
    ).localCheckpoint(eager=False)
    # l-PREFIX candidate generation (r6).  The plain 1-prefix filter is
    # nearly unselective on corpora whose "rare" tokens still have
    # document frequency in the tens: at sf1.0 it admitted 16.9M
    # candidate pairs — ~1.3% of ALL pairs — and the exact array verify
    # on them was the whole query's cost.  Demanding l=2 shared prefix
    # tokens (prefix_bound_len) via a count aggregate kills the
    # one-shared-token junk mass before anything ships a set array;
    # sets with α < l fall back to l_eff = α, so tiny sets keep the
    # plain lossless bound.
    L_PREFIX = 2
    prefix = ordered.select(
        F.col("id").alias("id_i"),
        F.col("sz").alias("sz_i"),
        *( [F.col("nw").alias("nw_i")] if new_col else [] ),
        F.posexplode(
            F.slice("otoks", 1, prefix_bound_len(F.col("sz"), t, L_PREFIX))
        ).alias("pos_i", "tk"),
    )
    probe = ordered.select(
        F.col("id").alias("id_p"), F.col("sz").alias("sz_p"),
        *( [F.col("nw").alias("nw_p")] if new_col else [] ),
        F.posexplode("otoks").alias("pos_p", "tk"),
    )
    # positional filter (PPJoin, Xiao et al. WWW'08 §3.2), loosened by
    # l_eff so it can never drop one of the first l_eff common tokens a
    # qualifying pair must present: the j-th common token (j <= l_eff)
    # of a pair with |A∩B| ≥ α satisfies
    #   α <= j + min(sz_i − 1 − pos_i, sz_p − 1 − pos_p)
    # because both lists share one global total order.
    alpha_i = min_overlap(F.col("sz_i"), t)
    l_eff_i = F.least(F.lit(L_PREFIX), alpha_i)
    matched = prefix.join(probe, "tk").filter(
        (F.col("sz_i") <= F.col("sz_p"))
        & (F.col("id_i") != F.col("id_p"))
        & (
            l_eff_i + F.least(
                F.col("sz_i") - 1 - F.col("pos_i"),
                F.col("sz_p") - 1 - F.col("pos_p"),
            )
            >= alpha_i
        )
    )
    if new_col:
        matched = matched.filter(F.col("nw_i") | F.col("nw_p"))
    # count shared prefix tokens per DIRECTED (smaller, larger) pair and
    # demand l_eff of them; equal-size pairs appear in both directions
    # with the same count, and least/greatest + distinct then emits each
    # unordered pair once
    counted = matched.groupBy("id_i", "id_p").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min(l_eff_i).alias("_l")
    )
    cands = (
        counted.filter(F.col("_cnt") >= F.col("_l"))
        .select(
            F.least("id_i", "id_p").alias("conv_a"),
            F.greatest("id_i", "id_p").alias("conv_b"),
        )
        .distinct()
    )
    a = sets.select(F.col("id").alias("conv_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("id").alias("conv_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "conv_a")
        .join(b, "conv_b")
        .withColumn("containment", containment_udf(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("containment") >= t)
        .select("conv_a", "conv_b", "containment")
    )

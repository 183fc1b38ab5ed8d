"""LSH banding: signature → band buckets → candidate pairs.

The graft's shuffle stage — the analog of the reference's merge tree
(/root/reference/src/wmerge.cpp:54-156), except one hash exchange on the
band key replaces all lg(N/M) merge levels (SURVEY.md §2 O6-O8).

Scale design:
* Banding is JVM-side (``xxhash64`` over signature slices) — no Python.
* ONE bucket-expansion engine, ``candidate_pairs_multi``: a window count
  sizes every (channel, band, bucket) first, buckets with
  1 < m <= max_bucket expand through a co-partitioned self-join, and
  oversize buckets (boilerplate floods) degrade to m-1 star edges around
  the min id — bounded output, connectivity preserved for clustering
  (the reference's "collapse on first collision" economy,
  src/wmerge.cpp:124-127).  No per-bucket array is ever built.
* The engine emits raw collision rows; cross-band repeats, collision
  floors and star bypass fold in ONE groupBy(conv_a, conv_b) — the
  pipeline's per-channel aggregate (build_candidates) or the
  single-channel ``candidate_pairs`` wrapper's.
* Raw rows carry both sides' payload columns, so a test on the pair's
  values (SimHash's Hamming distance) filters raw rows — no per-id table
  is joined back onto the pairs.
* Skew: AQE skew-join is on (session.py); hot *conversations* are removed
  earlier by exact dedup; hot *buckets* are bounded by the star edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_NUM_BANDS = 32
DEFAULT_MAX_BUCKET = 256


def band_buckets(
    df: DataFrame,
    n_perms: int,
    sig_col: str = "sig",
    id_col: str = "conv_id",
    n_bands: int = DEFAULT_NUM_BANDS,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(id, sig[n_perms]) → (band, bucket, id[, passthrough...]) — one row
    per band.

    bucket = xxhash64(band index, the band's signature lanes) computed
    JVM-side.  ``passthrough`` columns ride along unchanged (the
    incremental pipeline's is-new flag, the streaming probe's signature)
    — cheaper than re-joining them onto the banded exchange.
    """
    rows = n_perms // n_bands
    if rows * n_bands != n_perms:
        raise ValueError(f"n_perms={n_perms} not divisible by n_bands={n_bands}")
    # explode the band INDEX first, then one small per-row hash expression
    # (r6): the previous form built an array of n_bands structs each
    # hashing an array slice — a giant expression tree that fell out of
    # efficient codegen and cost 14× more per row (measured 2.9 s → 0.2 s
    # at 50k docs × 32 bands).  Hashing the band's lanes (element_at)
    # gives the same 64-bit value as hashing the sliced sub-array: Spark's
    # xxhash64 folds an array element by element, seeded by the previous
    # value, exactly like a list of columns.
    extra = passthrough or []
    sig = F.col(sig_col)
    bidx = F.col("band")
    lanes = [F.element_at(sig, bidx * rows + j + 1) for j in range(rows)]
    return df.select(
        F.col(id_col).alias("id"), *extra, *([] if sig_col in extra else [sig]),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select(
        "band", F.xxhash64(bidx, *lanes).alias("bucket"), "id", *extra
    )


def candidate_pairs_multi(
    banded: DataFrame,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    new_col: str | None = None,
) -> DataFrame:
    """The bucket-expansion engine: ``(ch, band, bucket, id[, new_col],
    payload...)`` rows → RAW collision rows ``(ch, conv_a, conv_b,
    is_star, <payload>_a, <payload>_b...)``.

    ``ch`` is a channel tag (a narrow integer — guide §2.3) and buckets are
    keyed per (ch, band, bucket), so every channel gets its own size gate,
    star economy and incremental anchor while all channels share ONE
    window exchange and ONE self-join (the pipeline's candidate stage used
    to run one of each per channel).

    Output is one row per within-bucket collision (a pair colliding in k
    of a channel's buckets appears k times) plus one flagged row per star
    edge.  No aggregation happens here: the caller owns the collision
    floors and folds them into its ONE groupBy(conv_a, conv_b) — the
    pipeline's per-channel tag set (build_candidates) or the
    single-channel floor (``candidate_pairs``).

    Payload: every column of ``banded`` besides ``ch, band, bucket, id``
    and ``new_col`` is a per-id payload, emitted as ``<col>_a`` /
    ``<col>_b`` with the values of the ids on each side: a collision row
    carries its two members' values, a star row its anchor's and its
    member's.

    ``max_bucket``: buckets with more members emit m-1 star edges to their
    min id instead of m(m-1)/2 pairs — bounded output, connectivity kept
    for clustering (pairwise similarity inside a boilerplate flood is
    resolved transitively by the cluster stage).  ``None`` means uncapped:
    no size gate at all, singleton buckets emit nothing from the a < b
    join (exact all-pairs queries, small data).

    ``new_col``: INCREMENTAL mode — ``banded`` carries a boolean column of
    that name marking the new batch's ids, and only pairs touching at
    least one new id are emitted.  This is what makes a daily increment
    O(new × bucket) instead of O(corpus²): old×old pairs were already
    generated (and verified/clustered) by the run that committed them.
    Oversize buckets emit star edges for NEW members only, anchored at
    the min over OLD members (see below).

    Skew safety: bucket sizes are established FIRST (window count over the
    (ch, band, bucket) exchange — sort-based, spills, never an array), so
    only buckets already proven ``1 < m <= max_bucket`` reach the
    self-join.  A 10^7-member boilerplate flood never materializes a
    per-bucket buffer: its rows flow straight to the star branch as
    (anchor, id) edges, one row at a time.  The raw stream carries at most
    Σ m·(m−1)/2 rows over gated buckets plus the star edges.
    """
    keys = ["ch", "band", "bucket"]
    payload = [c for c in banded.columns if c not in (*keys, "id", new_col)]
    # ONE exchange of ``banded`` feeds the window and the join.  No
    # bucket is null (an xxhash64, or an explode of non-null longs); the
    # explicit filter matches the one the join infers from its key, and
    # the explicit repartition sits below the star branch's anchor-order
    # projection, so both branches shuffle the same subtree and the
    # second exchange is reused
    banded = banded.filter(F.col("bucket").isNotNull()).repartition(*keys)
    out = ["ch", "conv_a", "conv_b", "is_star", *[f"{c}_{s}" for c in payload for s in "ab"]]

    # within-bucket expansion as a co-partitioned SELF-JOIN on the bucket
    # key (r6): the previous shape (collect_list per bucket + double
    # explode + filter) paid an ObjectHashAggregate building an array per
    # bucket and an interpreted two-level explode — measured 2.4× slower
    # end-to-end than the join at 1.6M banded rows.  No per-bucket array
    # is ever materialized: a bucket of m rows streams m(m-1)/2 join rows.
    def _expand(rows: DataFrame) -> DataFrame:
        def side(s: str) -> DataFrame:
            return rows.select(
                *keys, F.col("id").alias(f"conv_{s}"),
                *[F.col(c).alias(f"{c}_{s}") for c in payload],
                *([F.col(new_col).alias(f"_n{s}")] if new_col else []),
            )

        # shuffle_hash hint: size ESTIMATES through the Python signature
        # UDFs are garbage, so without it the planner broadcasts the
        # multi-million-row banded side (driver collect + the whole
        # sign/band subtree executed twice — observed in the cosine
        # query's executedPlan).  A shuffled-hash join partitions both
        # sides on the bucket key once — and since both sides are the
        # SAME subtree, the second Exchange is a ReusedExchange: the
        # upstream computes exactly once.
        p = (
            side("a")
            .hint("shuffle_hash")
            .join(side("b"), keys)
            .filter(F.col("conv_a") < F.col("conv_b"))
        )
        if new_col:
            p = p.filter(F.col("_na") | F.col("_nb"))
        return p.withColumn("is_star", F.lit(False)).select(*out)

    if max_bucket is None:
        return _expand(banded)

    w = Window.partitionBy(*keys)
    # star anchor: the min id, or, incremental, the min over OLD members —
    # the node the base run's star edges already orbit.  A new bucket-min
    # would otherwise be isolated (old members' committed edges point at
    # the OLD min, and new members only edge to the anchor).  Ordering by
    # (is_new, id) puts old members first and falls back to the min over
    # new in an all-new flood; min_by reads the anchor's payload too.
    order = F.struct(new_col, "id") if new_col else F.col("id")
    counted = banded.select(
        *keys, "id", *payload, *([new_col] if new_col else []),
        F.count(F.lit(1)).over(w).alias("m"),
        *[F.min_by(c, order).over(w).alias(f"_anc_{c}") for c in ("id", *payload)],
    ).filter(F.col("m") > 1)
    # the join below reuses the window's hash partitioning on the bucket
    # key — one exchange total
    pairs = _expand(counted.filter(F.col("m") <= max_bucket))
    big_rows = counted.filter(
        (F.col("m") > max_bucket) & (F.col("id") != F.col("_anc_id"))
    )
    # star edges row-by-row: (anchor, member) — no array ever built.
    # Incremental: only NEW members need edges (old members were
    # star-connected to the old-member min by the base run at the same
    # config), anchored at that same old min — which may be the larger
    # id of the two, so each side's payload follows its id.
    if new_col:
        big_rows = big_rows.filter(F.col(new_col))
    anc_first = F.col("_anc_id") < F.col("id")

    def star_side(c: str, s: str):
        anc, mem = F.col(f"_anc_{c}"), F.col(c)
        return F.when(anc_first, anc if s == "a" else mem).otherwise(mem if s == "a" else anc)

    pairs_big = big_rows.select(
        "ch",
        star_side("id", "a").alias("conv_a"),
        star_side("id", "b").alias("conv_b"),
        F.lit(True).alias("is_star"),
        *[star_side(c, s).alias(f"{c}_{s}") for c in payload for s in "ab"],
    )
    return pairs.unionByName(pairs_big).select(*out)


def candidate_pairs(
    banded: DataFrame,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    min_collisions: int = 1,
) -> DataFrame:
    """Single-channel ``(band, bucket, id)`` → distinct candidate pairs
    ``(conv_a, conv_b)``, conv_a < conv_b: one engine pass under a
    constant channel tag, folded by ONE groupBy(conv_a, conv_b).

    min_collisions: require the pair to co-occur in at least this many
    band buckets.  At corpus scale single-band collisions are quadratic
    noise (baseline similarity s contributes n²·s^r expected pairs);
    requiring 2 of b bands suppresses noise ~quadratically while recall
    at the dedup threshold stays ~1 (s=0.8, b=32, r=4 → P[≥2] ≈
    0.999998).  Star edges (structural connectivity) bypass the floor —
    the same per-channel rule build_candidates folds.
    """
    raw = candidate_pairs_multi(
        banded.select(F.lit(0).cast("tinyint").alias("ch"), "band", "bucket", "id"),
        max_bucket,
    )
    return (
        raw.groupBy("conv_a", "conv_b")
        .agg(
            F.count(F.when(~F.col("is_star"), F.lit(1))).alias("_hits"),
            F.max("is_star").alias("_star"),
        )
        .filter((F.col("_hits") >= min_collisions) | F.col("_star"))
        .select("conv_a", "conv_b")
    )


def minhash_lsh_candidates(
    signed: DataFrame,
    id_col: str = "conv_id",
    sig_col: str = "sig",
    n_perms: int = 128,
    n_bands: int = DEFAULT_NUM_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    return candidate_pairs(band_buckets(signed, n_perms, sig_col, id_col, n_bands), max_bucket)

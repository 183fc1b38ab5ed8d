"""Similarity search and near-dup pairs over embedding columns
(array<float>).

Top-k search, one ranked contract (``topk.grouped_topk``) over three
candidate strategies:

* ``brute_force_topk`` — exact cosine top-k: the query matrix rides in
  the kernel closure and each corpus batch is scored with one numpy GEMM,
  emitting only rows that can still make the top k.

* ``lsh_bucketed_topk`` — random-hyperplane (sign) LSH buckets shrink the
  scored corpus per query; exact cosine re-rank within the union of the
  query's buckets.  Recall < 1 by construction; bucket width trades
  recall for cost.  At 100 TB this is the difference between scanning
  the corpus per query and scanning ~corpus/2^bits.

* ``ivf_topk`` — coarse-quantizer (IVF) lists trained by distributed
  Lloyd rounds; each query re-ranks only its probed lists.

All-pairs near-dups: ``exact_cosine_pairs`` (blocked GEMM, any
threshold) and ``lsh_cosine_pairs_sparse`` (hyperplane LSH over sparse
vectors, high thresholds).

Embeddings are cast to double before arithmetic: deterministic, and
matches the DuckDB oracle's double-precision math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdedup_spark.operators.topk import grouped_topk

#: seed of ``lsh_cosine_pairs_sparse``'s Gaussian plane block
PLANE_SEED = 42


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


def _dot_udf():
    """Row-wise dot product of two array<double> columns as one numpy
    einsum per Arrow batch (r6, guide §4.2) — replaces the interpreted
    ``aggregate(zip_with(...))`` expression tree, which costs a JVM
    closure call per vector ELEMENT per row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return _dot


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, score) rows, one per pair → the top-k
    contract every search here returns: rank by (score desc, neighbor_id
    asc), score rounded to 9 places."""
    return grouped_topk(
        scored, ["query_id"], [F.desc("score"), F.asc("neighbor_id")],
        k, rank_col="rank",
    ).select("query_id", "neighbor_id", F.round("score", 9).alias("score"), "rank")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, score, rank) — exact cosine top-k
    neighbors per query (self-matches excluded).

    r6 shape (guide §4.2): the r5 implementation broadcast-cross-joined
    queries against the corpus and scored each pair with an interpreted
    ``zip_with``/``aggregate`` expression tree — O(n_query · n_corpus ·
    dim) per-element JVM interpretation dominated the query (measured at
    sf1.0: knn_label_purity 26 s for 100 queries × 20k vectors).  Now the
    query matrix (small by the operator's own contract — it was already
    driver-collected for the broadcast) rides in the kernel closure and
    each corpus partition computes ONE numpy GEMM per Arrow batch,
    emitting only rows at or above the batch's per-query k-th score —
    a superset of the global top-k, so the final ``grouped_topk`` is
    exact.  ~Corpus-partition·k rows ever reach the window."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    q_pdf = q.toPandas()
    qid_t = q.schema["query_id"].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, neighbor_id {nid_t}, score double"
    spark = corpus.sparkSession
    if len(q_pdf) == 0:
        return spark.createDataFrame(
            [], out_schema + ", rank int"
        )
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf["qvec"]])
    qn = np.linalg.norm(Q, axis=1)
    qids = q_pdf["query_id"].to_numpy()

    def _score(batches):
        for pdf in batches:
            nc = len(pdf)
            if nc == 0:
                continue
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cvec"]])
            nids = pdf["neighbor_id"].to_numpy()
            cn = np.linalg.norm(C, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (C @ Q.T) / np.outer(cn, qn)
            # selection copy: NaN (zero-norm rows) ranks as +inf exactly
            # like Spark's NaN-greatest ordering; self-matches excluded
            sel = np.where(np.isnan(S), np.inf, S)
            excl = nids[:, None] == qids[None, :]
            sel[excl] = -np.inf
            kk = min(k, nc)
            thresh = np.partition(sel, nc - kk, axis=0)[nc - kk, :]
            # >= keeps score ties at the boundary — the global window's
            # (score desc, id asc) order resolves them exactly
            ii, jj = np.nonzero((sel >= thresh[None, :]) & ~excl)
            yield pd.DataFrame(
                {"query_id": qids[jj], "neighbor_id": nids[ii], "score": S[ii, jj]}
            )

    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    ).mapInPandas(_score, out_schema)
    return _ranked(scored, k)


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """ALL pairs with cosine >= threshold, exactly — blocked-GEMM design.

    Exact all-pairs similarity at an arbitrary threshold is Ω(n²) work by
    definition (no margin → no sublinear filter can be lossless), so the
    scale question is HOW the quadratic work is executed, not whether:

    * corpus → ⌈n/B⌉ hash blocks of ~B members (one groupBy);
    * the ⌈n/B⌉·(⌈n/B⌉+1)/2 unordered block pairs are enumerated
      JVM-SIDE (``spark.range`` self-join with ``ba <= bb`` — a broadcast
      nested-loop over two 8-byte/row ranges), never as a driver-side
      Python list: at n = 10^8 vectors the pair table is ~5×10^9 rows,
      which must be born distributed;
    * block pairs drive a JOIN on block ids — a broadcast/shuffle join,
      never a row-level CartesianProduct;
    * each joined block pair computes its B×B cosine tile as ONE numpy
      matrix product inside mapInPandas (Arrow batches, ~50-100× less
      per-pair overhead than expression-tree arithmetic), emitting only
      the pairs that clear the threshold;
    * task memory is bounded: each joined row carries two full member
      blocks (~2·B·d·8 bytes), so the join output is repartitioned to at
      most ``tiles_per_task`` tiles per partition — an Arrow batch can
      then never materialize more than ~2·tiles_per_task blocks.  The
      partition count is clamped to a scheduler-sane ceiling (2^20); past
      the clamp (npairs > tiles_per_task·2^20) the bound degrades and the
      sizing rule below is mandatory: raise ``block_size``
      (B ~ √(n·target_tile)) so npairs shrinks quadratically and per-tile
      GEMM work amortizes the ~ms task overhead.

    For thresholds with a real margin (true near-dup dedup at t >= 0.8),
    prefer ``lsh_cosine_pairs_sparse`` — sub-quadratic with a quantified
    recall.
    Raw cosine is returned unrounded; callers round/filter JVM-side so
    engine/oracle rounding semantics stay in one place.
    """
    import math

    spark = df.sparkSession
    n = df.count()
    nblocks = max(1, math.ceil(n / block_size))
    e = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("block", F.pmod(F.xxhash64(F.col("id")), F.lit(nblocks)))
    blocks = e.groupBy("block").agg(F.collect_list(F.struct("id", "v")).alias("members"))
    bp = spark.range(nblocks).select(F.col("id").alias("ba")).join(
        F.broadcast(spark.range(nblocks).select(F.col("id").alias("bb"))),
        F.col("ba") <= F.col("bb"),
    )
    npairs = nblocks * (nblocks + 1) // 2
    # Partition sizing balances two hard constraints (ADVICE r3 + review):
    # (a) per-task MEMORY — each tile row carries two full member blocks
    #     (~2·B·d·8 bytes) and the Arrow reader materializes a whole
    #     batch, so partitions must stay at ~tiles_per_task rows (a
    #     10k-row maxRecordsPerBatch batch of 32 MB tiles would be 100s
    #     of GB); hash collisions make this a few-× bound, not exact;
    # (b) DRIVER scheduling — npairs-many partitions (~5×10^7 at
    #     nblocks ~10^4) is a driver memory/latency bottleneck, so the
    #     count is clamped at 2^20; past the clamp the docstring's
    #     block_size sizing rule is mandatory (bigger blocks shrink
    #     npairs quadratically, restoring the bound).
    tiles_per_task = 4
    par = max(spark.sparkContext.defaultParallelism, 1)
    n_parts = int(min(npairs, max(par, -(-npairs // tiles_per_task)), 1 << 20))
    joined = (
        bp.join(blocks.select(F.col("block").alias("ba"), F.col("members").alias("ma")), "ba")
        .join(blocks.select(F.col("block").alias("bb"), F.col("members").alias("mb")), "bb")
        .repartition(n_parts, "ba", "bb")
    )
    t = float(threshold)

    def _tiles(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ma, mb, ba, bb in zip(pdf["ma"], pdf["mb"], pdf["ba"], pdf["bb"]):
                ids_a = np.asarray([m["id"] for m in ma], dtype=np.int64)
                A = np.stack([np.asarray(m["v"], dtype=np.float64) for m in ma])
                if ba == bb:
                    ids_b, B = ids_a, A
                else:
                    ids_b = np.asarray([m["id"] for m in mb], dtype=np.int64)
                    B = np.stack([np.asarray(m["v"], dtype=np.float64) for m in mb])
                na = np.linalg.norm(A, axis=1)
                nb = na if ba == bb else np.linalg.norm(B, axis=1)
                S = (A @ B.T) / np.outer(na, nb)
                # pre-filter with slack covering the caller's round-half
                # semantics: a raw cosine in [t - 5e-7, t) can round UP to
                # the threshold at 6 decimals, so the tile must keep it
                # for the exact JVM-side round+filter to decide
                M = S >= t - 1e-6
                if ba == bb:
                    M = np.triu(M, k=1)  # each unordered pair once, no self
                ii, jj = np.nonzero(M)
                ia, ib = ids_a[ii], ids_b[jj]
                sw = ib < ia
                out_a.append(np.where(sw, ib, ia))
                out_b.append(np.where(sw, ia, ib))
                out_c.append(S[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return joined.mapInPandas(_tiles, "vec_a long, vec_b long, cosine double")


def md5_planes(dim: int, n_bits: int) -> np.ndarray:
    """±1 Rademacher hyperplane matrix derived from md5 — seedless,
    deterministic, and bit-for-bit reproducible in ANSI SQL (so a DuckDB
    oracle can mirror the bucketing exactly: entry (d, b) is +1 iff the
    first hex nibble of ``md5('<d>:<b>')`` is odd).  Sign-LSH with
    Rademacher entries is a valid cosine LSH family (the same
    concentration argument as Gaussian planes, cf. Achlioptas'
    database-friendly random projections), so recall behaves like
    Gaussian planes' up to constants."""
    import hashlib

    w = np.empty((dim, n_bits))
    for d in range(dim):
        for b in range(n_bits):
            h = hashlib.md5(f"{d}:{b}".encode()).hexdigest()
            w[d, b] = 1.0 if int(h[0], 16) % 2 == 1 else -1.0
    return w


def hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
) -> DataFrame:
    """Random-hyperplane LSH signature (sign bits packed into a long) over
    the ``md5_planes`` — SQL-mirrorable, so the bucketing is
    oracle-checkable — computed with a vectorized pandas UDF (numpy
    matmul per Arrow batch)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    planes = md5_planes(dim, n_bits)

    @pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes) > 0  # (batch, n_bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return df.withColumn("ann_bucket", _sig(F.col(vec_col)))


def lsh_cosine_pairs_sparse(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    idx_col: str = "idxs",
    val_col: str = "vals",
    n_bits: int = 10,
    n_tables: int = 16,
    max_bucket: int | None = 4096,
    min_collisions: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) sub-quadratically
    over SPARSE vectors — parallel (index, value) arrays: random-hyperplane
    LSH tables → within-bucket pairs → exact cosine verify.  The 100-TB
    path for HIGH thresholds.  Output: (vec_a, vec_b, cosine).

    Recall: a pair at angle θ agrees per hyperplane with p = 1 − θ/π, so
    P(caught) = 1 − (1 − p^n_bits)^n_tables.  Defaults (10 bits × 16
    tables): cosine 0.95 → ~0.9988, 0.9 → ~0.978, 0.85 → ~0.916.  Below
    ~0.8 the margin math stops working — use ``exact_cosine_pairs``.
    ``min_collisions`` requires that many table collisions before a pair
    reaches the verify join, which suppresses background bucket noise at
    many-table configs.

    Why sparse: for feature-hashed text histograms the dense
    representation is almost all zeros (a few hundred shingle buckets
    out of dim 2048+), and a dense path's real cost is not arithmetic
    but MATERIALIZATION — building, checkpointing, and shipping n·dim·8
    bytes of vectors that the verify join then carries twice per
    candidate (measured at sf0.1: the dense vecs stage alone was ~2-7 s
    of a ~13 s query).  Here the dense form exists only INSIDE the
    signature UDF, one Arrow batch at a time:

    * signatures: batch scatter (``m[row, idx] = val``) straight into the
      batch matrix, then ONE fused GEMM against the (dim, n_tables·n_bits)
      plane block — the same bits as a dense matmul over the densified
      vectors (tests/ann_oracle.py keeps that dense path as the parity
      reference);
    * verify: exact dot per candidate pair, each chunk of pairs
      scattered into two dense (chunk, dim) blocks inside the kernel (see
      ``_pair_dot``), norms JVM-side from the value arrays.  Candidates
      ship ~nnz·16 bytes per side instead of dim·8.

    Scale: the candidate generator is the shared skew-safe
    ``candidate_pairs`` (window-gated buckets, collision floor); the
    verify join is a plain shuffle join on ids.  Python touches only the
    signature batches and the (floor-suppressed) candidate pairs.
    """
    from pyspark.sql.functions import pandas_udf

    from wdedup_spark.operators.lsh import candidate_pairs

    e = df.select(
        F.col(id_col).alias("id"),
        F.col(idx_col).alias("ii"),
        F.transform(F.col(val_col), lambda x: x.cast("double")).alias("vv"),
    )

    rng = np.random.default_rng(PLANE_SEED)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    if n_tables * (1 << n_bits) > 2**31 - 1:
        raise ValueError(
            f"n_tables={n_tables} × 2^{n_bits} buckets overflow the packed "
            "int32 bucket key (requires n_tables · 2^n_bits <= 2^31 − 1) — "
            "shrink the geometry or widen the packing to long"
        )
    # table index packed into the bucket key (r6, guide §2.3): a table's
    # key is < 2^n_bits, so (table << n_bits) | key is injective — the
    # same (table, key) equality classes as the old (band, bucket) pair,
    # in ONE int column.  The banding exchange then carries
    # (band=0:int, bucket:int, id) instead of (band:int, bucket:long,
    # id) — a third fewer bytes on the widest shuffle of the query, and
    # single-int join keys.  candidate_pairs sees band as a constant,
    # which changes nothing: bucket keys are opaque equality classes.
    table_shift = np.arange(n_tables, dtype=np.int64) << n_bits

    @pandas_udf("array<int>")
    def _sigs(idxs: pd.Series, vals: pd.Series) -> pd.Series:
        n = len(idxs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in idxs), dtype=np.int64, count=n)
        row = np.repeat(np.arange(n, dtype=np.int64), lens)
        m = np.zeros((n, dim))
        if lens.sum():
            m[row, np.concatenate(list(idxs)).astype(np.int64)] = np.concatenate(
                list(vals)
            ).astype(np.float64)
        bits = (m @ planes) > 0
        keys = (bits.reshape(n, n_tables, n_bits) * weights[None, None, :]).sum(axis=2)
        return pd.Series(list((keys + table_shift[None, :]).astype(np.int32)))

    banded = (
        e.select("id", F.explode(_sigs(F.col("ii"), F.col("vv"))).alias("bucket"))
        .select(F.lit(0).alias("band"), "bucket", "id")
    )
    cands = candidate_pairs(banded, max_bucket, min_collisions).select(
        F.col("conv_a").alias("vec_a"), F.col("conv_b").alias("vec_b")
    )

    @pandas_udf("double")
    def _pair_dot(ia: pd.Series, va: pd.Series, ib: pd.Series, vb: pd.Series) -> pd.Series:
        # Batched sparse dot (VERDICT r4 #6, no per-row Python loop):
        # scatter each CHUNK of pairs into two dense (chunk, dim) blocks
        # — the same batch-scatter idiom as the signature kernel — then
        # one einsum row-dot.  Measured on the production shape (10k
        # pairs × ~200 nnz, dim 2048): per-row intersect1d loop 312 ms,
        # flattened global intersect1d 1.45 s (the 2M-key sort LOSES to
        # 10k 200-element sorts — hypothesis falsified, documented),
        # dense chunked scatter 91 ms.  The dense trade (O(dim) per pair
        # regardless of nnz) is right for this operator's feature-hashed
        # histograms where nnz/dim ~ 1/10; chunking bounds memory at
        # 2·chunk·dim·8 = 16 MB.
        n = len(ia)
        out = np.zeros(n)
        chunk = 512
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            m = e - s
            A = np.zeros((m, dim))
            B = np.zeros((m, dim))
            ca, cb = list(ia[s:e]), list(ib[s:e])
            la = np.fromiter((len(x) for x in ca), dtype=np.int64, count=m)
            lb = np.fromiter((len(x) for x in cb), dtype=np.int64, count=m)
            if la.sum():
                A[np.repeat(np.arange(m), la), np.concatenate(ca).astype(np.int64)] = (
                    np.concatenate(list(va[s:e])).astype(np.float64)
                )
            if lb.sum():
                B[np.repeat(np.arange(m), lb), np.concatenate(cb).astype(np.int64)] = (
                    np.concatenate(list(vb[s:e])).astype(np.float64)
                )
            out[s:e] = np.einsum("ij,ij->i", A, B)
        return pd.Series(out)

    # (r6 negative result: asNondeterministic here — the §4.4
    # double-eval fix — regressed the cosine query 13.4 s → 24.5 s at
    # sf1.0 by blocking other rewrites around the verify join; reverted)

    norm = F.sqrt(F.aggregate("vv", F.lit(0.0), lambda s, x: s + x * x))
    sa = e.select(
        F.col("id").alias("vec_a"), F.col("ii").alias("ia"),
        F.col("vv").alias("va"), norm.alias("na"),
    )
    sb = e.select(
        F.col("id").alias("vec_b"), F.col("ii").alias("ib"),
        F.col("vv").alias("vb"), norm.alias("nb"),
    )
    return (
        cands.join(sa, "vec_a")
        .join(sb, "vec_b")
        .withColumn(
            "cosine",
            _pair_dot(F.col("ia"), F.col("va"), F.col("ib"), F.col("vb"))
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 64,
    n_probe: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path alongside ``lsh_bucketed_topk``.

    Train: deterministic centroid init (the n_lists corpus vectors with
    smallest ``xxhash64(id)`` — seedless, reproducible) + ``n_iter``
    Lloyd rounds computed distributively: assignment is one broadcast
    numpy argmax per Arrow batch, the mean is a posexplode → groupBy
    (list, pos) average (dim·n_lists tiny rows to the driver per round —
    never the corpus).

    Search: each query probes its ``n_probe`` nearest centroids and
    exact-cosine re-ranks only those inverted lists — corpus scanned
    ~n_probe/n_lists per query instead of fully.  ``n_probe == n_lists``
    degrades gracefully to exact brute force (pinned in tests).

    Scale notes: centroids are a broadcast (n_lists·dim·8 bytes); the
    probe join is a plain shuffle join on the list id whose skew AQE
    splits; all distance math is vectorized numpy over unit-normalized
    vectors (cosine == dot).  The normalized corpus is persisted only for
    the operator's DURATION: init, each Lloyd round, and the final index
    assignment are separate eager actions that would otherwise each
    re-scan + re-normalize the corpus (n_iter+2 full scans); the final
    index is then checkpointed eagerly and the corpus unpersisted, so the
    call leaves NO cached blocks behind (asserted in tests).  Dimension
    is taken from the vectors themselves.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _unitize(vs: pd.Series) -> pd.Series:
        # one Arrow batch → one numpy normalize.  NOT a JVM transform: a
        # norm aggregate referenced inside a higher-order lambda is
        # re-evaluated per ELEMENT (O(dim²) per row), and hoisting it into
        # a prior projection doesn't stick — CollapseProject re-inlines
        # single-reference aliases (both measured ~13× slower than this).
        # Zero-norm guard (ADVICE r3): an all-zero embedding divides by 1
        # instead of 0 and stays a zero vector — dot 0 with everything,
        # ranked last deterministically, never NaN.
        if not len(vs):
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(x, dtype=np.float64) for x in vs.to_numpy()])
        nn = np.linalg.norm(m, axis=1)
        nn[nn == 0] = 1.0
        return pd.Series(list(m / nn[:, None]))

    def _unit(df, idc, out_id):
        return df.select(
            F.col(idc).alias(out_id),
            _unitize(_as_double(F.col(vec_col))).alias("v"),
        )

    c = _unit(corpus, id_col, "neighbor_id").persist()
    q = _unit(queries, id_col, "query_id")

    # deterministic sample → driver: n_lists × dim doubles, never the corpus
    init = (
        c.orderBy(F.xxhash64(F.col("neighbor_id")))
        .limit(n_lists)
        .select("v")
        .toPandas()["v"]
    )
    cents = np.stack([np.asarray(x, dtype=np.float64) for x in init])

    for _ in range(n_iter):
        bc = cents

        @pandas_udf("int")
        def _assign(vs: pd.Series) -> pd.Series:
            m = np.stack(vs.to_numpy())
            return pd.Series(np.argmax(m @ bc.T, axis=1).astype(np.int32))

        sums = (
            c.select(_assign("v").alias("lst"), F.posexplode("v").alias("pos", "x"))
            .groupBy("lst", "pos")
            .agg(F.avg("x").alias("mean"))
            .toPandas()
        )
        new = cents.copy()  # empty lists keep their old centroid
        for lst, grp in sums.groupby("lst"):
            new[int(lst)] = grp.sort_values("pos")["mean"].to_numpy()
        norms = np.linalg.norm(new, axis=1)
        norms[norms == 0] = 1.0
        cents = new / norms[:, None]

    final_cents = cents

    @pandas_udf("int")
    def _assign_final(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy())
        return pd.Series(np.argmax(m @ final_cents.T, axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def _probes(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy())
        order = np.argsort(-(m @ final_cents.T), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    # materialize the final index EAGERLY, then release the persisted
    # corpus: without this the returned DataFrame keeps the persist handle
    # alive for the whole session and repeated ivf_topk calls accumulate
    # MEMORY_AND_DISK corpora (the leak class ADVICE r2/r3 flagged — same
    # fix as connected_components' per-iteration unpersist)
    indexed = c.select("neighbor_id", "v", _assign_final("v").alias("lst")).localCheckpoint(
        eager=True
    )
    c.unpersist()
    probed = q.select(
        "query_id", F.col("v").alias("qv"), F.explode(_probes("v")).alias("lst")
    )
    scored = (
        probed.join(indexed, "lst")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", _dot_udf()(F.col("qv"), F.col("v")))
    )
    # no dedup aggregate needed (unlike lsh_bucketed_topk's overlapping
    # multi-probe buckets): each corpus vector lives in exactly one list
    # and a query's probe lists are distinct, so (query, neighbor) pairs
    # are already unique — straight to the ranked top-k
    return _ranked(scored, k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket (plus Hamming-1 neighbor buckets for recall).  The planes are
    the hash-derived Rademacher planes (``md5_planes``), so the buckets
    are SQL-expressible and the whole query is oracle-checkable."""
    c = hyperplane_signature(
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")),
        "cvec", dim, n_bits,
    )
    q = hyperplane_signature(
        queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")),
        "qvec", dim, n_bits,
    )
    # probe own bucket + all Hamming-1 buckets (multi-probe LSH)
    probes = F.array(
        F.col("ann_bucket"),
        *[F.col("ann_bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)],
    )
    q_probed = q.select("query_id", "qvec", F.explode(probes).alias("ann_bucket"))
    scored = (
        q_probed.join(c, "ann_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", _cosine(F.col("qvec"), F.col("cvec")))
    )
    # a neighbor reached through several probed buckets scores once
    return _ranked(
        scored.groupBy("query_id", "neighbor_id").agg(F.max("score").alias("score")), k
    )

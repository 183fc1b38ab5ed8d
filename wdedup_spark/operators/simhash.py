"""SimHash + Hamming-distance buckets — the second candidate generator.

Catches character-level near-dups (fixture D2) whose shingle Jaccard is
already high but which SimHash finds far cheaper: one 64-bit signature per
document vs 128 lanes.

Bucketing uses the pigeonhole principle: split the 64-bit signature into
``d + 1`` chunks — two signatures within Hamming distance d agree on at
least one chunk exactly.  Candidates = equal (chunk index, chunk value);
the exact Hamming check is JVM-side ``bit_count(a XOR b) <= d`` — no
Python in the verification of this path at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wdedup_spark.functions import hashing
from wdedup_spark.operators.lsh import candidate_pairs

DEFAULT_HAMMING = 3


def simhash_udf(k: int = 3, feature: str = "poly"):
    """text → 64-bit SimHash (LongType) over k-shingle features.

    Features are k-gram hashes, not unigrams: with Zipfian vocabularies a
    unigram SimHash degenerates (every document's bit-majority is decided
    by the same heavy-hitter tokens, so unrelated docs collide at Hamming
    <= 3).  Shingle features keep the signature discriminative while
    char-level edits (fixture D2) still move only ~k·edits features.

    ``feature``: "poly" (default) = blake2b token hashes combined
    polynomially — the fast pipeline kernel; "md5" = md5 of the shingle
    string — bit-for-bit reproducible by DuckDB SQL, used by the
    oracle-verified query path (hashing.md5_shingle_hashes).
    """

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        th = hashing.TokenHasher()
        out = []
        for t in texts:
            toks = t.split() if t else []
            if feature == "md5":
                feats = hashing.md5_shingle_hashes(toks, k)
            else:
                feats = hashing.shingle_hashes_seq(th.hash_tokens(toks), k)
            out.append(hashing.to_i64(hashing.simhash(feats)))
        return pd.Series(out, dtype="int64")

    return _simhash


def add_simhash(
    df: DataFrame,
    text_col: str = "doc",
    out_col: str = "simhash",
    k: int = 3,
    feature: str = "poly",
) -> DataFrame:
    # (r6 negative result, kept for the record: computing the md5
    # features JVM-side — md5+conv inside a higher-order transform
    # lambda — regressed simhash_pairs 12 s → 80 s at sf1.0, because
    # lambda bodies are interpreted per WINDOW and never reach codegen.
    # The Python loop stays; the split-size floor in session.py now fans
    # it across every core, which is where its wall actually went.)
    return df.withColumn(out_col, simhash_udf(k, feature)(F.col(text_col)))


def simhash_chunks(
    df: DataFrame,
    sim_col: str = "simhash",
    id_col: str = "conv_id",
    max_hamming: int = DEFAULT_HAMMING,
    n_blocks: int = 6,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Multi-block pigeonhole tables (Manku, Jain, Sarma — "Detecting
    Near-Duplicates for Web Crawling", WWW 2007): split the 64-bit
    signature into ``n_blocks`` blocks; two signatures within Hamming
    distance d agree exactly on some (n_blocks - d)-subset of blocks, so
    each C(n_blocks, n_blocks-d) combination becomes one table keyed on
    those blocks' concatenation.

    vs the naive d+1 × 16-bit chunk scheme: 16-bit buckets saturate by the
    birthday bound (250k docs → ~2M random collisions); (n_blocks-d)-block
    keys are ~32 bits → random collisions stay negligible at 10^9+ docs
    while the pigeonhole guarantee is preserved.  All JVM bit arithmetic.
    """
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError("need more blocks than the Hamming budget")
    base = 64 // n_blocks
    extra = 64 % n_blocks
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def block(i: int):
        # Mask, not modulo: Spark's % keeps the dividend's sign, so any
        # signature with bit 63 set (a negative long) would get a negative
        # block-0 remainder and never share a bucket key with its positive
        # twin — silently breaking the pigeonhole recall guarantee.
        return F.shiftrightunsigned(F.col(sim_col), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1).cast("long")
        )

    # two-projection shape (r6, same fix as lsh.band_buckets): materialize
    # the n_blocks block values ONCE as columns, then build a flat
    # array<long> of the C(n_blocks, n_blocks-d) combination hashes over
    # plain column refs and posexplode it — the r5 single expression
    # (array of 20 structs, each recomputing its blocks' shift/mask)
    # was large enough to fall out of efficient codegen.
    extra = passthrough or []
    blocked = df.select(
        F.col(id_col).alias("id"), *extra,
        *[block(i).alias(f"_blk{i}") for i in range(n_blocks)],
    )
    keys = F.array(
        *[
            F.xxhash64(F.lit(t), *[F.col(f"_blk{i}") for i in combo])
            for t, combo in enumerate(
                combinations(range(n_blocks), n_blocks - max_hamming)
            )
        ]
    )
    return blocked.select(
        "id", *extra, F.posexplode(keys).alias("band", "bucket")
    ).select("band", "bucket", "id", *extra)


def simhash_candidates(
    df: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    max_hamming: int = DEFAULT_HAMMING,
    max_bucket: int | None = 256,
    k: int = 3,
    feature: str = "poly",
) -> DataFrame:
    """→ (conv_a, conv_b) pairs with Hamming(simhash) <= max_hamming.

    The pigeonhole buckets generate candidates; the exact distance filter
    re-joins the two signatures and checks ``bit_count(xor) <= d``.  With
    ``max_bucket=None`` the pigeonhole guarantee makes the result EXACTLY
    the set of all pairs within the Hamming budget (the DuckDB oracle's
    all-pairs definition); a cap bounds pathological buckets at scale
    with star edges, at the cost of completeness inside them.
    """
    # checkpoint: the signature pass (Python md5/hash kernels) feeds the
    # banding AND both sides of the exact-distance verify join — without
    # this it executes three times per query (r6)
    signed = (
        add_simhash(df, text_col, k=k, feature=feature)
        .select(F.col(id_col).alias(id_col), "simhash")
        .localCheckpoint(eager=False)
    )
    sigs = signed.select(F.col(id_col).alias("id"), "simhash")
    cands = candidate_pairs(simhash_chunks(signed, "simhash", id_col, max_hamming), max_bucket)
    return (
        cands.join(sigs.withColumnRenamed("id", "conv_a").withColumnRenamed("simhash", "sh_a"), "conv_a")
        .join(sigs.withColumnRenamed("id", "conv_b").withColumnRenamed("simhash", "sh_b"), "conv_b")
        .filter(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= max_hamming)
        .select("conv_a", "conv_b")
    )

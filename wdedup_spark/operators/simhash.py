"""SimHash + Hamming-distance buckets — the second candidate generator.

Catches character-level near-dups (fixture D2) whose shingle Jaccard is
already high but which SimHash finds far cheaper: one 64-bit signature per
document vs 128 lanes.

Bucketing uses the pigeonhole principle: split the 64-bit signature into
``N_BLOCKS`` blocks — two signatures within Hamming distance d agree
exactly on at least ``N_BLOCKS - d`` of them.  Candidates = equal
(block combination, block values), expanded by the one bucket engine
(``lsh.candidate_pairs_multi``) with the signature as its payload, so
every raw row carries both sides' signatures; the exact Hamming check is
the JVM-side filter ``bit_count(a XOR b) <= d`` on those rows — no
Python and no join back to the signatures in the verification of this
path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wdedup_spark.functions import hashing
from wdedup_spark.operators.lsh import candidate_pairs_multi

DEFAULT_HAMMING = 3
#: pigeonhole blocks per 64-bit signature (``simhash_chunks``)
N_BLOCKS = 6


def simhash_udf(k: int = 3):
    """text → 64-bit SimHash (LongType) over k-shingle features.

    Features are k-gram hashes, not unigrams: with Zipfian vocabularies a
    unigram SimHash degenerates (every document's bit-majority is decided
    by the same heavy-hitter tokens, so unrelated docs collide at Hamming
    <= 3).  Shingle features keep the signature discriminative while
    char-level edits (fixture D2) still move only ~k·edits features.

    A feature is the md5 of the shingle STRING (``hashing.md5_shingle_hashes``),
    so DuckDB SQL reproduces the signature bit for bit.  The features are
    built per document; the bit majorities of the whole batch are one
    ``hashing.batch_simhash`` pass.  (The pipeline's own SimHash is a
    channel of the fused sign kernel, over blake2b polynomial features.)
    """

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        feats = [hashing.md5_shingle_hashes(t.split() if t else [], k) for t in texts]
        offsets = np.zeros(len(feats) + 1, dtype=np.int64)
        np.cumsum([len(f) for f in feats], out=offsets[1:])
        flat = np.concatenate(feats) if feats else np.empty(0, dtype=np.uint64)
        return pd.Series(hashing.to_i64(hashing.batch_simhash(flat, offsets)))

    return _simhash


def add_simhash(
    df: DataFrame,
    text_col: str = "doc",
    out_col: str = "simhash",
    k: int = 3,
) -> DataFrame:
    # (r6 negative result, kept for the record: computing the md5
    # features JVM-side — md5+conv inside a higher-order transform
    # lambda — regressed simhash_pairs 12 s → 80 s at sf1.0, because
    # lambda bodies are interpreted per WINDOW and never reach codegen.
    # The Python loop stays; the split-size floor in session.py now fans
    # it across every core, which is where its wall actually went.)
    return df.withColumn(out_col, simhash_udf(k)(F.col(text_col)))


def simhash_chunks(
    df: DataFrame,
    sim_col: str = "simhash",
    id_col: str = "conv_id",
    max_hamming: int = DEFAULT_HAMMING,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Multi-block pigeonhole tables (Manku, Jain, Sarma — "Detecting
    Near-Duplicates for Web Crawling", WWW 2007): split the 64-bit
    signature into ``N_BLOCKS`` blocks; two signatures within Hamming
    distance d agree exactly on some (N_BLOCKS - d)-subset of blocks, so
    each C(N_BLOCKS, N_BLOCKS-d) combination becomes one table keyed on
    those blocks' concatenation.

    vs the naive d+1 × 16-bit chunk scheme: 16-bit buckets saturate by the
    birthday bound (250k docs → ~2M random collisions); (n_blocks-d)-block
    keys are ~32 bits → random collisions stay negligible at 10^9+ docs
    while the pigeonhole guarantee is preserved.  All JVM bit arithmetic.
    """
    from itertools import combinations

    n_blocks = N_BLOCKS
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
) -> DataFrame:
    """→ (conv_a, conv_b) pairs with Hamming(simhash) <= max_hamming.

    The pigeonhole buckets generate candidates through the bucket engine
    (``lsh.candidate_pairs_multi``), which carries each id's signature to
    both sides of every raw row; the exact distance check
    ``bit_count(xor) <= d`` filters those rows, and a distinct folds them
    (the floor-1 fold of ``lsh.candidate_pairs``).  With
    ``max_bucket=None`` the pigeonhole guarantee makes the result EXACTLY
    the set of all pairs within the Hamming budget (the DuckDB oracle's
    all-pairs definition); a cap bounds pathological buckets at scale
    with star edges, at the cost of completeness inside them.
    """
    # checkpoint: uncapped (the simhash_pairs query), the Hamming
    # filter's inferred isnotnull(simhash) is pushed below the self-join
    # and evaluates the md5 UDF a second time
    signed = (
        add_simhash(df, text_col, k=k)
        .select(F.col(id_col).alias(id_col), "simhash")
        .localCheckpoint(eager=False)
    )
    banded = simhash_chunks(signed, "simhash", id_col, max_hamming, passthrough=["simhash"])
    raw = candidate_pairs_multi(
        banded.select(F.lit(0).cast("tinyint").alias("ch"), "band", "bucket", "id", "simhash"),
        max_bucket,
    )
    return (
        raw.filter(F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))) <= max_hamming)
        .select("conv_a", "conv_b")
        .distinct()
    )

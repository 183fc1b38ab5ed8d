"""Dense-vector LSH cosine pairs: the parity reference for
``ann.lsh_cosine_pairs_sparse``.

Same seeded plane block (``ann.PLANE_SEED``), same per-table keys, same
candidate engine; the vectors are dense ``array<double>`` and the verify cosine is
a JVM expression.  The sparse entry point must find the same pairs with
the same cosines (tests/test_ann.py).  No engine path uses it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wdedup_spark.operators.ann import PLANE_SEED, _as_double, _cosine
from wdedup_spark.operators.lsh import candidate_pairs


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_bits: int = 10,
    n_tables: int = 16,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """(vec_id, embedding) → (vec_a, vec_b, cosine) for candidate pairs
    with cosine >= threshold: random-hyperplane tables → within-bucket
    pairs → exact cosine."""
    e = df.select(F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v"))
    rng = np.random.default_rng(PLANE_SEED)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        bits = (m @ planes) > 0
        keys = (bits.reshape(len(m), n_tables, n_bits) * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(keys))

    banded = e.select("id", _sigs(F.col("v")).alias("keys")).select(
        "id", F.posexplode("keys").alias("band", "bucket")
    ).select("band", "bucket", "id")
    cands = candidate_pairs(banded, max_bucket).select(
        F.col("conv_a").alias("vec_a"), F.col("conv_b").alias("vec_b")
    )
    va = e.select(F.col("id").alias("vec_a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", _cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )

"""Exact duplicate detection — hash groupBy.

The reference's core semantic: equal keys collapse
(/root/reference/src/wmerge.cpp:124-127), first occurrence wins
(src/wfindfirst.cpp:48-57, README.md:79-80 "lesser occurrence picked").

At 10^12-turn scale exact dedup runs FIRST (SURVEY.md §7): byte-identical
conversations collapse to a single representative before any MinHash work,
so giant duplicate cliques (the pathological case for LSH bucket sizes and
connected-components convergence) shrink to single nodes.

Shuffle economics: we groupBy a 256-bit content digest, never the document
text — at 100 TB the exchange carries 32-byte keys + ids.  The digest is
``sha2(doc, 256)``; collision probability is negligible (< 2^-128) and the
digest doubles as the stable cluster key for the stage ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_fingerprint(df: DataFrame, text_col: str = "doc", out_col: str = "fp") -> DataFrame:
    """256-bit content digest (the Bloom-ed key of include/wbloom.hpp:50-87
    re-expressed: fixed-width key that makes comparison O(1))."""
    return df.withColumn(out_col, F.sha2(F.col(text_col), 256))


def exact_dup_clusters(
    df: DataFrame, text_col: str = "doc", id_col: str = "conv_id"
) -> DataFrame:
    """Group identical documents: → (fp, rep_id, n_members).

    ``rep_id = min(id)`` is the deterministic first-occurrence
    representative (src/wfindfirst.cpp:48-57).
    """
    return (
        add_fingerprint(df, text_col)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )

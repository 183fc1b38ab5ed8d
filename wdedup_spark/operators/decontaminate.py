"""Benchmark decontamination — find training documents that share any
long n-gram with a held-out evaluation corpus.

The training-data-pipeline operation next to dedup (GPT-3 appendix C /
PaLM-style n-gram decontamination): a training doc is CONTAMINATED if any
of its n-token grams appears verbatim in the benchmark set.  This is the
wdedup word-profile idiom (/root/reference/src/wprof.cpp:50-144: hash the
unit, group, test membership) with the unit widened from a word to an
n-gram and membership tested against a second corpus.

Scale shape (the 100-TB configuration):

* the benchmark side is TINY relative to training data (eval suites are
  thousands of docs vs billions) — its distinct gram set is broadcast, so
  the contamination test is a map-side hash probe inside whole-stage
  codegen: the training corpus is never shuffled to find hits;
* each side's grams come from one whole-batch Arrow kernel
  (``gram_hash_array_udf``): a gram's identity is its 64-bit shingle
  hash, so the broadcast probe ships 8 bytes per gram instead of a
  string, and only HITS reach the one aggregation shuffle, keyed by
  doc_id with map-side partial counts;
* for a benchmark too large to broadcast, pass ``broadcast_bench=False``
  to fall back to a plain shuffled join on the gram hash — same plan
  class as the exact-dedup digest groupBy.

Results equal the exact string-gram definition up to 64-bit hash
collisions (tests/ngram_oracle.py keeps that definition as the
reference); the DuckDB oracle states it over joined token strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wdedup_spark.functions import hashing


def gram_hash_array_udf(n: int):
    """text → array<long> of the doc's DISTINCT n-gram hashes (blake2b
    token hashes combined polynomially — the engine's standard shingle
    kernel at width n); fewer than ``n`` tokens → empty array (a doc
    shorter than the gram width cannot be contaminated by the rule).
    Whole-batch vectorized (r6).

    Uses the MIXED position constants (``hashing._poly_consts_mixed``):
    the hash is the gram's IDENTITY here, and the default affine
    constants collide with certainty on reversal-symmetric patterns
    ("a b b a" vs "b a a b" — caught by the r6 sf0.1 oracle sweep;
    tests/test_decontaminate.py pins the case)."""

    @pandas_udf("array<long>")
    def _g(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        flat, off = hashing.split_hash_batch(texts)
        lens = np.diff(off)
        grams, go = hashing.batch_shingle_seq(flat, off, n, mixed=True)
        sets, so = hashing.batch_unique_sets(grams, go)
        out = np.split(sets.view(np.int64), so[1:-1])
        # shingle kernels clamp 0 < len < n docs to one whole-doc gram;
        # the decontamination contract is the opposite (a doc shorter
        # than the gram width cannot be contaminated) — blank them
        empty = np.empty(0, dtype=np.int64)
        return pd.Series(
            [empty if lens[i] < n else out[i] for i in range(len(texts))]
        )

    return _g


def contaminated(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """→ ``(id, n_hit_grams)``: training docs sharing ≥1 n-gram with the
    benchmark corpus, with the count of DISTINCT shared grams (the
    severity signal a contamination report wants).

    Gram identity is the engine's 64-bit shingle hash (r6): building
    every gram STRING in an interpreted transform on both sides was the
    dominant cost (measured at sf1.0: 2.6 s per side → ~0.3 s hashed).
    Results are identical modulo 64-bit hash collisions, the same caveat
    class the verify kernels already carry (they intersect hashed
    shingle sets)."""
    g = gram_hash_array_udf(n)
    train_grams = train.select(
        F.col(id_col).alias("id"), F.explode(g(F.col(text_col))).alias("gram")
    )
    bench_grams = bench.select(F.explode(g(F.col(text_col))).alias("gram")).distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    return (
        train_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_grams"))
    )

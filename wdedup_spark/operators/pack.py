"""Sequence packing plan — concat-and-chunk at corpus scale.

LLM training consumes fixed-length token sequences; the standard
"concat-and-chunk" scheme (GPT-2/3 style) concatenates every document in
a deterministic order and splits the stream every ``seq_len`` tokens,
letting documents straddle chunk boundaries.  This operator computes the
per-document placement — where each document's tokens land in that
virtual stream — WITHOUT the naive formulation's scale bug: a running
total via ``Window.orderBy(id)`` with no ``partitionBy`` collapses the
whole corpus into ONE partition (Spark warns and then does it), which is
exactly the kind of plan that works at sf0.1 and dies at 100 TB.

Plan shape (distributed prefix sum, the textbook two-phase scan):

1. range-partition the (id, n_tokens) projection by id — an exchange of
   two longs per document; ``localCheckpoint`` PINS the sampled partition
   boundaries (RangePartitioner samples per job; the totals pass and the
   cumsum pass must see the SAME pids — same hazard prefixdedup.sorted_corpus
   documents, verified empirically there);
2. within-partition running totals: ``Window.partitionBy(pid)
   .orderBy(id)`` — parallel across partitions.  (Catalyst can't know
   rows are already clustered by pid, so the window re-exchanges the
   projection on pid — the ~16-byte rows cross the wire twice in total,
   which is still ~1% of corpus bytes; plan-audited in docs/PLANS.md);
3. cross-partition offsets: aggregate ONE row per partition, prefix-sum
   those P rows in a single-partition window (bounded by partition
   count, never by data), broadcast-join the offsets back.

The result is invariant to the sampled boundaries (prefix offsets +
within-partition cumsum = global cumsum wherever the cuts fall), so the
output is deterministic and SQL-mirrorable by a plain global window —
which is what the driver's DuckDB oracle runs.

Reference scope: the reference engine stops at word dedup (it has no
packing stage); this is part of the §2-adjacent training-pipeline layer,
like functions/pii.py and operators/quality.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wdedup_spark.functions.text import token_count, tokens


def pack_plan(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """→ ``(id, n_tokens, tok_start, seq_start, seq_off, seq_end)`` per
    document: the document's tokens occupy stream positions
    ``[tok_start, tok_start + n_tokens)``; it begins in chunk
    ``seq_start`` at offset ``seq_off`` and ends in chunk ``seq_end``
    (== ``seq_start`` for empty documents, which occupy no tokens).

    Stream order is ascending ``id_col`` — the caller's contract for
    reproducible packing.  Token counts are the whitespace proxy
    (``text.token_count``).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    spark = df.sparkSession
    counted = df.select(
        F.col(id_col).alias("id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    par = n_partitions or max(spark.sparkContext.defaultParallelism, 2)
    ranged = (
        counted.repartitionByRange(par, "id")
        .localCheckpoint(eager=True)
        .withColumn("pid", F.spark_partition_id())
    )
    # explicit ROWS frame: the orderBy default is a RANGE frame, which
    # would lump duplicate ids into one cumsum step; ROWS matches the
    # oracle's `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`.
    # n_tokens is the tiebreak for DUPLICATE ids: a ROWS frame over an
    # id-only order is nondeterministic across runs when ids repeat
    # (and the oracle would pick its own tie order); with (id, n_tokens)
    # the remaining ties are rows identical in every projected column,
    # so any tie order yields the same output multiset
    cum = ranged.withColumn(
        "cum_in_part",
        F.sum("n_tokens").over(
            Window.partitionBy("pid")
            .orderBy("id", "n_tokens")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # ONE row per partition; the no-partitionBy window below runs over
    # those P rows only — bounded by partition count, never by data
    offsets = (
        ranged.groupBy("pid")
        .agg(F.sum("n_tokens").alias("part_total"))
        .withColumn(
            "part_offset",
            F.coalesce(
                F.sum("part_total").over(
                    Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("part_total")
    )
    placed = cum.join(F.broadcast(offsets), "pid").select(
        "id",
        "n_tokens",
        (F.col("part_offset") + F.col("cum_in_part") - F.col("n_tokens"))
        .alias("tok_start"),
    )
    # `div` = exact 64-bit integer division (floor(a/b) via doubles loses
    # exactness past 2^53 tokens — not a bound worth carrying)
    return placed.select(
        "id",
        "n_tokens",
        "tok_start",
        F.expr(f"tok_start div {seq_len}").alias("seq_start"),
        F.expr(f"tok_start % {seq_len}").alias("seq_off"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(tok_start + n_tokens - 1) div {seq_len}"),
        )
        .otherwise(F.expr(f"tok_start div {seq_len}"))
        .alias("seq_end"),
    )


def chunk_docs(
    df: DataFrame,
    chunk_tokens: int,
    stride_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sliding-window chunking — the RAG/embedding-prep
    counterpart of pack_plan: pack_plan concatenates ACROSS documents
    (training streams), chunk_docs windows WITHIN each document
    (``chunk_tokens``-token windows every ``stride_tokens`` tokens,
    overlap = chunk - stride).  → (id, chunk_idx, n_tokens, chunk_text);
    zero-token documents yield zero chunks; the final windows are short
    rather than padded; a window whose content is fully covered by its
    predecessor (start beyond the last window that reaches the doc end)
    is never emitted — it would be pure duplicate embedding compute
    (review r5).  Tokenization is functions.text.tokens — the SAME
    expression pack_plan's token_count counts, so chunks and packing
    can never desynchronize.

    Scale shape: narrow throughout — split/sequence/transform/explode
    are all JVM Column expressions fused into the scan projection, no
    shuffle, no Python.  Chunk count per doc is ceil(n/stride), so
    output size is bounded by (1 + chunk/stride)x the corpus — the
    caller picks the overlap and owns that constant.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    stride = chunk_tokens if stride_tokens is None else stride_tokens
    if not 0 < stride <= chunk_tokens:
        raise ValueError(
            f"stride_tokens must be in (0, chunk_tokens], got {stride}"
        )
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # window starts 0, stride, 2*stride, ...; the last emitted index is
    # the first window that reaches the doc end (ceil((n-W)/stride) for
    # n > W, else 0) — later starts would be strict subsets of it
    last_idx = F.when(
        n > chunk_tokens,
        (F.floor((n - chunk_tokens - 1) / stride) + 1).cast("int"),
    ).otherwise(F.lit(0))
    idxs = F.when(
        n > 0, F.sequence(F.lit(0), last_idx)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.explode(idxs).alias("chunk_idx"),
        )
        .select(
            "id",
            "chunk_idx",
            F.slice(
                F.col("_toks"),
                F.col("chunk_idx") * stride + 1,
                chunk_tokens,
            ).alias("_w"),
        )
        .select(
            "id",
            "chunk_idx",
            F.size("_w").cast("long").alias("n_tokens"),
            F.array_join("_w", " ").alias("chunk_text"),
        )
    )

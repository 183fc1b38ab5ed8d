"""Prefix-subsumption dedup — find documents that are a proper prefix of
another document.

The agent-transcript case the similarity channels miss: a conversation
that died mid-run and was retried, or a transcript checkpointed at two
lengths, yields a SHORT document that is byte-for-byte a prefix of a
LONG one.  Jaccard/containment on shingles degrades as the length ratio
grows (a 10-turn prefix of a 500-turn transcript has Jaccard ~0.02), and
exact dedup sees two distinct digests — yet a training pipeline wants
the subsumed prefix gone.

One engine, the reference's sort-then-scan idiom (O5 sort+emit, the
reference's src/wprof.cpp:143-156: duplicates become neighbors under a
total order) lifted to a cluster, over DISTINCT texts:

* strings sharing prefix ``A`` occupy the contiguous interval
  ``[A, A~)`` in lexicographic order, so ``A`` is a proper prefix of
  SOME other document iff the next text in global sort order starts
  with ``A`` — and that successor is then the lexicographically
  SMALLEST proper extension, which doubles as the subsumption witness;
* ``sorted_corpus`` realizes the global order as a sorted RUN: one
  ``repartitionByRange(text)`` exchange, each range slice holding a
  contiguous interval, Spark's sampled range partitioner balancing them;
* ``corpus_bounds`` records each slice's first row — O(slices) rows —
  so ``edges_from_sorted`` answers every row with one forward scan per
  slice, the last row's successor being the next slice's first row (no
  pairwise work: O(rows) comparisons total).

A run must be PINNED before its bounds and its scan read it:
RangePartitioner re-samples per job, so unpinned, the two jobs would see
different slicings.  ``prefix_subsumed`` pins with ``localCheckpoint``
for its one call; the pipeline commits the run to parquet, which also
lets later days probe it (``cross_prefix_edges``) instead of re-sorting.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Loud per-slice caps (VERDICT r4 #7): the per-slice scans materialize one
# pandas frame per range slice.  Normally the range partitioner bounds
# that at ~rows/partitions, but a pathological corpus — sampling collapse
# on near-identical keys, or a handful of giant documents — can hand one
# frame an unbounded share.  Exceeding a cap is a partitioning failure the
# operator must surface (resize n_partitions / pre-split the corpus), not
# an OOM to debug from an executor heap dump.
MAX_SLICE_ROWS = 4_000_000
MAX_SLICE_BYTES = 2 << 30  # char count as a byte proxy (exact for ASCII)


def _caps() -> tuple[int, int]:
    """Resolve caps DRIVER-SIDE at call time so they serialize by value
    into the executor closures (a worker re-imports this module and would
    otherwise see only the defaults)."""
    return MAX_SLICE_ROWS, MAX_SLICE_BYTES


def _slice_guard(pdf: "pd.DataFrame", where: str, caps: tuple[int, int]) -> None:
    held = ((len(pdf), "rows"), (int(pdf["text"].str.len().sum()), "text bytes"))
    for (n, unit), cap in zip(held, caps):
        if n > cap:
            raise ValueError(
                f"{where}: range slice holds {n} {unit} (cap {cap}); the range "
                "partitioning degenerated — raise n_partitions or pre-split "
                "the corpus"
            )


# ---------------------------------------------------------------------------
# Sorted-run engine: one run, its slice bounds, one scan per slice
# ---------------------------------------------------------------------------


def sorted_corpus(
    df: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Range-sorted corpus artifact ``(id, text, slice)`` — ONE range
    exchange.  Null texts are excluded (no prefix relation).

    The caller MUST pin the result (ledger commit / localCheckpoint)
    before using it in more than one job: RangePartitioner re-samples
    per job, so unpinned, bounds and scans would see different slicings
    (seen: two actions on one unpinned repartitionByRange gave different
    bounds at 200k rows).  A parquet commit also pins the slicing for
    every later probe."""
    spark = df.sparkSession
    rows = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).filter(F.col("text").isNotNull())
    par = n_partitions or max(spark.sparkContext.defaultParallelism, 2)
    return (
        rows.repartitionByRange(par, "text", "id")
        .sortWithinPartitions("text", "id")
        .withColumn("slice", F.spark_partition_id())
    )


def corpus_bounds(corpus: DataFrame) -> DataFrame:
    """Per-slice ``(slice, first_text, first_id)`` of a sorted corpus —
    O(non-empty slices) rows.  Computed once at commit time so later days
    route probes WITHOUT scanning the corpus; texts are distinct, so the
    slice minimum is the slice's first row."""
    return corpus.groupBy("slice").agg(
        F.min("text").alias("first_text"),
        F.min_by("id", F.struct("text", "id")).alias("first_id"),
    )


def _bounds_list(bounds: DataFrame) -> list:
    """Driver-side bounds, first_text-ascending — bounded by slice count,
    never by data."""
    return sorted(bounds.collect(), key=lambda r: r.first_text)


def _next_first(blist: list) -> dict:
    """slice → ``(first_text, first_id)`` of the next non-empty slice in
    text order: the run successor of the slice's last row.  The last
    slice has no entry (``.get`` → None)."""
    return {
        int(b.slice): (n.first_text, n.first_id) for b, n in zip(blist, blist[1:])
    }


def edges_from_sorted(corpus: DataFrame, bounds: DataFrame) -> DataFrame:
    """Subsumption edges ``(conv_a=witness, conv_b=prefix)`` WITHIN one
    pinned sorted run: per slice, one forward scan; the last row's
    successor is the next slice's first row (broadcast bounds).  Texts
    are distinct (exact-first in the pipeline, the text collapse in
    ``prefix_subsumed``), so successor == next row."""
    spark = corpus.sparkSession
    caps = _caps()
    id_field = corpus.schema["id"].dataType
    bc = spark.sparkContext.broadcast(_next_first(_bounds_list(bounds)))
    schema = T.StructType(
        [T.StructField("conv_a", id_field), T.StructField("conv_b", id_field)]
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        _slice_guard(pdf, "edges_from_sorted", caps)
        pdf = pdf.sort_values(["text", "id"], kind="mergesort")
        texts, ids = pdf["text"].tolist(), pdf["id"].tolist()
        tail = bc.value.get(int(pdf["slice"].iloc[0]))
        a, b = [], []
        for i, t in enumerate(texts):
            nx = (texts[i + 1], ids[i + 1]) if i + 1 < len(texts) else tail
            if nx is not None and nx[0].startswith(t) and nx[0] != t:
                a.append(nx[1])
                b.append(ids[i])
        return pd.DataFrame({"conv_a": a, "conv_b": b})

    return corpus.groupBy("slice").applyInPandas(scan, schema)


def prefix_subsumed(
    df: DataFrame,
    text_col: str = "doc",
    id_col: str = "conv_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """→ ``(id, subsumed, witness)`` for every input row: ``subsumed``
    iff the document's text is a PROPER prefix of some other document's
    text (equal texts are exact duplicates — the exact stage's job, not
    this one's); ``witness`` is then the subsuming document —
    deterministically the min-id row of the lexicographically smallest
    proper extension — usable directly as a (prefix → witness) dedup edge
    for the cluster stage.  ``witness`` is null when not subsumed.

    The sorted-run engine over the DISTINCT texts, each represented by
    its min id (the witness tie-break), pinned with ``localCheckpoint``
    for the bounds and scan jobs.  Every input row takes its text's
    answer through a left join on text, so equal texts share one answer
    and null texts (outside the run) come back unsubsumed.
    """
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    reps = rows.groupBy("text").agg(F.min("id").alias("id"))
    corpus = sorted_corpus(reps, "text", "id", n_partitions).localCheckpoint(
        eager=True
    )
    witness = (
        edges_from_sorted(corpus, corpus_bounds(corpus))
        .join(corpus.select(F.col("id").alias("conv_b"), "text"), "conv_b")
        .select("text", F.col("conv_a").alias("witness"))
    )
    return rows.join(witness, "text", "left").select(
        "id", F.col("witness").isNotNull().alias("subsumed"), "witness"
    )


# ---------------------------------------------------------------------------
# Committed-artifact flow (pipeline + cross-day increments)
# ---------------------------------------------------------------------------
#
# The pipeline commits each day's sorted run and its bounds to parquet —
# the committed files ARE the pin — which is what makes the prefix
# channel incrementable: a later day's batch answers its cross-corpus
# prefix questions by PROBING the pinned slices (predecessor/successor
# lookups) instead of re-sorting the corpus.  The chain invariant that
# makes two probes per new document sufficient (mirror of wdedup's
# sort-once-scan-once economy, the reference's src/wprof.cpp:143-156):
#
# * a committed doc Q is NEWLY subsumed by new doc N only if Q is N's
#   immediate committed predecessor — any committed doc strictly between
#   Q and N lies in [Q, Q~) too, so it starts with Q and subsumed Q on
#   the day the later of the two arrived;
# * a new doc P is subsumed by the committed corpus iff some run's
#   successor of P starts with P — the global committed successor IS
#   some run's successor, and every committed doc between P and a
#   witness is itself a witness.
#
# Per-run soundness needs no cross-run combine: a per-run predecessor/
# successor that satisfies startswith is a TRUE proper-prefix pair, and
# redundant true edges are harmless to connected components.  The
# full-recompute canonical edge (smallest-proper-extension witness) is
# always among the emitted edges — when the later of (prefix, canonical
# witness) arrived, nothing committed or batched could sit between them
# (it would be a smaller extension) — so incremental components are a
# COARSENING of the full recompute's: same subsumed set, same canonical
# edges, plus early-witness edges a full recompute would re-point at a
# later-arriving smaller extension.  (Caveat documented in
# plans/pipeline.py and pinned by tests/test_pipeline_prefix.py.)
#
# All of this assumes DISTINCT texts — guaranteed by exact-first (the
# channel runs on exact-stage representatives).


def cross_prefix_edges(
    new_df: DataFrame,
    runs: list[tuple[DataFrame, DataFrame]],
    text_col: str = "doc",
    id_col: str = "conv_id",
) -> DataFrame:
    """Edges between NEW documents and committed sorted runs, BOTH
    directions, reading only the slices a new document routes into:

    * route each new doc to its run slice by binary search over the
      broadcast bounds (no corpus scan);
    * read ONLY touched slices (``slice IN (...)`` prunes whole parquet
      files — the artifact is written one-slice-per-file);
    * per slice, one merged scan: a new doc's committed predecessor /
      successor fall out of the sort; ``startswith`` checks emit
      (new witnesses old-prefix) and (old witnesses new-prefix) edges.

    Per-day cost: O(batch · chain) probes + touched-slice reads — never
    a corpus re-sort."""
    spark = new_df.sparkSession
    caps = _caps()
    id_field = new_df.schema[id_col].dataType
    news = new_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).filter(F.col("text").isNotNull())
    edge_schema = T.StructType(
        [T.StructField("conv_a", id_field), T.StructField("conv_b", id_field)]
    )
    out: DataFrame | None = None
    for corpus, bounds in runs:
        blist = _bounds_list(bounds)
        if not blist:  # empty run: nothing committed to probe
            continue
        firsts = [b.first_text for b in blist]
        slices = [int(b.slice) for b in blist]
        bc = spark.sparkContext.broadcast((firsts, slices, _next_first(blist)))
        route_schema = T.StructType(
            [
                T.StructField("id", id_field),
                T.StructField("text", T.StringType()),
                T.StructField("slice", T.IntegerType()),
            ]
        )

        # NB: the UDFs are built by FACTORIES binding this run's broadcast
        # — the loop rebinds `bc` per run and the UDFs execute lazily at
        # the final union's action, where a plain closure would see only
        # the LAST run's value.  (Default-arg binding is NOT an option:
        # applyInPandas passes (key, pdf) to two-parameter functions.)
        def _make_route(bc):
            def route(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                import numpy as np

                fs, sl, _ = bc.value
                fa = np.array(fs, dtype=object)
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    # idx of the slice whose interval contains the text;
                    # pre-corpus texts (idx -1) join slice 0: they sort
                    # before its first row, so the merged scan answers them
                    idx = np.searchsorted(
                        fa, pdf["text"].to_numpy(dtype=object), side="right"
                    ) - 1
                    yield pd.DataFrame(
                        {
                            "id": pdf["id"],
                            "text": pdf["text"],
                            "slice": [sl[max(i, 0)] for i in idx],
                        }
                    )

            return route

        # pin: `routed` is consumed twice (touched-slice collect, then
        # the merged scan) — without the pin the mapInPandas routing
        # pass and the new-batch read run twice per chain day
        routed = news.mapInPandas(_make_route(bc), route_schema).localCheckpoint(
            eager=True
        )
        touched = [r.slice for r in routed.select("slice").distinct().collect()]
        if not touched:
            continue
        old_t = corpus.filter(F.col("slice").isin(touched)).select(
            "id", "text", "slice", F.lit(False).alias("is_new")
        )
        both = old_t.unionByName(
            routed.select("id", "text", "slice", F.lit(True).alias("is_new"))
        )

        def _make_scan(bc):
            def scan(pdf: pd.DataFrame) -> pd.DataFrame:
                _slice_guard(pdf, "cross_prefix_edges", caps)
                _, _, nx = bc.value
                pdf = pdf.sort_values(["text", "id"], kind="mergesort")
                tail = nx.get(int(pdf["slice"].iloc[0]))
                texts = pdf["text"].tolist()
                ids = pdf["id"].tolist()
                isnew = pdf["is_new"].tolist()
                a, b = [], []
                prev_old = None  # most recent committed (text, id) before i
                # next committed row strictly after each position
                n = len(texts)
                succ_old: list = [None] * n
                nxt_old = tail
                for i in range(n - 1, -1, -1):
                    succ_old[i] = nxt_old
                    if not isnew[i]:
                        nxt_old = (texts[i], ids[i])
                for i in range(n):
                    if isnew[i]:
                        t = texts[i]
                        # texts are distinct across new/committed (unseen-
                        # fp reps), but guard != for PROPER prefixes anyway
                        if (
                            prev_old is not None
                            and t != prev_old[0]
                            and t.startswith(prev_old[0])
                        ):
                            a.append(ids[i])  # new doc witnesses old prefix
                            b.append(prev_old[1])
                        s = succ_old[i]
                        if s is not None and s[0] != t and s[0].startswith(t):
                            a.append(s[1])  # old doc witnesses new prefix
                            b.append(ids[i])
                    else:
                        prev_old = (texts[i], ids[i])
                return pd.DataFrame({"conv_a": a, "conv_b": b})

            return scan

        edges = both.groupBy("slice").applyInPandas(_make_scan(bc), edge_schema)
        out = edges if out is None else out.unionByName(edges)
    if out is None:
        return spark.createDataFrame([], edge_schema)
    return out


"""The end-to-end near-duplicate pipeline — the graft's ``main``.

Orchestrates the checkpointed stage DAG (SURVEY.md §3):

  assemble → exact → sign(shingle+MinHash+SimHash) → candidates
  (LSH ∪ SimHash ∪ substring) → verify → cluster

mirroring the reference's driver (/root/reference/src/main.cpp:208-222:
wprof → wmerge → wfindfirst) with the stage ledger standing in for the
WAL.  Every stage is resumable: rerunning after a crash skips committed
stages (tests/test_resume.py is the F4 protocol).

Scale architecture (the 100 TB story):
* exact dedup FIRST — near-dup stages run on distinct documents only, so
  boilerplate floods and giant exact-dup cliques never reach the LSH
  shuffle (SURVEY.md §7 "hard parts": cliques collapse to single nodes);
* sign-before-shuffle — candidates/verify exchange signatures and ids,
  never documents; worst-case wide-stage row is ~1 KB regardless of
  conversation length;
* candidate pair volume is bounded per bucket (lsh.candidate_pairs_multi
  max_bucket + star edges), so one pathological bucket cannot explode
  the verify stage;
* each stage commits row counts / bytes / file lineage to the ledger —
  the observability the reference gets from profile sizes in its WAL.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wdedup_spark.operators.assemble import assemble_conversations
from wdedup_spark.operators.cluster import cluster_assignments, incremental_update
from wdedup_spark.operators.exact import add_fingerprint
from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.operators.simhash import simhash_chunks
from wdedup_spark.operators.substring import common_run_udf
from wdedup_spark.sources.ledger import StageLedger


#: bumped when the stage DAG / committed schemas change shape, so ledgers
#: written by an incompatible pipeline layout are fenced out on resume
#: (v2: fingerprint committed by the assemble stage; members stage removed)
PIPELINE_VERSION = 2


@dataclass(frozen=True)
class PipelineConfig:
    k: int = 3                    # shingle width (tokens)
    n_perms: int = 128            # MinHash lanes
    n_bands: int = 32             # LSH bands (rows = n_perms // n_bands)
    threshold: float = 0.8        # verified Jaccard threshold
    seed: int = 42
    enable_simhash: bool = True
    max_hamming: int = 3
    enable_substring: bool = True
    substring_k: int = 16
    substring_w: int = 48
    substring_min_span: int = 100  # tokens of verbatim overlap
    enable_prefix: bool = False    # prefix-subsumption channel: a doc that
    # is a proper byte prefix of another (transcript retry/continuation)
    # joins its extension's cluster — invisible to both exact dedup and
    # shingle similarity (operators/prefixdedup.py).  Batch pipeline only;
    # the incremental path documents the restriction.
    enable_containment: bool = False  # set-containment channel (quote-in-
    # transcript: containment ~1, Jaccard ~|A|/|B| — outside every band
    # config's reach).  Prefix-filtered AllPairs join over the committed
    # shingle sets (operators/containment.py); supported by both the
    # batch pipeline and run_incremental (new_col mode: only pairs
    # touching the day's batch are expanded).
    containment_threshold: float = 0.9
    verify_edit: bool = False      # second verification channel: pairs that
    edit_threshold: float = 0.85   # fail Jaccard but have edit-sim >= this pass
    edit_margin: float = 0.45      # edit candidates keep a wider MinHash-estimate
    # band than the Jaccard channel's 0.15: token-reorder near-dups (the
    # channel's whole purpose) have depressed shingle Jaccard, so the
    # reachable band is [threshold - edit_margin, threshold); pairs below
    # threshold - edit_margin are unreachable by design (documented bound,
    # not a bug: a candidate must still collide in >= min_band_collisions
    # LSH bands to be seen at all)
    max_bucket: int | None = 256   # larger buckets emit star edges;
    # None expands every bucket (uncapped — small data and tests)
    min_band_collisions: int = 2   # ≥2 of 32 bands: kills quadratic
    # single-band noise at corpus scale; recall at threshold ~0.999998
    sync_ranges: int = 8           # sub-stage commit granularity for the
    # sign stage (the reference's --sync-distance analog): a crash mid-sign
    # loses at most 1/sync_ranges of the stage's Python work
    sync_min_rows_per_range: int = 20_000  # like the reference's 2 GB
    # syncDistance default, granularity is data-proportional: small inputs
    # collapse to one range (per-range job overhead would exceed the
    # recompute it insures against), large inputs get the full fan-out

    def fence(self) -> str:
        payload = {"v": PIPELINE_VERSION, **asdict(self)}
        return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


def build_candidates(
    signed: DataFrame, cfg: PipelineConfig, new_col: str | None = None
) -> DataFrame:
    """The pipeline's candidate stage as a reusable plan builder: MinHash
    LSH ∪ SimHash pigeonhole ∪ substring anchors over ``signed``, unioned
    into ONE (conv_a, conv_b, via) aggregate (per-channel distincts are
    skipped — cross-band duplicates collapse in the final groupBy).

    ``new_col``: incremental mode — ``signed`` carries a boolean batch
    flag, every channel passes it through its banding
    (band_buckets/simhash_chunks passthrough) and only pairs touching a
    flagged id are generated (lsh.candidate_pairs_multi new_col).  This
    is what keeps a daily increment O(new × bucket): old ids are
    re-BANDED (one narrow JVM scan of the committed sign table — no
    Python, no re-signing) but never re-PAIRED among themselves.

    Shape (r6): the three channels' banded streams are unioned under a
    tinyint channel tag and expanded by ONE ``candidate_pairs_multi``
    pass — one window exchange + one self-join for all channels instead
    of one of each per channel (guide §2.4; per-channel gating, floors
    and star economy pinned against a plain-Python reference in
    tests/test_build_candidates_equiv.py).  The raw collision/star rows
    then fold into ONE groupBy(conv_a, conv_b) carrying per-channel hit
    counts and star flags — the per-(channel, pair) floor aggregate and
    the final per-pair tag-set aggregate used to be two exchanges; the
    CASE floors and the via array are evaluated on the single
    aggregate's output instead.  The simhash Hamming verify is a linear
    join+filter over that per-pair stream (rows of other channels pass
    the filter untouched) rather than a branch — a branched plan would
    let the channel-tag filters push back down the union and undo the
    merge."""
    from wdedup_spark.operators.lsh import band_buckets, candidate_pairs_multi

    CH_MINHASH, CH_SIMHASH, CH_SUBSTRING = 0, 1, 2
    ch_names = ["minhash", "simhash", "substring"]
    passthrough = [new_col] if new_col else None
    cols = ["band", "bucket", "id", *(passthrough or [])]

    def tag(df: DataFrame, ch: int) -> DataFrame:
        return df.select(F.lit(ch).cast("tinyint").alias("ch"), *cols)

    streams = [
        tag(
            band_buckets(
                signed, "sig", "conv_id", cfg.n_bands, cfg.n_perms,
                passthrough=passthrough,
            ),
            CH_MINHASH,
        )
    ]
    if cfg.enable_simhash:
        streams.append(
            tag(
                simhash_chunks(
                    signed, "simhash", "conv_id", cfg.max_hamming,
                    passthrough=passthrough,
                ),
                CH_SIMHASH,
            )
        )
    if cfg.enable_substring:
        anchored = signed.select(
            F.col("conv_id").alias("id"),
            *( [new_col] if new_col else [] ),
            F.explode("anchors").alias("bucket"),
        ).withColumn("band", F.lit(0))
        streams.append(tag(anchored, CH_SUBSTRING))
    banded = streams[0]
    for s in streams[1:]:
        banded = banded.unionByName(s)

    raw = candidate_pairs_multi(banded, cfg.max_bucket, new_col=new_col)

    def _ch(c: int):
        return F.col("ch") == F.lit(c)

    agg = raw.groupBy("conv_a", "conv_b").agg(
        *[
            x
            for c, nm in enumerate(ch_names)
            for x in (
                F.count(F.when(_ch(c) & ~F.col("is_star"), F.lit(1))).alias(f"_h{c}"),
                F.max(F.when(_ch(c), F.col("is_star"))).alias(f"_s{c}"),
            )
        ]
    )
    # per-channel pass condition: collision floor (minhash: >= 2 of 32
    # bands; others: >= 1) OR a star edge, which bypasses the floor —
    # the same rule candidate_pairs folds for a single channel
    passes = [
        (F.col("_h0") >= cfg.min_band_collisions) | F.coalesce("_s0", F.lit(False)),
        (F.col("_h1") >= 1) | F.coalesce("_s1", F.lit(False)),
        (F.col("_h2") >= 1) | F.coalesce("_s2", F.lit(False)),
    ]
    # drop pairs failing every pre-Hamming condition BEFORE the sigs
    # joins (review): the Hamming check only narrows the simhash
    # channel, so such pairs — e.g. single-band LSH noise under the
    # minhash floor, which the old per-channel shape discarded before
    # any join — are doomed regardless and must not ride through two
    # join shuffles to die at the final size(via) filter
    agg = agg.filter(passes[0] | passes[1] | passes[2])
    if cfg.enable_simhash:
        # Hamming verify applies to EVERY simhash pair, star edges
        # included (exactly as the old per-channel shape, where the sigs
        # join ran after the star union)
        sigs = signed.select(F.col("conv_id").alias("id"), "simhash")
        agg = agg.join(
            sigs.select(F.col("id").alias("conv_a"), F.col("simhash").alias("sh_a")), "conv_a"
        ).join(
            sigs.select(F.col("id").alias("conv_b"), F.col("simhash").alias("sh_b")), "conv_b"
        )
        passes[CH_SIMHASH] = passes[CH_SIMHASH] & (
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= cfg.max_hamming
        )
    # ch_names is lexically ordered, so this conditional array IS the
    # sorted tag set the old sort_array(collect_set(via)) produced
    via = F.filter(
        F.array(*[F.when(p, F.lit(nm)) for nm, p in zip(ch_names, passes)]),
        lambda x: x.isNotNull(),
    )
    return (
        agg.select("conv_a", "conv_b", via.alias("via"))
        .filter(F.size("via") > 0)
    )


def _sig_agreement_udf(n_perms: int):
    """MinHash lane-agreement rate of two fixed-width array<long>
    signature columns, one numpy pass per Arrow batch (r6) — replaces an
    interpreted ``aggregate(zip_with(...))`` that cost a JVM closure
    call per LANE per candidate pair.  Value is the identical
    exact-integer count divided by n_perms."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _est(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        A = np.stack([np.asarray(x, dtype=np.int64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.int64) for x in b])
        return pd.Series((A == B).sum(axis=1) / float(n_perms))

    return _est


def build_verify(
    cands: DataFrame, signed: DataFrame, reps: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """The pipeline's verify stage as a reusable plan builder: JVM
    MinHash-estimate pre-filter → exact Jaccard UDF; optional edit-channel
    rescue; substring candidates get the exact common-run check.  ``reps``
    supplies (conv_id, doc) for the doc-level channels."""
    both = signed.select(F.col("conv_id").alias("id"), "sig", "shingles")
    margin = 0.15
    estimated = (
        cands.join(
            both.select(
                F.col("id").alias("conv_a"),
                F.col("sig").alias("sig_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "conv_a",
        )
        .join(
            both.select(
                F.col("id").alias("conv_b"),
                F.col("sig").alias("sig_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "conv_b",
        )
        .withColumn("est", _sig_agreement_udf(cfg.n_perms)(F.col("sig_a"), F.col("sig_b")))
        .select("conv_a", "conv_b", "via", "est", "sh_a", "sh_b")
    )
    from wdedup_spark.operators.verify import jaccard_udf

    jac = (
        estimated.filter(
            (F.col("est") >= cfg.threshold - margin)
            | F.array_contains("via", "substring")
        )
        .withColumn("jaccard", jaccard_udf(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= cfg.threshold)
        .select("conv_a", "conv_b", "jaccard")
        .withColumn("via", F.lit("jaccard"))
    )
    out = jac
    if cfg.verify_edit:
        # pairs that failed Jaccard get the edit-distance check
        # (north_rule "Jaccard/edit-distance checks"): catches
        # token-reorder-heavy near-dups whose shingle sets diverge.
        # Candidates come from the WIDER edit_margin band — reordered
        # docs have depressed shingle Jaccard, so the jac channel's
        # 0.15 margin would filter out exactly the pairs this channel
        # exists to rescue.
        from wdedup_spark.operators.verify import edit_similarity_udf

        failed = estimated.filter(
            (F.col("est") >= cfg.threshold - cfg.edit_margin)
            | F.array_contains("via", "substring")  # substring-anchored
            # candidates keep their edit shot regardless of estimate
            # (long docs with moderate overlap can sit below the band)
        ).select("conv_a", "conv_b").exceptAll(
            jac.select("conv_a", "conv_b")
        )
        docs = reps.select(F.col("conv_id").alias("id"), "doc")
        edit_ok = (
            failed.join(docs.select(F.col("id").alias("conv_a"), F.col("doc").alias("doc_a")), "conv_a")
            .join(docs.select(F.col("id").alias("conv_b"), F.col("doc").alias("doc_b")), "conv_b")
            .withColumn("edit_sim", edit_similarity_udf(F.col("doc_a"), F.col("doc_b")))
            .filter(F.col("edit_sim") >= cfg.edit_threshold)
            .select("conv_a", "conv_b", F.lit(None).cast("double").alias("jaccard"))
            .withColumn("via", F.lit("edit"))
        )
        out = out.unionByName(edit_ok)
    if cfg.enable_substring:
        sub = cands.filter(F.array_contains("via", "substring")).select("conv_a", "conv_b")
        docs = reps.select(F.col("conv_id").alias("id"), "doc")
        sub_ok = (
            sub.join(docs.select(F.col("id").alias("conv_a"), F.col("doc").alias("doc_a")), "conv_a")
            .join(docs.select(F.col("id").alias("conv_b"), F.col("doc").alias("doc_b")), "conv_b")
            .withColumn("common_run", common_run_udf(F.col("doc_a"), F.col("doc_b")))
            .filter(F.col("common_run") >= cfg.substring_min_span)
            .select("conv_a", "conv_b", F.lit(None).cast("double").alias("jaccard"))
            .withColumn("via", F.lit("substring"))
        )
        out = out.unionByName(sub_ok)
    return out.groupBy("conv_a", "conv_b").agg(
        F.max("jaccard").alias("jaccard"), F.sort_array(F.collect_set("via")).alias("via")
    )


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    workdir: str,
    cfg: PipelineConfig = PipelineConfig(),
    stop_after: str | None = None,
    gc: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full dedup pipeline; returns the named stage
    outputs, all backed by committed parquet.

    ``stop_after`` commits stages up to the named one then returns (the
    reference's --wprof-only/--wmerge-only debug staging,
    /root/reference/src/wcli.cpp:115-125).  ``gc`` reclaims intermediate
    outputs (sign, candidates) once the final stage commits (O14,
    src/wmerge.cpp:141-144); resumed runs then skip straight to the
    surviving outputs."""
    if stop_after == "prefix" and not cfg.enable_prefix:
        # without the guard this debug invocation would silently run the
        # ENTIRE pipeline (no done() check ever matches)
        raise ValueError("stop_after='prefix' requires enable_prefix=True")
    if stop_after == "containment" and not cfg.enable_containment:
        raise ValueError("stop_after='containment' requires enable_containment=True")
    ledger = StageLedger(workdir, config_fence=cfg.fence(), spark=spark)
    out: dict = {"ledger": ledger}

    def done(stage: str) -> bool:
        return stop_after == stage

    # -- stage 1: assemble (one shuffle on conv_id) ---------------------------
    # the content fingerprint is computed HERE, in the same pass, and
    # committed with the conversations: both the exact stage and the
    # cluster stage's exact edges read it back for free instead of each
    # re-hashing the whole corpus (the round-2 "members" stage existed
    # only to cache that second sha2 pass — now unnecessary)
    conv = ledger.run(
        spark, "assemble", lambda: add_fingerprint(assemble_conversations(turns), "doc")
    )
    out["conv"] = conv
    if done("assemble"):
        return out

    # effective sign-stage commit granularity: data-proportional, from the
    # committed assemble row count (free — it's in the ledger entry)
    n_convs = ledger.metrics().get("assemble", {}).get("rows", 0)
    eff_ranges = max(1, min(cfg.sync_ranges, n_convs // cfg.sync_min_rows_per_range))

    # -- stage 2: exact dedup (shuffle on 32-byte digest) ---------------------
    # No collect_list of members: a boilerplate flood (10^8 identical docs)
    # must not materialize one giant array in a single aggregation buffer.
    # Member→rep star edges are derived by re-joining on the digest — a
    # plain shuffle join whose skew AQE splits.
    def _exact() -> DataFrame:
        return conv.groupBy("fp").agg(
            F.min("conv_id").alias("rep_id"),
            F.min("doc").alias("doc"),  # all docs in an fp-group are identical
            F.count(F.lit(1)).alias("n_members"),
        )

    # written range-partitioned on rep_id (when granular commits are in
    # play) so the sign stage's ranged commits partition-prune straight
    # off this output — no staging copy.  At eff_ranges == 1 the range
    # layout buys nothing; skip it and its partitionBy write.
    if eff_ranges > 1:
        exact = ledger.run(
            spark, "exact", _exact, range_key="rep_id", n_ranges=eff_ranges
        )
    else:
        exact = ledger.run(spark, "exact", _exact)
    out["exact"] = exact
    if done("exact"):
        return out
    # exact edges are a pure id/fp join of two COMMITTED outputs (fp rides
    # along from the assemble stage — nothing re-fingerprints the corpus)
    exact_edges = (
        conv.select("fp", F.col("conv_id").alias("conv_b"))
        .join(exact.filter(F.col("n_members") > 1).select("fp", F.col("rep_id").alias("conv_a")), "fp")
        .filter(F.col("conv_a") != F.col("conv_b"))
        .select("conv_a", "conv_b")
    )
    # near-dup stages see one representative per distinct document
    reps = exact.select(F.col("rep_id").alias("conv_id"), "doc")

    # -- stage 2b (optional): prefix-subsumption edges over the reps ----------
    # runs on DISTINCT documents (exact-first means no equal-text runs),
    # one range exchange + O(partitions) driver stitch; commits
    # (conv_a=witness, conv_b=prefix) edges for the cluster union
    prefix_edge_df = None
    if cfg.enable_prefix:
        from wdedup_spark.operators.prefixdedup import (
            corpus_bounds,
            edges_from_sorted,
            sorted_corpus,
        )

        # three commits, not one: the SORTED corpus (one range exchange)
        # and its per-slice bounds are durable artifacts — parquet is the
        # pin the in-memory operator gets from localCheckpoint — so later
        # run_incremental days probe the pinned slices instead of
        # re-sorting the corpus (see prefixdedup.py committed-artifact
        # notes).  Cost: one extra text copy on storage, the same
        # materialize-once economy the operator already paid transiently;
        # gc=True reclaims it when no increment chain will follow.
        prefix_corpus = ledger.run(
            spark, "prefix_corpus", lambda: sorted_corpus(reps, "doc", "conv_id")
        )
        prefix_bounds = ledger.run(
            spark, "prefix_bounds", lambda: corpus_bounds(prefix_corpus)
        )
        prefix_edge_df = ledger.run(
            spark, "prefix", lambda: edges_from_sorted(prefix_corpus, prefix_bounds)
        )
        out["prefix_edges"] = prefix_edge_df
        if done("prefix"):
            return out

    # -- stage 3: sign (narrow, ONE fused vectorized pandas UDF) --------------
    # The single most expensive Python stage, so it commits per key-range
    # (run_ranged = the reference's --sync-distance analog): a crash mid-
    # sign resumes from the first uncommitted range instead of re-signing
    # the whole corpus.
    def _sign_range(part: DataFrame, _r: int) -> DataFrame:
        # CPU-bound Python stage: fan out to ~2 partitions per core
        # regardless of input file byte-splits (ranges run up to 4 jobs
        # concurrently, so size each range for its share of the cores)
        par = max(1, spark.sparkContext.defaultParallelism * 2 // min(eff_ranges, 4))
        df = add_signatures(
            part.repartition(par), "doc",
            k=cfg.k, n_perms=cfg.n_perms, seed=cfg.seed,
            enable_simhash=cfg.enable_simhash,
            enable_substring=cfg.enable_substring,
            substring_k=cfg.substring_k, substring_w=cfg.substring_w,
        )
        return df.drop("doc")

    if eff_ranges > 1:
        signed = ledger.run_ranged(
            spark, "sign", lambda: reps, _sign_range, key_col="conv_id",
            n_ranges=eff_ranges, input_stage="exact",
            input_select=lambda df: df.select(
                F.col("rep_id").alias("conv_id"), "doc"
            ),
        )
    else:
        # one range == one whole-stage commit: plain run, none of the
        # fence/staging/per-bucket machinery (toy-scale fast path; the
        # recompute it would insure against is smaller than its overhead)
        signed = ledger.run(spark, "sign", lambda: _sign_range(reps, 0))
    out["signed"] = signed
    if done("sign"):
        return out

    # -- stage 4: candidates (the shuffle stages) ------------------------------
    cands = ledger.run(spark, "candidates", lambda: build_candidates(signed, cfg))
    out["candidates"] = cands
    if done("candidates"):
        return out

    # -- stage 5: verify (exact Jaccard; substring pairs get exact LCS) -------
    # JVM-side MinHash-estimate pre-filter: lane-agreement rate is an
    # unbiased Jaccard estimate; pairs far below threshold die inside
    # whole-stage codegen before any Python verification.  ONE join per
    # pair side carries BOTH the signature (estimate) and the shingle set
    # (exact Jaccard) — see build_verify.
    verified = ledger.run(spark, "verify", lambda: build_verify(cands, signed, reps, cfg))
    out["verified"] = verified
    if done("verify"):
        return out

    # -- stage 5b (optional): containment channel -----------------------------
    # prefix-filtered set-containment join over the committed shingle
    # sets (operators/containment.py): quote-in-transcript pairs whose
    # Jaccard is ~|A|/|B| and therefore invisible to every band config.
    # Consumes the sign stage's shingles — no re-tokenization.
    containment_edge_df = None
    if cfg.enable_containment:
        from wdedup_spark.operators.containment import containment_join

        containment_edge_df = ledger.run(
            spark,
            "containment",
            lambda: containment_join(
                signed, threshold=cfg.containment_threshold, shingle_col="shingles"
            ),
            # recorded so chain validation in run_incremental can check the
            # threshold this day ACTUALLY committed at (ADVICE r4: base
            # ledgers open with config_fence="", so the fence never sees it)
            extra={"containment_threshold": cfg.containment_threshold},
        )
        out["containment_pairs"] = containment_edge_df
        if done("containment"):
            return out

    # -- stage 6: cluster (iterative hash-to-min CC) ---------------------------
    def _cluster() -> DataFrame:
        edges = verified.select("conv_a", "conv_b").unionByName(
            exact_edges.select("conv_a", "conv_b")
        )
        if prefix_edge_df is not None:
            edges = edges.unionByName(prefix_edge_df.select("conv_a", "conv_b"))
        if containment_edge_df is not None:
            edges = edges.unionByName(
                containment_edge_df.select("conv_a", "conv_b")
            )
        return cluster_assignments(conv.select("conv_id"), edges)

    clusters = ledger.run(spark, "cluster", _cluster)
    out["clusters"] = clusters

    if gc:
        # reclaim intermediates whose consumers are all committed (O14):
        # sign feeds candidates+verify; candidates feeds verify
        ledger.gc("sign")
        ledger.gc("candidates")
        if cfg.enable_prefix:
            # the sorted-corpus text copy feeds only the prefix scan in
            # THIS run — but an increment chain probes it, so (like sign)
            # chains require gc=False; bounds are O(slices), kept
            ledger.gc("prefix_corpus")

    return out


# ---------------------------------------------------------------------------
# Incremental (daily-increment) pipeline
# ---------------------------------------------------------------------------

#: base-pointer file written in an incremental workdir — makes increments
#: CHAINABLE (day N+1 can use day N's workdir as its base)
BASE_POINTER = "_base.json"


def _chain_workdirs(spark: SparkSession, base_workdir: str) -> list[str]:
    """``base_workdir`` plus its ancestors (newest first), following
    ``_base.json`` pointers — a run_pipeline workdir terminates the
    chain.  Cycles/depth are bounded defensively."""
    from wdedup_spark.sources.ledger import _HadoopFS

    chain: list[str] = []
    cur: str | None = base_workdir.rstrip("/")
    seen: set[str] = set()
    while cur and cur not in seen and len(chain) < 10_000:
        seen.add(cur)
        chain.append(cur)
        fs = _HadoopFS(spark, cur)
        ptr = posixpath.join(cur, BASE_POINTER)
        cur = json.loads(fs.read_text(ptr))["base"] if fs.exists(ptr) else None
    return chain


def run_incremental(
    spark: SparkSession,
    new_turns: DataFrame,
    base_workdir: str,
    workdir: str,
    cfg: PipelineConfig = PipelineConfig(),
    stop_after: str | None = None,
    gc: bool = False,
) -> dict[str, DataFrame]:
    """Dedup a NEW batch of turns against the committed corpus in
    ``base_workdir`` — the operation a daily 10^12-turn ingest actually
    runs — committing this increment's stages to ``workdir`` (resumable,
    same ledger semantics as ``run_pipeline``).

    ``base_workdir`` is a completed ``run_pipeline`` workdir or a previous
    ``run_incremental`` workdir: increments CHAIN (each records its base
    in ``_base.json``), and day N reads the union of sign/exact deltas
    along the chain — no corpus-sized rewrite per day (compact by running
    a fresh full pipeline when the chain gets long).

    Scale contract — per-day cost is O(new batch + corpus-banding), never
    O(corpus²) and never corpus-wide Python:

    * assemble / fingerprint / sign run on the NEW batch only;
    * exact dedup routes re-seen fingerprints to their committed reps via
      one fp-join against the chain's exact tables;
    * candidate generation re-bands the committed sign tables JVM-side
      (narrow scan, no Python, no re-signing) and expands only pairs
      touching the new batch (``candidate_pairs_multi(new_col=...)``);
      oversize buckets emit star edges for new members anchored at the old-member
      min — old×old pairs are never regenerated;
    * verify's Python (Jaccard/edit/common-run) sees only those pairs;
    * clustering is ``incremental_update``: CC on the rep-contracted
      increment graph (O(new edges + touched clusters)), provably
      equivalent to a full recompute.

    Equivalence caveat (tested): clusters match a full recompute on the
    union EXCEPT where a bucket crosses ``max_bucket`` only after the
    increment — new members then star-connect instead of all-pairing, the
    same boundedness-for-recall trade the batch star edges make.
    Containment-threshold caveat: chain days committed at a HIGHER
    containment threshold are REFUSED (silent old×old holes — no parity
    possible); days committed at a LOWER threshold are accepted but make
    the increment's clusters a documented COARSENING of a full recompute
    at today's threshold (the base already merged pairs in
    ``[committed_t, cfg_t)`` that a fresh run would not) — same direction
    as the prefix channel's coarser-clusters caveat.  Run the chain at
    one threshold to claim exact parity.

    Requires the chain's ``sign`` stages retained (run the base with
    ``gc=False`` / CLI ``--no-gc``); with ``enable_prefix`` also every
    chain day's ``prefix_corpus``/``prefix_bounds`` (the pinned sorted
    runs today's probes read).  ``gc=True`` here reclaims only this
    increment's ``candidates`` (its sign, exact and prefix-run deltas
    must survive for the next increment in the chain).

    Prefix-channel equivalence caveat (tested): the SUBSUMED set and the
    canonical smallest-extension witness edges match a full recompute
    exactly; early-witness edges (a doc that was the smallest extension
    of a prefix on ITS day, displaced by a later smaller extension) may
    additionally merge clusters a full recompute keeps separate —
    increments cannot retract an edge that was true when emitted.
    """
    if stop_after == "prefix" and not cfg.enable_prefix:
        raise ValueError("stop_after='prefix' requires enable_prefix=True")
    if stop_after == "containment" and not cfg.enable_containment:
        raise ValueError("stop_after='containment' requires enable_containment=True")
    ledger = StageLedger(workdir, config_fence=cfg.fence(), spark=spark)
    out: dict = {"ledger": ledger}

    # record / validate the chain pointer (idempotent across resumes)
    ptr = posixpath.join(ledger.workdir, BASE_POINTER)
    base_norm = base_workdir.rstrip("/")
    if ledger.fs.exists(ptr):
        recorded = json.loads(ledger.fs.read_text(ptr))["base"]
        if recorded != base_norm:
            raise ValueError(
                f"workdir {workdir} already chained to {recorded}, not {base_norm}"
            )
    else:
        ledger.fs.write_text(ptr, json.dumps({"base": base_norm}))

    chain = _chain_workdirs(spark, base_norm)
    base_ledgers = [StageLedger(d, config_fence="", spark=spark) for d in chain]
    for bl in base_ledgers:
        for stage in ("sign", "exact"):
            if not bl.is_committed(stage) or bl.is_gcd(stage):
                raise ValueError(
                    f"incremental run needs the retained '{stage}' stage in "
                    f"{bl.workdir} — run the base with gc=False / --no-gc"
                )
        if cfg.enable_prefix:
            # the chain invariant (two probes per new doc suffice — see
            # prefixdedup.py) holds only if the channel flagged every
            # within-day and cross-day pair on EVERY prior day, and
            # today's probes need every day's pinned sorted run
            if not bl.is_committed("prefix"):
                raise ValueError(
                    f"enable_prefix requires the channel on EVERY chain day, "
                    f"but {bl.workdir} has no committed prefix stage — old "
                    "prefix pairs from that day were never flagged"
                )
            for stage in ("prefix_corpus", "prefix_bounds"):
                if not bl.is_committed(stage) or bl.is_gcd(stage):
                    raise ValueError(
                        f"incremental prefix channel needs the retained "
                        f"'{stage}' stage in {bl.workdir} — run the base "
                        "with gc=False / --no-gc"
                    )
        if cfg.enable_containment:
            if not bl.is_committed("containment"):
                # the new_col mode only expands pairs touching today's batch,
                # so old×old quote pairs must have been emitted when their
                # members were new — a chain day that skipped the channel
                # leaves permanent silent holes; refuse like sign/exact do
                raise ValueError(
                    f"enable_containment requires the channel on EVERY chain "
                    f"day, but {bl.workdir} has no committed containment stage"
                )
            # ADVICE r4 (medium): committed-at-a-HIGHER-threshold chain days
            # leave permanent holes in old×old pairs below their threshold
            # while this increment still claims parity at cfg's — the exact
            # silent-hole class the is_committed check refuses.  The fence
            # can't catch it (base ledgers open fenceless), so validate the
            # threshold recorded in the commit entry itself, mirroring the
            # probe-vs-index coupling in stream_containment_flags.
            ce = bl.entry("containment")
            committed_t = (ce or {}).get("containment_threshold")
            if committed_t is None:
                raise ValueError(
                    f"containment stage in {bl.workdir} has no recorded "
                    "containment_threshold (pre-threshold-ledger commit) — "
                    "cannot prove chain compatibility; re-run that day"
                )
            if committed_t > cfg.containment_threshold:
                raise ValueError(
                    f"chain day {bl.workdir} committed containment at "
                    f"threshold {committed_t} > today's "
                    f"{cfg.containment_threshold}: its old×old pairs in "
                    f"[{cfg.containment_threshold}, {committed_t}) were never "
                    "emitted — the increment cannot claim full-recompute "
                    "parity; re-run the chain at the lower threshold"
                )
            # committed_t < cfg is accepted but NOT parity: the base's
            # extra low-threshold merges coarsen today's clusters vs a
            # full recompute at cfg (see run_incremental docstring) —
            # holes are refused above, coarsening is documented.
    if not base_ledgers[0].is_committed("cluster"):
        raise ValueError(f"base {chain[0]} has no committed cluster stage")

    def _union(stage: str) -> DataFrame:
        dfs = [bl.output(spark, stage) for bl in base_ledgers]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return u

    old_sign = _union("sign")
    old_exact = _union("exact")  # (fp, rep_id, doc, n_members); fps disjoint along the chain
    base_clusters = base_ledgers[0].output(spark, "cluster")

    def done(stage: str) -> bool:
        return stop_after == stage

    # -- assemble + fingerprint the new batch only ---------------------------
    conv = ledger.run(
        spark, "assemble", lambda: add_fingerprint(assemble_conversations(new_turns), "doc")
    )
    out["conv"] = conv
    if done("assemble"):
        return out

    # -- exact: batch-internal dedup + routing to committed reps -------------
    # committed rows = fps the corpus has NEVER seen (chain fps stay
    # disjoint → day-N unions need no precedence logic)
    def _exact() -> DataFrame:
        batch = conv.groupBy("fp").agg(
            F.min("conv_id").alias("rep_id"),
            F.min("doc").alias("doc"),
            F.count(F.lit(1)).alias("n_members"),
        )
        return batch.join(old_exact.select("fp"), "fp", "left_anti")

    exact = ledger.run(spark, "exact", _exact)
    out["exact"] = exact
    if done("exact"):
        return out
    # every new member → its rep (committed base rep for re-seen fps,
    # batch rep for new fps); derived from committed outputs, like
    # run_pipeline's exact_edges
    rep_map = old_exact.select("fp", F.col("rep_id").alias("rep")).unionByName(
        exact.select("fp", F.col("rep_id").alias("rep"))
    )
    exact_edges = (
        conv.select("fp", F.col("conv_id").alias("conv_b"))
        .join(rep_map, "fp")
        .filter(F.col("rep") != F.col("conv_b"))
        .select(F.col("rep").alias("conv_a"), "conv_b")
    )
    reps_new = exact.select(F.col("rep_id").alias("conv_id"), "doc")

    # -- prefix channel (optional): probe the chain's pinned sorted runs ------
    # No corpus re-sort: today's batch is range-sorted ALONE (its own
    # committed run, a chain day for tomorrow), within-batch edges come
    # from scanning that run, and cross-day edges come from predecessor/
    # successor probes into every chain day's committed slices — touched
    # slices only.  Soundness/completeness of two probes per new doc, and
    # the coarser-clusters caveat (early-witness edges a full recompute
    # re-points; subsumed SET and canonical edges identical), are argued
    # in prefixdedup.py's committed-artifact notes and pinned by
    # tests/test_pipeline_prefix.py.
    prefix_edge_df = None
    if cfg.enable_prefix:
        from wdedup_spark.operators.prefixdedup import (
            corpus_bounds,
            cross_prefix_edges,
            edges_from_sorted,
            sorted_corpus,
        )

        p_corpus = ledger.run(
            spark, "prefix_corpus", lambda: sorted_corpus(reps_new, "doc", "conv_id")
        )
        p_bounds = ledger.run(
            spark, "prefix_bounds", lambda: corpus_bounds(p_corpus)
        )

        def _prefix_edges() -> DataFrame:
            within = edges_from_sorted(p_corpus, p_bounds)
            chain_runs = [
                (bl.output(spark, "prefix_corpus"), bl.output(spark, "prefix_bounds"))
                for bl in base_ledgers
            ]
            cross = cross_prefix_edges(reps_new, chain_runs, "doc", "conv_id")
            return within.unionByName(cross)

        prefix_edge_df = ledger.run(spark, "prefix", _prefix_edges)
        out["prefix_edges"] = prefix_edge_df
        if done("prefix"):
            return out

    # -- sign the new reps only ----------------------------------------------
    def _sign() -> DataFrame:
        par = max(1, spark.sparkContext.defaultParallelism * 2)
        return add_signatures(
            reps_new.repartition(par), "doc",
            k=cfg.k, n_perms=cfg.n_perms, seed=cfg.seed,
            enable_simhash=cfg.enable_simhash,
            enable_substring=cfg.enable_substring,
            substring_k=cfg.substring_k, substring_w=cfg.substring_w,
        ).drop("doc")

    signed_new = ledger.run(spark, "sign", _sign)
    out["signed"] = signed_new
    if done("sign"):
        return out

    signed_all = old_sign.withColumn("is_new", F.lit(False)).unionByName(
        signed_new.withColumn("is_new", F.lit(True))
    )

    # -- candidates touching the new batch ------------------------------------
    cands = ledger.run(
        spark, "candidates", lambda: build_candidates(signed_all, cfg, new_col="is_new")
    )
    out["candidates"] = cands
    if done("candidates"):
        return out

    # -- verify (docs for the doc-level channels come from the chain) ---------
    reps_docs = old_exact.select(
        F.col("rep_id").alias("conv_id"), "doc"
    ).unionByName(reps_new)
    verified = ledger.run(
        spark, "verify",
        lambda: build_verify(cands, signed_all.drop("is_new"), reps_docs, cfg),
    )
    out["verified"] = verified
    if done("verify"):
        return out

    # -- containment channel (optional): pairs touching the new batch --------
    # same-day token order over old ∪ new (lossless for any single
    # consistent order — no frozen-frequency state), old side re-exploded
    # JVM-side from the committed shingle arrays, only new-touching
    # candidates expanded (containment_join new_col mode).  Old×old pairs
    # were emitted by previous increments; like the LSH channel, this
    # assumes the channel ran (same threshold) on every prior day.
    containment_edge_df = None
    if cfg.enable_containment:
        from wdedup_spark.operators.containment import containment_join

        containment_edge_df = ledger.run(
            spark,
            "containment",
            lambda: containment_join(
                signed_all, threshold=cfg.containment_threshold,
                shingle_col="shingles", new_col="is_new",
            ),
            # this increment becomes a chain day for tomorrow: record the
            # threshold so the validation above covers it too
            extra={"containment_threshold": cfg.containment_threshold},
        )
        out["containment_pairs"] = containment_edge_df
        if done("containment"):
            return out

    # -- cluster: merge into the committed assignment --------------------------
    def _cluster() -> DataFrame:
        edges = verified.select("conv_a", "conv_b").unionByName(
            exact_edges.select("conv_a", "conv_b")
        )
        if prefix_edge_df is not None:
            edges = edges.unionByName(prefix_edge_df.select("conv_a", "conv_b"))
        if containment_edge_df is not None:
            edges = edges.unionByName(
                containment_edge_df.select("conv_a", "conv_b")
            )
        return incremental_update(base_clusters, edges, conv.select("conv_id"))

    clusters = ledger.run(spark, "cluster", _cluster)
    out["clusters"] = clusters

    if gc:
        # candidates feeds only verify; sign/exact deltas MUST survive for
        # the next increment in the chain
        ledger.gc("candidates")

    return out

"""The end-to-end near-duplicate pipeline — the graft's ``main``.

Orchestrates the checkpointed stage DAG (SURVEY.md §3):

  assemble → exact → sign(shingle+MinHash+SimHash) → candidates
  (LSH ∪ SimHash ∪ substring) → verify(Jaccard, common run, edit) → cluster

mirroring the reference's driver (/root/reference/src/main.cpp:208-222:
wprof → wmerge → wfindfirst) with the stage ledger standing in for the
WAL.  Every stage is resumable: rerunning after a crash skips committed
stages (tests/test_pipeline.py::test_resume_skips_completed_stages).
``run_pipeline`` and ``run_incremental`` drive the same stages through
``_run_stages``; an increment passes it the committed base it dedups against.

Scale architecture (the 100 TB story):
* exact dedup FIRST — near-dup stages run on distinct documents only, so
  boilerplate floods and giant exact-dup cliques never reach the LSH
  shuffle (SURVEY.md §7 "hard parts": cliques collapse to single nodes);
* sign-before-shuffle — candidate generation exchanges signatures and
  ids, never documents; worst-case wide-stage row is ~1 KB regardless of
  conversation length.  Verify is the one stage that joins documents,
  once per pair side, and only for candidate pairs: one Arrow kernel per
  batch then tokenizes them once and decides every channel
  (verify.verify_pairs, the queries' verifier too);
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
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wdedup_spark.operators.assemble import assemble_conversations
from wdedup_spark.operators.cluster import cluster_assignments, incremental_update
from wdedup_spark.operators.exact import add_fingerprint
from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.operators.simhash import simhash_chunks
from wdedup_spark.operators.verify import verify_pairs
from wdedup_spark.sources.ledger import StageLedger


#: bumped when the stage DAG / committed schemas change shape, so ledgers
#: written by an incompatible pipeline layout are fenced out on resume
#: (v2: fingerprint committed by the assemble stage; members stage removed;
#: v3: verify commits the common run)
PIPELINE_VERSION = 3

# Fixed tuning constants.  They are not PipelineConfig fields; cfg.fence()
# hashes them with the fields, so changing one fences out old outputs.

#: SimHash channel radius: pairs within this many differing bits of the
#: 64-bit SimHash are candidates (6-block pigeonhole tables, simhash.py)
MAX_HAMMING = 3
#: MinHash channel collision floor: >= 2 of 32 bands kills quadratic
#: single-band noise at corpus scale; recall at threshold ~0.999998
MIN_BAND_COLLISIONS = 2
#: the edit channel checks pairs whose exact shingle Jaccard fails the
#: threshold by at most this much (substring candidates always get the
#: check): token-reorder near-dups (the channel's whole purpose) have
#: depressed shingle Jaccard, so the reachable band is
#: [threshold - EDIT_MARGIN, threshold); pairs below it are unreachable by
#: design (documented bound, not a bug: a candidate must still collide in
#: >= MIN_BAND_COLLISIONS LSH bands to be seen at all)
EDIT_MARGIN = 0.45
#: like the reference's 2 GB syncDistance default, sign-commit granularity
#: is data-proportional: small inputs collapse to one range (per-range job
#: overhead would exceed the recompute it insures against), large inputs
#: get the full ``sync_ranges`` fan-out
SYNC_MIN_ROWS_PER_RANGE = 20_000


@dataclass(frozen=True)
class PipelineConfig:
    k: int = 3                    # shingle width (tokens)
    n_perms: int = 128            # MinHash lanes
    n_bands: int = 32             # LSH bands (rows = n_perms // n_bands)
    threshold: float = 0.8        # verified Jaccard threshold
    seed: int = 42
    enable_simhash: bool = True
    enable_substring: bool = True
    substring_k: int = 16
    substring_w: int = 48
    substring_min_span: int = 100  # tokens of verbatim overlap
    enable_prefix: bool = False    # prefix-subsumption channel: a doc that
    # is a proper byte prefix of another (transcript retry/continuation)
    # joins its extension's cluster — invisible to both exact dedup and
    # shingle similarity (operators/prefixdedup.py).  Supported by both
    # the batch pipeline and run_incremental (today's batch is probed
    # against every chain day's committed sorted run).
    enable_containment: bool = False  # set-containment channel (quote-in-
    # transcript: containment ~1, Jaccard ~|A|/|B| — outside every band
    # config's reach).  Prefix-filtered AllPairs join over the committed
    # shingle sets (operators/containment.py); supported by both the
    # batch pipeline and run_incremental (new_col mode: only pairs
    # touching the day's batch are expanded).
    containment_threshold: float = 0.9
    verify_edit: bool = False      # second verification channel: pairs that
    edit_threshold: float = 0.85   # fail Jaccard but have edit-sim >= this pass
    max_bucket: int | None = 256   # larger buckets emit star edges;
    # None expands every bucket (uncapped — small data and tests)
    sync_ranges: int = 8           # sub-stage commit granularity for the
    # sign stage (the reference's --sync-distance analog): a crash mid-sign
    # loses at most 1/sync_ranges of the stage's Python work

    def fence(self) -> str:
        payload = {
            "v": PIPELINE_VERSION,
            **asdict(self),
            "consts": [MAX_HAMMING, MIN_BAND_COLLISIONS, EDIT_MARGIN, SYNC_MIN_ROWS_PER_RANGE],
        }
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
    tests/test_build_candidates_equiv.py).  Every stream carries
    ``simhash`` as the engine's payload (null outside the SimHash
    channel), so the Hamming check is one filter on raw SimHash rows —
    no join back to the signatures.  Hamming distance is a property of
    the pair, so every SimHash row of a pair passes or none does.  The
    raw rows then fold into ONE groupBy(conv_a, conv_b) carrying
    per-channel hit counts and star flags; the CASE floors and the via
    array are evaluated on that aggregate's output."""
    from wdedup_spark.operators.lsh import band_buckets, candidate_pairs_multi

    CH_MINHASH, CH_SIMHASH, CH_SUBSTRING = 0, 1, 2
    ch_names = ["minhash", "simhash", "substring"]
    flag = [new_col] if new_col else []
    # the SimHash payload; the other channels carry a null in its place
    no_sig = [F.lit(None).cast("long").alias("simhash")] if cfg.enable_simhash else []

    def tag(df: DataFrame, ch: int, *sig) -> DataFrame:
        return df.select(
            F.lit(ch).cast("tinyint").alias("ch"), "band", "bucket", "id", *flag, *sig
        )

    streams = [
        tag(
            band_buckets(signed, cfg.n_perms, n_bands=cfg.n_bands, passthrough=flag),
            CH_MINHASH, *no_sig,
        )
    ]
    if cfg.enable_simhash:
        streams.append(
            tag(
                simhash_chunks(
                    signed, "simhash", "conv_id", MAX_HAMMING,
                    passthrough=[*flag, "simhash"],
                ),
                CH_SIMHASH, "simhash",
            )
        )
    if cfg.enable_substring:
        anchored = signed.select(
            F.col("conv_id").alias("id"), *flag, F.explode("anchors").alias("bucket"),
        ).withColumn("band", F.lit(0))
        streams.append(tag(anchored, CH_SUBSTRING, *no_sig))
    banded = streams[0]
    for s in streams[1:]:
        banded = banded.unionByName(s)

    raw = candidate_pairs_multi(banded, cfg.max_bucket, new_col=new_col)
    if cfg.enable_simhash:
        # Hamming verify applies to EVERY simhash row, star edges included
        raw = raw.filter(
            (F.col("ch") != F.lit(CH_SIMHASH))
            | (F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))) <= MAX_HAMMING)
        )

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
        (F.col("_h0") >= MIN_BAND_COLLISIONS) | F.coalesce("_s0", F.lit(False)),
        (F.col("_h1") >= 1) | F.coalesce("_s1", F.lit(False)),
        (F.col("_h2") >= 1) | F.coalesce("_s2", F.lit(False)),
    ]
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
    ledger = _open_ledger(spark, workdir, cfg, stop_after)
    return _run_stages(spark, ledger, turns, cfg, stop_after, gc, base=None)


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
    same ledger semantics as ``run_pipeline``, ranged sign commits
    included: ``cfg.sync_ranges`` applies to the day's batch).

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
    ledger = _open_ledger(spark, workdir, cfg, stop_after)

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
        return reduce(DataFrame.unionByName, [bl.output(spark, stage) for bl in base_ledgers])

    base = _Base(
        sign=_union("sign"),
        exact=_union("exact"),  # (fp, rep_id, doc, n_members); fps disjoint along the chain
        clusters=base_ledgers[0].output(spark, "cluster"),
        prefix_runs=[
            (bl.output(spark, "prefix_corpus"), bl.output(spark, "prefix_bounds"))
            for bl in base_ledgers
        ] if cfg.enable_prefix else [],
    )
    return _run_stages(spark, ledger, new_turns, cfg, stop_after, gc, base=base)


# ---------------------------------------------------------------------------
# The stage DAG, shared by both entry points
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _Base:
    """The committed corpus an increment runs against (run_pipeline has
    none): the chain's unioned sign and exact tables, the newest day's
    cluster assignment and, with ``enable_prefix``, every chain day's
    pinned (prefix_corpus, prefix_bounds) run."""

    sign: DataFrame
    exact: DataFrame
    clusters: DataFrame
    prefix_runs: list[tuple[DataFrame, DataFrame]]


def _open_ledger(
    spark: SparkSession, workdir: str, cfg: PipelineConfig, stop_after: str | None
) -> StageLedger:
    if stop_after == "prefix" and not cfg.enable_prefix:
        # without the guard this debug invocation would silently run the
        # ENTIRE pipeline (no done() check ever matches)
        raise ValueError("stop_after='prefix' requires enable_prefix=True")
    if stop_after == "containment" and not cfg.enable_containment:
        raise ValueError("stop_after='containment' requires enable_containment=True")
    return StageLedger(workdir, config_fence=cfg.fence(), spark=spark)


def _run_stages(
    spark: SparkSession,
    ledger: StageLedger,
    turns: DataFrame,
    cfg: PipelineConfig,
    stop_after: str | None,
    gc: bool,
    base: _Base | None,
) -> dict[str, DataFrame]:
    """assemble → exact → [prefix] → sign → candidates → verify →
    [containment] → cluster over ``turns``.  With a ``base`` the batch is
    deduped against that committed corpus: each place the base changes a
    stage branches once, on ``base``."""
    out: dict = {"ledger": ledger}

    def done(stage: str) -> bool:
        return stop_after == stage

    # -- stage 1: assemble (one shuffle on conv_id) ---------------------------
    # the content fingerprint is computed HERE, in the same pass, and
    # committed with the conversations: both the exact stage and the
    # cluster stage's exact edges read it back for free instead of each
    # re-hashing the whole corpus
    conv = ledger.run(
        spark, "assemble", lambda: add_fingerprint(assemble_conversations(turns), "doc")
    )
    out["conv"] = conv
    if done("assemble"):
        return out

    # effective sign-stage commit granularity: data-proportional, from the
    # committed assemble row count (free — it's in the ledger entry)
    n_convs = ledger.metrics().get("assemble", {}).get("rows", 0)
    eff_ranges = max(1, min(cfg.sync_ranges, n_convs // SYNC_MIN_ROWS_PER_RANGE))

    # -- stage 2: exact dedup (shuffle on 32-byte digest) ---------------------
    # No collect_list of members: a boilerplate flood (10^8 identical docs)
    # must not materialize one giant array in a single aggregation buffer.
    # Member→rep star edges are derived by re-joining on the digest — a
    # plain shuffle join whose skew AQE splits.
    def _exact() -> DataFrame:
        groups = conv.groupBy("fp").agg(
            F.min("conv_id").alias("rep_id"),
            F.min("doc").alias("doc"),  # all docs in an fp-group are identical
            F.count(F.lit(1)).alias("n_members"),
        )
        if base is None:
            return groups
        # an increment commits only fps the corpus has NEVER seen (chain
        # fps stay disjoint → day-N unions need no precedence logic)
        return groups.join(base.exact.select("fp"), "fp", "left_anti")

    # range-laid-out on rep_id so the ranged sign commits partition-prune
    # straight off this output (a plain write at eff_ranges == 1)
    exact = ledger.run(spark, "exact", _exact, range_key="rep_id", n_ranges=eff_ranges)
    out["exact"] = exact
    if done("exact"):
        return out
    # member → rep edges: an id/fp join of COMMITTED outputs (a singleton
    # fp's rep is the member itself); an increment also routes re-seen fps
    # to their committed reps
    rep_map = exact.filter(F.col("n_members") > 1).select("fp", F.col("rep_id").alias("conv_a"))
    if base is not None:
        rep_map = base.exact.select("fp", F.col("rep_id").alias("conv_a")).unionByName(rep_map)
    exact_edges = (
        conv.select("fp", F.col("conv_id").alias("conv_b"))
        .join(rep_map, "fp")
        .filter(F.col("conv_a") != F.col("conv_b"))
        .select("conv_a", "conv_b")
    )
    # near-dup stages see one representative per distinct document
    reps = exact.select(F.col("rep_id").alias("conv_id"), "doc")

    # -- stage 2b (optional): prefix-subsumption edges over the reps ----------
    # (conv_a=witness, conv_b=prefix) edges over DISTINCT documents.  The
    # SORTED corpus and its slice bounds commit separately — parquet pins
    # the range partitioning — so later increments probe those slices
    # instead of re-sorting the corpus: an increment sorts its batch ALONE
    # and adds predecessor/successor probes into every chain day's run
    # (two-probe argument and coarser-clusters caveat: prefixdedup.py,
    # tests/test_pipeline_prefix.py).
    prefix_edge_df = None
    if cfg.enable_prefix:
        from wdedup_spark.operators.prefixdedup import (
            corpus_bounds,
            cross_prefix_edges,
            edges_from_sorted,
            sorted_corpus,
        )

        prefix_corpus = ledger.run(
            spark, "prefix_corpus", lambda: sorted_corpus(reps, "doc", "conv_id")
        )
        prefix_bounds = ledger.run(spark, "prefix_bounds", lambda: corpus_bounds(prefix_corpus))

        def _prefix() -> DataFrame:
            within = edges_from_sorted(prefix_corpus, prefix_bounds)
            if base is None:
                return within
            return within.unionByName(
                cross_prefix_edges(reps, base.prefix_runs, "doc", "conv_id")
            )

        prefix_edge_df = ledger.run(spark, "prefix", _prefix)
        out["prefix_edges"] = prefix_edge_df
        if done("prefix"):
            return out

    # -- stage 3: sign (narrow, ONE fused vectorized pandas UDF) --------------
    # The single most expensive Python stage, so it commits per key-range
    # (run_ranged = the reference's --sync-distance analog): a crash mid-
    # sign resumes from the first uncommitted range instead of re-signing
    # the whole batch.
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
            spark, "sign", "exact", _sign_range, n_ranges=eff_ranges,
            input_select=lambda df: df.select(F.col("rep_id").alias("conv_id"), "doc"),
        )
    else:
        # one range == one whole-stage commit: plain run, none of the
        # fence/per-bucket machinery (the recompute it would insure
        # against is smaller than its overhead)
        signed = ledger.run(spark, "sign", lambda: _sign_range(reps, 0))
    out["signed"] = signed
    if done("sign"):
        return out

    # an increment's candidates and containment see old ∪ new signatures
    # with a batch flag: old ids are re-BANDED (one narrow JVM scan of the
    # committed sign tables — no Python, no re-signing) but never
    # re-PAIRED among themselves; verify reads docs along the chain
    flagged, new_col, docs = signed, None, reps
    if base is not None:
        new_col = "is_new"
        flagged = base.sign.withColumn(new_col, F.lit(False)).unionByName(
            signed.withColumn(new_col, F.lit(True))
        )
        docs = base.exact.select(F.col("rep_id").alias("conv_id"), "doc").unionByName(reps)

    # -- stage 4: candidates (the shuffle stages) ------------------------------
    cands = ledger.run(spark, "candidates", lambda: build_candidates(flagged, cfg, new_col))
    out["candidates"] = cands
    if done("candidates"):
        return out

    # -- stage 5: verify (every channel decided by one Arrow kernel) ---------
    # candidates join the documents once per pair side; one mapInPandas
    # pass tokenizes each batch's documents once and runs exact Jaccard,
    # the substring common run and the edit check — see verify.verify_pairs.
    edit_floor = cfg.threshold - EDIT_MARGIN if cfg.verify_edit else None
    args = (cfg.k, cfg.threshold, cfg.substring_min_span, edit_floor, cfg.edit_threshold)
    verified = ledger.run(spark, "verify", lambda: verify_pairs(cands, docs, *args))
    out["verified"] = verified
    if done("verify"):
        return out

    # -- stage 5b (optional): containment channel -----------------------------
    # prefix-filtered set-containment join over the committed shingle
    # sets (operators/containment.py): quote-in-transcript pairs whose
    # Jaccard is ~|A|/|B| and therefore invisible to every band config.
    # Consumes the sign stage's shingles — no re-tokenization.  An
    # increment expands only candidates touching its batch (same-day token
    # order over old ∪ new is lossless for any single consistent order);
    # old×old pairs were emitted when their members were new.
    containment_edge_df = None
    if cfg.enable_containment:
        from wdedup_spark.operators.containment import containment_join

        containment_edge_df = ledger.run(
            spark,
            "containment",
            lambda: containment_join(
                flagged, threshold=cfg.containment_threshold,
                shingle_col="shingles", new_col=new_col,
            ),
            # recorded so chain validation in run_incremental can check the
            # threshold this day ACTUALLY committed at (base ledgers open
            # with config_fence="", so the fence never sees it)
            extra={"containment_threshold": cfg.containment_threshold},
        )
        out["containment_pairs"] = containment_edge_df
        if done("containment"):
            return out

    # -- stage 6: cluster (CC; an increment merges into the committed one) ----
    def _cluster() -> DataFrame:
        edges = verified.select("conv_a", "conv_b").unionByName(
            exact_edges.select("conv_a", "conv_b")
        )
        for extra_edges in (prefix_edge_df, containment_edge_df):
            if extra_edges is not None:
                edges = edges.unionByName(extra_edges.select("conv_a", "conv_b"))
        if base is None:
            return cluster_assignments(conv.select("conv_id"), edges)
        return incremental_update(base.clusters, edges, conv.select("conv_id"))

    clusters = ledger.run(spark, "cluster", _cluster)
    out["clusters"] = clusters

    if gc:
        # reclaim intermediates whose consumers are all committed (O14).
        # A batch run also drops sign and the sorted-corpus text copy (so
        # an increment chain's base needs gc=False); an increment keeps
        # them — the next day in the chain reads them.
        ledger.gc("candidates")
        if base is None:
            ledger.gc("sign")
            if cfg.enable_prefix:
                ledger.gc("prefix_corpus")

    return out

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions) over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.  Column names and
value rounding are aligned on both sides so the driver's order-insensitive
value-hash matches.

Shingle/Jaccard config used throughout: k=3 word shingles, MinHash 128
perms / 32 bands, verify threshold 0.8 (the documents tables plant 25
near-dup pairs at jaccard >= 0.9, cleanly separated from the <0.1 tail,
so LSH recall is deterministic-in-practice at this config: miss prob
< 1e-15 per pair).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# k=3 shingles as SQL (both engines see identical shingle *strings*; Spark
# hashes them — set sizes and intersections are identical modulo 64-bit
# hash collisions, absent at this scale)
K = 3
N_PERMS = 128
N_BANDS = 32
JACCARD_T = 0.8


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(df: DataFrame) -> DataFrame:
    """Fan a small scan out across the cluster before CPU-heavy map work
    (r6, guide §2.5 input skew).  Parquet splits only at ROW-GROUP
    boundaries: a single-row-group file emits every row from one task no
    matter the byte-split config, which serialized the whole sign /
    shingle / feature side of the engine onto one core (measured at
    sf1.0: the fused sign kernel 4.5 s wall vs ~0.15 s of per-core CPU).
    One round-robin exchange of the raw rows fixes it — the same
    repartition-before-sign move plans/pipeline.py has always made.

    Size-gated so it disappears at scale: inputs large enough to carry
    >= parallelism splits (estimated plan size > parallelism ×
    maxPartitionBytes) already scan wide, and re-shuffling a 100 TB
    corpus to "fan it out" would be pure waste — those return unchanged.
    """
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # the session's own parse of maxPartitionBytes ("32m" → 33554432)
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size > dp * max_pb:
        return df
    return df.repartition(dp)


# --------------------------------------------------------------------------
# wdedup word semantics (SURVEY.md §2 O2/O4/O6/O9/O10)
# --------------------------------------------------------------------------

def q_word_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.operators import wdedup

    docs = _fan(_t(spark, sf_dir, "documents"))
    return wdedup.word_profile(wdedup.tokenize(docs)).select(
        "word", F.col("n").cast("long").alias("n"), F.col("first_ord").alias("first_ord")
    )


def q_find_first_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wfindfirst: first word that never repeats (may be empty — the
    reference prints \"\" then, src/wfindfirst.cpp:44,59)."""
    from wdedup_spark.operators import wdedup

    docs = _fan(_t(spark, sf_dir, "documents"))
    return wdedup.word_dedup_pipeline(docs)


def q_find_top_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find-TopN (the reference README's anticipated extension of
    wfindfirst, /root/reference/README.md:83): ten earliest
    never-repeated words.  Deterministic: first_ord is a unique position
    per word."""
    from wdedup_spark.operators import wdedup

    docs = _fan(_t(spark, sf_dir, "documents"))
    return wdedup.find_top_unique(
        wdedup.word_profile(wdedup.tokenize(docs)), n=10
    )


def q_singular_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 singleton filter over the word profile."""
    from wdedup_spark.operators import wdedup

    docs = _fan(_t(spark, sf_dir, "documents"))
    return wdedup.singular_filter(wdedup.word_profile(wdedup.tokenize(docs))).select(
        "word", "first_ord"
    )


# --------------------------------------------------------------------------
# dedup over documents
# --------------------------------------------------------------------------

def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.operators.exact import exact_dup_clusters

    docs = _fan(_t(spark, sf_dir, "documents"))
    return (
        exact_dup_clusters(docs, "text", "doc_id")
        .select(
            F.col("rep_id").cast("long").alias("rep_id"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def _signed_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared candidate scaffolding: documents → MinHash signatures →
    uncapped LSH candidates.  Returns (docs, cands) with
    ``docs`` the (conv_id, doc) frame the candidates were signed from;
    every driver query that needs MinHash candidates goes through here so
    the shingle/signature config lives in exactly one place."""
    from wdedup_spark.operators.lsh import minhash_lsh_candidates
    from wdedup_spark.operators.minhash import add_signatures

    docs = _fan(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    # the signing kernel asked for MinHash lanes only
    signed = add_signatures(
        docs, "doc", k=K, n_perms=N_PERMS,
        enable_simhash=False, enable_substring=False, enable_shingles=False,
    ).drop("doc")
    cands = minhash_lsh_candidates(signed, n_perms=N_PERMS, n_bands=N_BANDS,
                                   max_bucket=None)
    return docs, cands


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash candidates verified against their documents by the
    pipeline's verify engine (exact k=K shingle Jaccard >= JACCARD_T)."""
    from wdedup_spark.operators.verify import verify_pairs

    docs, cands = _signed_candidates(spark, sf_dir)
    tagged = cands.withColumn("via", F.array(F.lit("minhash")))
    # no substring candidates: min_span is never read
    return verify_pairs(tagged, docs, K, JACCARD_T, min_span=0)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _verified_pairs(spark, sf_dir)
    return v.select(
        F.col("conv_a").cast("long").alias("doc_a"),
        F.col("conv_b").cast("long").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


def _tokens_expr():
    """Whitespace tokens of the text column (empty tokens filtered) —
    must stay aligned with the oracle CTEs' string_split_regex."""
    return F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))


def _shingle_expr(toks):
    """Distinct k=K shingle STRINGS as a JVM Column (slice clamps for
    docs shorter than K — same edge semantics as the SQL CASE).

    CALLER CONTRACT: ``toks`` must be a MATERIALIZED column (project
    ``_tokens_expr()`` with an alias first), never the raw split
    expression — a non-column expression referenced inside the
    higher-order ``transform`` lambda is re-evaluated per shingle
    position, turning tokenization O(len) into O(len²) per doc
    (measured 6× slower at sf0.1)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - K, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, K)),
        )
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact 3-shingle Jaccard >= 0.5 over a bounded id range —
    the O(n²) baseline the LSH path approximates.  JVM-side set algebra
    (array_intersect), no UDF."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    d = docs.select("doc_id", _tokens_expr().alias("toks")).select(
        F.col("doc_id"), _shingle_expr(F.col("toks")).alias("sh")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over verified pairs; every
    doc gets a cluster (min doc_id representative)."""
    from wdedup_spark.operators.cluster import cluster_assignments

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("conv_id")
    )
    edges = _verified_pairs(spark, sf_dir).select("conv_a", "conv_b")
    return cluster_assignments(docs, edges).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment clustering, driver-visible (VERDICT r3 #3): split
    documents deterministically into a day-0 corpus (doc_id % 5 < 3, ~60%)
    and a day-1 increment, cluster day 0 in full, then merge day 1 via
    ``incremental_update`` — CC runs only on the routed increment graph
    (O(new edges + touched clusters)), never re-clustering day 0.

    The operator's contract (equivalence to a full recompute, proven by
    cluster-contraction-to-min-rep — operators/cluster.py) makes the
    oracle exactly the full-corpus recursive-CTE closure that
    ``dedup_clusters`` already checks, so the daily path gets a hard
    hash-level signal including cluster-bridging day-1 docs."""
    from wdedup_spark.operators.cluster import cluster_assignments, incremental_update

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("conv_id"))
    day0 = F.pmod(F.col("conv_id"), F.lit(5)) < 3
    # consumed twice (day-0 edges + increment edges): checkpoint so the
    # whole LSH+verify chain runs once
    edges = (
        _verified_pairs(spark, sf_dir)
        .select("conv_a", "conv_b")
        .localCheckpoint(eager=False)
    )
    a0 = F.pmod(F.col("conv_a"), F.lit(5)) < 3
    b0 = F.pmod(F.col("conv_b"), F.lit(5)) < 3
    existing = cluster_assignments(docs.filter(day0), edges.filter(a0 & b0))
    updated = incremental_update(
        existing, edges.filter(~a0 | ~b0), docs.filter(~day0)
    )
    return updated.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs within SimHash Hamming distance 3, exactly: the Manku
    pigeonhole tables guarantee candidate recall and the bit_count filter
    is exact, so with max_bucket=None the output equals the oracle's
    all-pairs definition.  Features are md5-of-shingle-string (k=3) so
    DuckDB reproduces the bit majorities bit-for-bit."""
    from wdedup_spark.operators.simhash import simhash_candidates

    docs = _fan(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    return simhash_candidates(
        docs, "doc", "conv_id", max_hamming=3, k=K, max_bucket=None,
    ).select(
        F.col("conv_a").cast("long").alias("doc_a"),
        F.col("conv_b").cast("long").alias("doc_b"),
    )


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-anchored exact long-substring pairs.  With
    max_bucket=None, the winnowing guarantee (k=8, w=16: any common
    span >= 23 tokens shares an anchor) plus exact common-run verification
    (16-token seed chaining) make this EXACTLY the pairs sharing a verbatim
    token run >= 23 — mirrored by the oracle's shared-16-gram diagonal
    gaps-and-islands SQL."""
    from wdedup_spark.operators.substring import substring_candidates

    docs = _fan(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    return substring_candidates(
        docs, "doc", "conv_id", k=8, w=16, min_span=23, max_bucket=None,
    ).select(
        F.col("conv_a").cast("long").alias("doc_a"),
        F.col("conv_b").cast("long").alias("doc_b"),
        F.col("common_run").cast("int").alias("common_run"),
    )


def q_edit_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance channel, driver-visible: pairs with utf-8 BYTE-level
    Levenshtein similarity >= 0.8 (north_rule's "edit-distance check";
    byte semantics match DuckDB's levenshtein(), == char-level on ASCII).

    Exactness vs the all-pairs oracle: candidates come from MinHash/LSH
    (uncapped buckets), then the exact char-DP decides.  A pair can only reach
    edit_sim 0.8 with ~80% of its characters in common runs, which forces
    shingle Jaccard far above the LSH catch floor (the planted data shows
    the gap plainly: every pair >= 0.8 edit sim sits at >= 0.93, while the
    best NON-near-dup pair is at 0.47 — measured at sf0.001 and sf0.01).
    As with the cosine channel, oracle equality therefore holds at the
    tested scale factors/seed via MinHash candidate recall — probabilistic
    and data-dependent, not an operator invariant.
    A JVM length-ratio prefilter (lossless: dist >= |len_a - len_b|, so
    sim <= 1 - diff/max < 0.8 when diff > 0.2*max) keeps the Python DP off
    obviously-dissimilar candidates.
    """
    from wdedup_spark.operators.verify import edit_similarity_bytes_udf

    _docs, cands = _signed_candidates(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    ta = docs.select(F.col("conv_id").alias("conv_a"), F.col("doc").alias("text_a"))
    tb = docs.select(F.col("conv_id").alias("conv_b"), F.col("doc").alias("text_b"))
    la, lb = F.octet_length("text_a"), F.octet_length("text_b")
    return (
        cands.join(ta, "conv_a")
        .join(tb, "conv_b")
        .filter((la > 0) & (lb > 0))
        .filter(F.abs(la - lb) <= 0.2 * F.greatest(la, lb))
        # explicit fan-out before the byte-DP verify (r6): the surviving
        # candidate set is few MB, so AQE coalesces it onto 1-2
        # partitions — but each row costs an O(len²/w) numpy DP, and the
        # stage is CPU-bound, not byte-bound.  A trivial round-robin
        # exchange spreads the DP across every core (measured: 8.5 s →
        # ~2.7 s at sf1.0; a global AQE minPartitionSize floor was tried
        # for the same effect and reverted — it hurt the big pair-join
        # queries, see session.py)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("edit_sim", F.round(edit_similarity_bytes_udf("text_a", "text_b"), 6))
        .filter(F.col("edit_sim") >= 0.8)
        .select(
            F.col("conv_a").cast("long").alias("doc_a"),
            F.col("conv_b").cast("long").alias("doc_b"),
            "edit_sim",
        )
    )


#: feature-hashed shingle-histogram dimensionality for the high-threshold
#: cosine query (buckets = low 11 bits of the md5 shingle hash)
HIST_DIM = 2048


def _hist_udf(col):
    """array<int> of (possibly repeated) bucket ids → struct of (sorted
    distinct buckets, occurrence counts) — the per-doc sparse histogram,
    computed whole-batch with one lexsort (r6; no per-doc Python loop)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<bkts:array<int>, cs:array<double>>")
    def _hist(bs: pd.Series) -> pd.DataFrame:
        n = len(bs)
        if n == 0:
            return pd.DataFrame({"bkts": [], "cs": []})
        lens = np.fromiter((len(x) for x in bs), dtype=np.int64, count=n)
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        flat = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in bs])
            if off[-1]
            else np.empty(0, dtype=np.int64)
        )
        doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
        order = np.lexsort((flat, doc_of))
        g, d = flat[order], doc_of[order]
        keep = np.ones(len(g), dtype=bool)
        if len(g) > 1:
            keep[1:] = (g[1:] != g[:-1]) | (d[1:] != d[:-1])
        starts = np.flatnonzero(keep)
        cnts = np.diff(np.append(starts, len(g)))
        so = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(d[starts], minlength=n).astype(np.int64), out=so[1:])
        return pd.DataFrame(
            {
                "bkts": np.split(g[starts].astype(np.int32), so[1:-1]),
                "cs": np.split(cnts.astype(np.float64), so[1:-1]),
            }
        )

    return _hist(col)


def q_cosine_highsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-quadratic embedding dedup path (ann.lsh_cosine_pairs_sparse),
    driver-visible at a HIGH threshold — the 100-TB configuration, unlike
    embedding_dup_pairs whose 0.45 threshold forces the exact quadratic
    operator.

    Vectors are feature-hashed 3-shingle histograms derived from the
    documents table (dim 2048, bucket = md5(shingle) mod 2048), entirely
    JVM-side, so DuckDB mirrors them bit-for-bit.  The data separates
    cleanly at 0.9: planted near-dups sit at cosine >= 0.94, the best
    unrelated pair at <= 0.22 (hash-collision noise).  Table geometry
    (r6): 13 bits × 128 tables with a >= 3-collision floor.  Recall is
    sized at the THRESHOLD itself, not just the planted margin: a pair
    at exactly cosine 0.90 has per-plane agreement p = 1 − θ/π ≈ 0.857,
    expected collisions λ = 128·p^13 ≈ 17.1, so P[< 3 collisions] ≈
    6e-6 — and ≈ 4e-10 at the planted 0.94 (the r5 geometry, 10 bits ×
    64 tables, bounded 1.4e-4 at the boundary and 3e-7 at 0.94).  As
    before the oracle equality is probabilistic and data-dependent;
    different data or a shrunk config must re-derive the miss bound.
    The geometry is also the COST control: junk pair expansion scales
    with n_tables · n²/2^n_bits, so 13/128 generates ~4.7× fewer
    within-bucket pair rows than 10/64 (measured at sf1.0: 91.5M → 19M
    rows into the collision-count aggregate), and the 3-collision floor
    keeps background pairs (cosine ~0.1-0.2) out of the verify join
    (λ_junk ≈ 0.03 → P[>=3] ~ 1e-5).
    """
    from wdedup_spark.operators.ann import lsh_cosine_pairs_sparse

    docs = _fan(_t(spark, sf_dir, "documents"))
    tok_df = docs.select("doc_id", _tokens_expr().alias("toks")).filter(
        F.size("toks") > 0
    )
    # NARROW histogram build (r6): the r5 shape exploded every gram
    # occurrence and ran two corpus-wide aggregations (groupBy(doc,bkt)
    # count → groupBy(doc) collect_list×2) to assemble per-doc sparse
    # vectors — but a per-doc histogram is a per-doc fact.  Now the
    # bucket array is computed in-row (low 11 md5 bits = hex chars 14-16
    # mod 2048, same expression) and one Arrow kernel produces the
    # (sorted distinct buckets, counts) pair — zero exchanges before the
    # checkpoint, identical (bkts, cs) content modulo element order,
    # which the cosine math never observed.
    sh_df = tok_df.select("doc_id", _shingle_expr(F.col("toks")).alias("sh"))
    bkts_all = F.transform(
        F.col("sh"),
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 14, 3), 16, 10).cast("int"),
            F.lit(HIST_DIM),
        ),
    )
    vecs = (
        sh_df.select("doc_id", bkts_all.alias("bs"))
        .select("doc_id", _hist_udf(F.col("bs")).alias("h"))
        .select("doc_id", F.col("h.bkts").alias("bkts"), F.col("h.cs").alias("cs"))
        .localCheckpoint(eager=False)
    )
    # 1e-6 slack: raw cosine in [0.9-1e-6, 0.9) rounds UP to the threshold
    return (
        lsh_cosine_pairs_sparse(
            vecs, threshold=0.9 - 1e-6, dim=HIST_DIM,
            id_col="doc_id", idx_col="bkts", val_col="cs",
            n_bits=13, n_tables=128, max_bucket=None, min_collisions=3,
        )
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= 0.9)
        .select(
            F.col("vec_a").cast("long").alias("doc_a"),
            F.col("vec_b").cast("long").alias("doc_b"),
            "cosine",
        )
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.functions import text as tx

    docs = _fan(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.char_count("text").cast("long").alias("n_chars_actual"),
        F.round(tx.distinct_token_ratio("text"), 6).alias("distinct_ratio"),
        F.round(tx.quality_score("text"), 6).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.functions import text as tx

    docs = _fan(_t(spark, sf_dir, "documents"))
    return (
        docs.select(tx.lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.functions import text as tx

    docs = _fan(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", tx.fingerprint("text").alias("fp"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (functions/pii.py): per-doc match counts per PII
    type plus the md5 of the redacted text.

    The synthetic corpus contains no PII, so the query PLANTS it
    deterministically from doc_id (every doc an email; every 3rd an IPv4;
    every 5th a phone; every 7th an SSN) — identically reconstructed in
    the DuckDB oracle — so the redaction demonstrably fires on every
    pattern instead of vacuously matching nothing."""
    from wdedup_spark.functions import pii

    docs = _fan(_t(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    s = d.cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), s, F.lit("@example.com"),
            F.when(d % 3 == 0, F.concat(
                F.lit(" from "), (d % 256).cast("string"),
                F.lit(".10.0."), (d % 100).cast("string"))).otherwise(""),
            F.when(d % 5 == 0, F.concat(
                F.lit(" call "), F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"), F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(""),
            F.when(d % 7 == 0, F.concat(
                F.lit(" ssn "), F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"), F.lpad((d % 100).cast("string"), 2, "0"),
                F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(""),
        ).alias("t"),
    )
    counts = pii.pii_counts("t")
    return planted.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["phone"].cast("long").alias("n_phone"),
        counts["ssn"].cast("long").alias("n_ssn"),
        F.md5(pii.redact("t")).alias("redacted_md5"),
        (F.length("t") - F.length(pii.redact("t"))).cast("long").alias("len_delta"),
    )


def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence-packing placement (operators/pack.py):
    where each document's tokens land when the corpus is concatenated in
    doc_id order and split every 512 tokens.  Runs the distributed
    prefix-sum (range partition + per-partition window + P-row offset
    window) — the oracle mirrors it with a plain global window, which is
    exactly the equivalence the operator claims."""
    from wdedup_spark.operators import pack

    docs = _fan(_t(spark, sf_dir, "documents"))
    return pack.pack_plan(docs, seq_len=512).select(
        F.col("id").alias("doc_id"),
        "n_tokens", "tok_start", "seq_start", "seq_off", "seq_end",
    )


MIX_FRACS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}  # + default 0.1
MIX_SALT = "mix-r5"


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix cut (operators/sample.py): per-source
    Bernoulli fractions via a salted md5 coin keyed on doc_id — the
    reproducible-across-cluster-shapes sampling idiom.  The oracle
    replays the identical md5 draw and integer thresholds."""
    from wdedup_spark.operators import sample

    docs = _t(spark, sf_dir, "documents")
    return sample.stratified_sample(
        docs, MIX_FRACS, strata_col="source", id_col="doc_id",
        salt=MIX_SALT, default_frac=0.1,
    ).select("doc_id", "source")


CHUNK_W, CHUNK_S = 32, 24  # chunk window / stride (tokens), shared with oracle


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding-window chunking (operators/pack.chunk_docs):
    32-token windows every 24 tokens (8-token overlap) — RAG/embedding
    prep, the within-document counterpart of pack_plan's cross-document
    concat-and-chunk.  All-JVM narrow plan (split/sequence/slice/
    explode fused into the scan), no shuffle.  Exact strings/ints only."""
    from wdedup_spark.operators.pack import chunk_docs

    docs = _fan(_t(spark, sf_dir, "documents"))
    return chunk_docs(docs, CHUNK_W, CHUNK_S).select(
        F.col("id").alias("doc_id"), "chunk_idx", "n_tokens", "chunk_text"
    )


QUOTA_SALT = "quota-r5"


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota cut (operators/sample.py quota_sample):
    exactly min(5, |source|) docs per source, chosen by the salted-md5
    hash order — the hard-count contract (eval-set carving) Bernoulli
    cannot give, with nesting across k.  Composition of two pinned
    primitives: uniform_hash60 + topk.grouped_topk.  The oracle
    replays the identical draw and ranks with the same (hash, id)
    total order."""
    from wdedup_spark.operators import sample

    docs = _t(spark, sf_dir, "documents")
    return sample.quota_sample(
        docs, ["source"], k=5, id_col="doc_id", salt=QUOTA_SALT
    ).select("doc_id", "source")


SPAN_TOKENS = 16  # span-dedup window width (tokens), shared with the oracle


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level dedup, detection half: 16-token windows that
    occur in >= 2 distinct documents, with the global first occurrence
    (min packed (doc, idx) ordinal — the reference's first-occurrence
    rule at span granularity, src/wfindfirst.cpp:48-57)."""
    from wdedup_spark.operators.spandedup import doc_spans, duplicate_spans

    docs = _fan(_t(spark, sf_dir, "documents"))
    spans = doc_spans(docs, "text", "doc_id", mode="window", span_tokens=SPAN_TOKENS)
    return duplicate_spans(spans, min_docs=2).select(
        "span",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("first_doc").cast("long").alias("first_doc"),
        F.col("first_idx").cast("long").alias("first_idx"),
    )


def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level dedup, removal half: every 16-token window
    keeps only its globally first occurrence; survivors re-assemble in
    order into cleaned documents (fully-deduplicated docs come back with
    clean_text = '')."""
    from wdedup_spark.operators.spandedup import remove_duplicate_spans

    docs = _fan(_t(spark, sf_dir, "documents"))
    return remove_duplicate_spans(
        docs, "text", "doc_id", mode="window", span_tokens=SPAN_TOKENS
    ).select(F.col("id").cast("long").alias("doc_id"), "clean_text")


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join (prefix-filtered AllPairs/PPJoin,
    operators/containment.py): all pairs with
    |A∩B| / min(|A|,|B|) >= 0.85 over k=3 shingle sets — EXACT, the
    prefix filter is lossless, so the all-pairs oracle is the operator's
    contract (not a sampling coincidence).  At the tested SFs the data
    plants no containment-only pairs (quote-in-document), so the output
    coincides with the near-dup set; the operator's asymmetric-pair
    behavior is pinned by tests/test_containment.py's planted quotes."""
    from wdedup_spark.operators.containment import containment_join
    from wdedup_spark.operators.minhash import add_shingles

    # shingle-only signing (r6): this query consumes ONLY the shingle
    # sets, so the signing kernel computes no MinHash lanes (~half its
    # CPU), SimHash or anchors
    docs = _fan(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    # checkpointed because containment_join consumes the sets for the
    # hot-token map, the ordered sets AND both verify sides
    signed = (
        add_shingles(docs, "doc", k=K)
        .select("conv_id", "shingles")
        .localCheckpoint(eager=False)
    )
    # 1e-6 slack then round-then-filter: the oracle rounds to 6 places
    # BEFORE comparing, so a raw containment in [t - 5e-7, t) must reach
    # the rounding (same convention as q_embedding_dup_pairs' tile slack)
    return (
        containment_join(signed, threshold=0.85 - 1e-6, shingle_col="shingles")
        .withColumn("containment", F.round("containment", 6))
        .filter(F.col("containment") >= 0.85)
        .select(
            F.col("conv_a").cast("long").alias("doc_a"),
            F.col("conv_b").cast("long").alias("doc_b"),
            "containment",
        )
    )


def q_prefix_subsumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-subsumption dedup (agent-transcript retry/continuation
    case): per-doc boolean — is this text a PROPER prefix of another
    doc's text?  Runs the pipeline's sorted-run engine over the distinct
    texts (pinned range sort, per-slice scan, next-slice bounds —
    operators/prefixdedup.py) and joins every doc back on its text;
    witness is the subsuming doc — deterministically the min-(text, id)
    proper extension, mirrored by the oracle's LATERAL min."""
    from wdedup_spark.operators.prefixdedup import prefix_subsumed

    docs = _fan(_t(spark, sf_dir, "documents"))
    return prefix_subsumed(docs, "text", "doc_id").select(
        F.col("id").cast("long").alias("doc_id"),
        "subsumed",
        F.col("witness").cast("long").alias("witness"),
    )


def q_stream_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming containment probe, driver-visible (VERDICT r4 #8): even
    doc_ids form the committed index, odd doc_ids ARRIVE AS A FILE STREAM
    (4 parquet files, maxFilesPerTrigger=1 → 4 real micro-batches through
    a real writeStream/foreachBatch run).  The probe is stateless and its
    prefix filter lossless, so the flagged set equals the exact
    containment-in-smaller join between the two halves regardless of
    micro-batch boundaries — which is the SQL oracle.  Same 0.85-1e-6
    slack + round-then-filter convention as q_containment_pairs."""
    import tempfile

    from wdedup_spark.operators.minhash import add_shingles
    from wdedup_spark.streaming.containment_stream import (
        containment_index,
        stream_containment_flags,
    )

    t = 0.85
    docs = _t(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    st_docs = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    signed = add_shingles(idx_docs, "doc", k=K).select("conv_id", "shingles")
    index = containment_index(signed, threshold=t - 1e-6, k=K)

    import shutil

    d = tempfile.mkdtemp(prefix="wdedup_stream_containment_")
    seen: dict = {}
    try:
        st_docs.repartition(4).write.mode("overwrite").parquet(d + "/in")
        stream = (
            spark.readStream.schema(st_docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/in")
        )
        flags = stream_containment_flags(stream, index)

        def sink(bdf: DataFrame, _bid: int) -> None:
            for r in bdf.dropDuplicates(["conv_id", "index_id"]).collect():
                seen[(r["conv_id"], r["index_id"])] = r["containment"]

        q = (
            flags.writeStream.foreachBatch(sink)
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow drains the 4 micro-batches in well under a minute
        # at any driver sf; a wedged stream must FAIL the query, not hang
        # the whole driver run (review r5)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("stream_containment did not drain in 600 s")
    finally:
        # the staged input + checkpoint are per-invocation scratch; every
        # other temp path in the repo is cleaned the same way (review r5)
        shutil.rmtree(d, ignore_errors=True)
    rows = [
        (int(a), int(b), round(float(c), 6))
        for (a, b), c in sorted(seen.items())
        if round(float(c), 6) >= t
    ]
    return spark.createDataFrame(
        rows, "conv_id long, index_id long, containment double"
    )


def q_incremental_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-day prefix-subsumption, driver-visible (VERDICT r4 missing
    #4): split distinct-text reps into day 0 (rep id % 5 < 3) and day 1,
    pin each day's range-sorted run, and find every subsumed rep from
    within-run scans plus TWO probes per day-1 doc into day 0's slices
    (committed predecessor / successor — operators/prefixdedup.py
    committed-artifact notes).  The subsumed SET provably equals a full
    recompute's, so the oracle is the whole-corpus proper-prefix EXISTS
    over the same reps."""
    from wdedup_spark.operators.prefixdedup import (
        corpus_bounds,
        cross_prefix_edges,
        edges_from_sorted,
        sorted_corpus,
    )

    docs = _fan(_t(spark, sf_dir, "documents"))
    # exact-first: the channel's distinct-text precondition.  Pinned
    # eagerly (r6): the corpus-wide text groupBy feeds BOTH day chains
    # and cross_prefix_edges — three separate jobs that would each
    # recompute it (no cross-job exchange reuse); one checkpoint makes
    # it one computation.
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).localCheckpoint(
        eager=True
    )
    day0 = reps.filter(F.pmod(F.col("doc_id"), F.lit(5)) < 3)
    day1 = reps.filter(F.pmod(F.col("doc_id"), F.lit(5)) >= 3)

    # The two per-day chains (range-sort checkpoint → bounds checkpoint)
    # are independent; their four eager actions ran strictly one after
    # another.  Overlapping them from driver threads (guide §2.6) lets
    # day 1's exchange back-fill day 0's stragglers — the chains' DAGs
    # and the committed runs they pin are unchanged.
    def _chain(day: DataFrame) -> tuple[DataFrame, DataFrame]:
        c = sorted_corpus(day, "text", "doc_id").localCheckpoint(eager=True)
        return (c, corpus_bounds(c).localCheckpoint(eager=True))

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        runs = list(pool.map(_chain, (day0, day1)))
    edges = (
        edges_from_sorted(*runs[0])
        .unionByName(edges_from_sorted(*runs[1]))
        .unionByName(cross_prefix_edges(day1, [runs[0]], "text", "doc_id"))
    )
    return edges.select(F.col("conv_b").cast("long").alias("doc_id")).distinct()


# Gram width 4 for the synthetic corpus (docs are ~20-80 tokens; 38 docs
# share a 4-gram with the eval split vs 1-2 at width 8, so the oracle
# actually exercises the hit path).  Production uses 8-13 token grams —
# the operator's n parameter; semantics identical.
DECON_N = 4    # decontamination gram width (tokens), shared with the oracle
DECON_MOD = 13  # synthetic bench split: doc_id % DECON_MOD == 0 is held-out eval
REP_N = 2      # repetition-stats gram width
REP_FLAG = 0.2  # Gopher-style top-gram mass cut


def q_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with id % 13 == 0 stand in for a
    held-out eval suite; a training doc is contaminated when it shares
    any DECON_N-token gram with it.  Bench grams broadcast — the training
    corpus is never shuffled to find hits (operators/decontaminate.py)."""
    from wdedup_spark.operators.decontaminate import contaminated

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    return contaminated(
        _fan(docs.filter(~is_bench)), _fan(docs.filter(is_bench)),
        "text", "doc_id", n=DECON_N,
    ).select(F.col("id").cast("long").alias("doc_id"), "n_hit_grams")


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals over bigrams:
    total/most-frequent/duplicated gram mass + the filter flag
    (operators/quality.py repetition_stats)."""
    from wdedup_spark.operators.quality import repetition_stats

    docs = _fan(_t(spark, sf_dir, "documents"))
    return repetition_stats(
        docs, "text", "doc_id", n=REP_N, flag_top_frac=REP_FLAG
    ).select(
        F.col("id").cast("long").alias("doc_id"),
        "n_grams",
        "top_gram_n",
        "top_gram_frac",
        "dup_gram_frac",
        "flagged",
    )


def q_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: near-dup clusters (the
    dedup_clusters assignment) keep their argmax-quality member, ties by
    min id — the reference's first-occurrence argmin with the key
    generalized (src/wfindfirst.cpp:48-57).  One min_by hash aggregate,
    no per-cluster sort (operators/quality.py)."""
    from wdedup_spark.functions import text as tx
    from wdedup_spark.operators.quality import cluster_keepers

    clusters = q_dedup_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    quality = docs.select("doc_id", tx.quality_score("text").alias("quality"))
    return cluster_keepers(clusters, quality).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("keeper_id").cast("long").alias("keeper_id"),
        "n_members",
        "best_quality",
    )


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware sampling weights over the near-dup clusters
    ("SoftDedup"-style reweight-instead-of-remove): every doc keeps
    weight 1/cluster_size, so a cluster contributes ~one doc's worth of
    sampling mass.  One groupBy count + cluster_id join
    (operators/quality.py soft_dedup_weights)."""
    from wdedup_spark.operators.quality import soft_dedup_weights

    clusters = q_dedup_clusters(spark, sf_dir)
    return soft_dedup_weights(clusters).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "n_members",
        "weight",
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup: exact cosine pairs at the 0.45
    data threshold (the continuous regime — no LSH margin exists, see
    q_embedding_dup_pairs) → connected components → keep the min-id
    vector per semantic group.  Output is the full keep/drop decision:
    (vec_id, rep_id, kept)."""
    from wdedup_spark.operators.cluster import cluster_assignments

    emb = _t(spark, sf_dir, "embeddings")
    # the 0.45/round-6 pair contract lives in exactly one place:
    # q_embedding_dup_pairs (its oracle and this one must stay in sync)
    pairs = q_embedding_dup_pairs(spark, sf_dir)
    ids = emb.select(F.col("vec_id").alias("conv_id"))
    edges = pairs.select(
        F.col("vec_a").alias("conv_a"), F.col("vec_b").alias("conv_b")
    )
    return cluster_assignments(ids, edges).select(
        F.col("conv_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("rep_id"),
        (F.col("conv_id") == F.col("cluster_id")).alias("kept"),
    )


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: ALL vector pairs with cosine >= 0.45,
    exact.  The data has no margin at the threshold (pair cosines are
    continuous through 0.45), so any bucketed/LSH filter would lose
    borderline pairs; exact all-pairs is Ω(n²) by definition and the
    operator executes that quadratic work as a blocked-GEMM bucket join
    (operators/ann.exact_cosine_pairs) — a join on block ids + one numpy
    matmul per block-pair tile, never a row-level CartesianProduct.  For
    high-threshold dedup (margin available) the sub-quadratic path is
    operators/ann.lsh_cosine_pairs_sparse."""
    from wdedup_spark.operators.ann import exact_cosine_pairs

    emb = _fan(_t(spark, sf_dir, "embeddings"))
    return (
        exact_cosine_pairs(emb, threshold=0.45, block_size=1024)
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= 0.45)
        .select("vec_a", "vec_b", "cosine")
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: words + standalone punctuation as separate
    tokens (regexp extraction, JVM-side)."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
    )


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal exact dedup over a binary content column, end-to-end
    through the REAL media plumbing: ASSET_SCHEMA rows → mapInPandas
    Arrow-streamed feature extraction (functions/multimodal.py) → content
    hash groupBy.  The binary assets are synthesized deterministically from
    documents (utf-8 bytes of text as the opaque payload) so the driver's
    fixed table set suffices; content hashes are md5-derived so DuckDB
    mirrors them bit-for-bit."""
    from wdedup_spark.functions.multimodal import exact_media_dups, extract_features

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").cast("long").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )
    feats = extract_features(_fan(assets))
    return exact_media_dups(feats).select(
        F.col("content_hash").cast("long").alias("content_hash"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wdedup_spark.operators.ann import brute_force_topk

    emb = _fan(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
    )


def q_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality evaluation: exact top-5 neighbors for a
    deterministic query subset, then per-query-label counts of how many
    neighbors share the label (kNN purity — the standard label-noise /
    embedding-quality probe a training-data pipeline runs before
    trusting semantic dedup or curriculum sampling on a new encoder).
    Composition of already-green pieces: brute_force_topk (broadcast
    small-query GEMM, the same machinery as ann_topk) + a broadcast
    label join + an exact-integer aggregate, so the driver value-hash
    carries no float columns.  Caveat shared with the whole ann_topk
    family: which neighbors sit at the rank-k boundary is decided by
    unrounded float64 cosines computed by two different engines, so
    oracle equality rides on the planted margins of the deterministic
    testdata (holds at every SF shipped; see ann_topk, green since r3,
    for the precedent)."""
    from wdedup_spark.operators.ann import brute_force_topk

    emb = _fan(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 100)
    topk = brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    lab = emb.select("vec_id", "label")
    return (
        topk.join(
            F.broadcast(lab.withColumnRenamed("vec_id", "query_id")
                        .withColumnRenamed("label", "q_label")),
            "query_id",
        )
        .join(
            F.broadcast(lab.withColumnRenamed("vec_id", "neighbor_id")
                        .withColumnRenamed("label", "n_label")),
            "neighbor_id",
        )
        .groupBy(F.col("q_label").cast("int").alias("label"))
        .agg(
            F.count_distinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum(
                F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0)
            ).cast("long").alias("n_label_matches"),
        )
    )


def q_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k in its exact-degradation mode (VERDICT r3 #2): with
    ``n_probe == n_lists`` every inverted list is probed, so the result is
    exactly brute-force cosine top-k (pinned in tests/test_ann.py) — but
    the query still exercises the FULL IVF machinery end-to-end: the
    deterministic centroid init, ``n_iter`` distributed Lloyd rounds, the
    eager index checkpoint + corpus unpersist, and the probe join.  Oracle
    = the same all-pairs SQL as ``ann_topk``."""
    from wdedup_spark.operators.ann import ivf_topk

    emb = _fan(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, n_lists=8, n_probe=8, n_iter=2).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH approximate top-k, fully
    oracle-checkable (VERDICT r4 #1): the planes are md5-derived ±1
    Rademacher entries (``ann.md5_planes`` — entry (d, b) = +1 iff the
    first hex nibble of md5('d:b') is odd), so DuckDB mirrors the
    bucketing, the Hamming-1 probe set, and the in-bucket cosine re-rank
    bit-for-bit — the same hash-derived-features move
    ``q_cosine_highsim_pairs`` made.  Recall vs exact brute force is
    pinned in tests/test_ann.py (the production recall knobs are n_bits
    and the probe set)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from wdedup_spark.operators.ann import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # the plane matrix is built driver-side, so dim must be known before
    # the plan: one tiny first() probe (1-row job).  Empty corpus → empty
    # result with the contract schema instead of a None dereference.
    row = emb.select(F.size("embedding").alias("d")).first()
    if row is None:
        return spark.createDataFrame(
            [],
            StructType([
                StructField("query_id", LongType()),
                StructField("neighbor_id", LongType()),
                StructField("rank", IntegerType()),
            ]),
        )
    return lsh_bucketed_topk(
        emb, queries, dim=row["d"], k=5, n_bits=8
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "rank",
    )


# --------------------------------------------------------------------------
# events: windowed aggregation + sessionization
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage: ROLLUP over (day, event_type) — per-cell,
    per-day subtotal, and grand total in ONE pass (Spark expands the
    grouping sets inside a single hash aggregate; no self-union of three
    aggregations).  NULL grouping keys are canonicalized to 'ALL' on both
    engines so the driver's value-hash sees identical rows.  The sum is
    computed in DECIMAL on both engines: the grand-total row sums the
    WHOLE table, where double partial-aggregation order differs between
    engines by ~1 ulp — decimal addition is exact and order-independent,
    so the rounded value can never straddle a rounding boundary."""
    ev = _fan(_t(spark, sf_dir, "events"))
    return (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")).cast("date").cast("string"))
        .rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
    )


def q_top_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary analysis: the 10 most frequent terms per source
    (boilerplate / vocab-drift detection in corpus curation).  Same
    whitespace tokenization as the green word_profile pair, one
    map-side-partial count aggregate, then operators/topk.grouped_topk
    — skew-safe because Catalyst plans the rank filter as a map-side
    partial WindowGroupLimit before the exchange, so a hot source's
    whole vocabulary never sorts in one task (plan shape pinned in
    tests/test_topk.py; lemma in topk.py's module docstring).  Ties at
    the k-boundary are broken by word ascending on both engines, so
    the result is deterministic."""
    from wdedup_spark.operators.topk import grouped_topk
    from wdedup_spark.operators.wdedup import WHITESPACE_RE

    docs = _fan(_t(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), WHITESPACE_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return grouped_topk(
        counts, ["source"], [F.desc("n"), F.asc("word")], k=10
    )


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured ``props`` JSON column:
    ``from_json`` compiles to the JVM JsonToStructs expression inside
    whole-stage codegen, so extraction + aggregation is one scan and one
    exchange — the shape of WARC/crawl-metadata sidecar parsing in a
    web-scale pipeline (no Python in the loop, filter/prune still push
    to the parquet scan).  A malformed/missing key yields NULL (counted
    separately via n_with_k), never a job failure.  All aggregates are
    exact integers so the driver value-hash is summation-order-free."""
    ev = _fan(_t(spark, sf_dir, "events"))
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count_distinct(
                F.when(F.col("k") >= 50, F.col("user_id"))
            ).cast("long").alias("n_users_highk"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user: window lag +
    cumulative session counter."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    sess = ev.withColumn(
        "new_sess", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    ).withColumn("session_no", F.sum("new_sess").over(w))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
    )


# --------------------------------------------------------------------------
# relational: broadcast/shuffle join + agg (scale-pattern showcase)
# --------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (partial-agg friendly)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash/LSH verified near-dup pairs on sf0.001."""
    return q_minhash_lsh_pairs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "word_profile": q_word_profile,
        "find_first_unique": q_find_first_unique,
        "find_top_unique": q_find_top_unique,
        "singular_words": q_singular_words,
        "exact_dup_clusters": q_exact_dup_clusters,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "incremental_clusters": q_incremental_clusters,
        "simhash_pairs": q_simhash_pairs,
        "substring_pairs": q_substring_pairs,
        "edit_dup_pairs": q_edit_dup_pairs,
        "cosine_highsim_pairs": q_cosine_highsim_pairs,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "top_terms_by_source": q_top_terms_by_source,
        "pii_redact": q_pii_redact,
        "pack_plan": q_pack_plan,
        "mixture_sample": q_mixture_sample,
        "quota_sample": q_quota_sample,
        "chunk_docs": q_chunk_docs,
        "span_dup_stats": q_span_dup_stats,
        "span_dedup_docs": q_span_dedup_docs,
        "containment_pairs": q_containment_pairs,
        "stream_containment": q_stream_containment,
        "prefix_subsumed": q_prefix_subsumed,
        "incremental_prefix": q_incremental_prefix,
        "decontaminated": q_decontaminated,
        "repetition_filter": q_repetition_filter,
        "cluster_keepers": q_cluster_keepers,
        "soft_dedup_weights": q_soft_dedup_weights,
        "semantic_dedup": q_semantic_dedup,
        "media_dedup": q_media_dedup,
        "ann_topk": q_ann_topk,
        "ivf_topk_exact": q_ivf_topk_exact,
        "knn_label_purity": q_knn_label_purity,
        "lsh_topk": q_lsh_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "bpe_token_counts": q_bpe_token_counts,
        "events_json_stats": q_events_json_stats,
        "events_hourly": q_events_hourly,
        "events_rollup": q_events_rollup,
        "events_sessions": q_events_sessions,
        "revenue_by_nation": q_revenue_by_nation,
        "pricing_summary": q_pricing_summary,
    }


# Tokenization/shingle parity with the engine kernels (ADVICE round 1):
# empty tokens are filtered (Python str.split() never yields them) and docs
# shorter than K tokens clamp to one whole-doc shingle (hashing kernels and
# F.slice both clamp).  Zero-token docs: the CTE yields an empty shingle
# set while the Spark ngram expression yields [""] — the pair-level
# both-empty CASE below (jaccard = 1.0) reconciles the two, so results
# match for ANY document, not just the >= 20-token synthetic ones.
_SHINGLES_CTE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
              WHEN len(t) < {K} THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(
                     range(0, len(t) - {K} + 1),
                     i -> array_to_string(t[i+1:i+{K}], ' ')))
         END AS s
  FROM toks
)
"""

_WORDS_CTE = """
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(text, '\\s+')) AS word,
         unnest(range(len(string_split_regex(text, '\\s+')))) AS pos
  FROM documents
), w AS (
  SELECT word, doc_id * 1048576 + pos AS ord FROM words WHERE word <> ''
), profile AS (
  SELECT word, count(*)::BIGINT AS n, min(ord) AS first_ord FROM w GROUP BY word
)
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["word_profile"] = _WORDS_CTE + "SELECT word, n, first_ord FROM profile"

    sql["find_first_unique"] = _WORDS_CTE + (
        "SELECT word, first_ord FROM profile WHERE n = 1 ORDER BY first_ord LIMIT 1"
    )

    sql["singular_words"] = _WORDS_CTE + "SELECT word, first_ord FROM profile WHERE n = 1"

    sql["find_top_unique"] = _WORDS_CTE + (
        "SELECT word, first_ord FROM profile WHERE n = 1 ORDER BY first_ord LIMIT 10"
    )

    sql["exact_dup_clusters"] = """
        SELECT min(doc_id)::BIGINT AS rep_id, count(*)::BIGINT AS n_members
        FROM documents GROUP BY text
    """

    # Both-empty convention: two zero-shingle documents are identical ->
    # jaccard 1.0 (matches jaccard_udf and the [""]-shingle Spark edge),
    # instead of NULL from 0/0.
    pair_jaccard = _SHINGLES_CTE + """
        , pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
                      ELSE round(len(list_intersect(a.s, b.s))::DOUBLE /
                           (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
                 END AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        )
    """
    sql["minhash_lsh_pairs"] = pair_jaccard + f"SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_T}"

    sql["ngram_jaccard_pairs"] = pair_jaccard.replace("FROM documents", "FROM documents WHERE doc_id < 500") + (
        "SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5"
    )

    sql["dedup_clusters"] = pair_jaccard.replace("WITH toks", "WITH RECURSIVE toks") + f"""
        , edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= {JACCARD_T}
          UNION ALL
          SELECT doc_b, doc_a FROM pairs WHERE jaccard >= {JACCARD_T}
        ), closure AS (
          SELECT doc_id AS node, doc_id AS comp FROM documents
          UNION
          SELECT e.dst AS node, c.comp
          FROM closure c JOIN edges e ON e.src = c.node
          WHERE c.comp < e.dst
        )
        SELECT node::BIGINT AS doc_id, min(comp)::BIGINT AS cluster_id
        FROM closure GROUP BY node
    """

    # incremental day-0/day-1 merge is contractually equivalent to the
    # full recompute (operators/cluster.py equivalence argument + test),
    # so its oracle IS the full-corpus closure
    sql["incremental_clusters"] = sql["dedup_clusters"]

    # soft dedup: the same closure, sized per cluster, weight = 1/size
    sql["soft_dedup_weights"] = pair_jaccard.replace(
        "WITH toks", "WITH RECURSIVE toks"
    ) + f"""
        , edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= {JACCARD_T}
          UNION ALL
          SELECT doc_b, doc_a FROM pairs WHERE jaccard >= {JACCARD_T}
        ), closure AS (
          SELECT doc_id AS node, doc_id AS comp FROM documents
          UNION
          SELECT e.dst AS node, c.comp
          FROM closure c JOIN edges e ON e.src = c.node
          WHERE c.comp < e.dst
        ), assign AS (
          SELECT node AS doc_id, min(comp) AS cluster_id FROM closure GROUP BY node
        ), sizes AS (
          SELECT cluster_id, count(*)::BIGINT AS n_members
          FROM assign GROUP BY cluster_id
        )
        SELECT a.doc_id::BIGINT AS doc_id,
               a.cluster_id::BIGINT AS cluster_id,
               s.n_members,
               round(1.0 / s.n_members, 6) AS weight
        FROM assign a JOIN sizes s USING (cluster_id)
    """

    sql["token_stats"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
                 len(text) AS n_chars_actual
          FROM documents
        )
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               n_chars_actual::BIGINT AS n_chars_actual,
               round(CASE WHEN len(toks) > 0
                     THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 1.0 END, 6) AS distinct_ratio,
               round(least(len(toks)::DOUBLE / 50.0, 1.0) * 0.5 +
                     (CASE WHEN len(toks) > 0
                      THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 1.0 END) * 0.5, 6) AS quality
        FROM t
    """

    en = "['the','a','of','and','to','in','is','it','that','for']"
    es = "['el','la','de','que','y','en','un','una','por','con']"
    de = "['der','die','das','und','ist','von','ein','mit','zu','den']"
    fr = "['le','la','de','et','est','un','une','dans','pour','que']"
    sql["lang_id"] = f"""
        WITH t AS (
          SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
          FROM documents
        ), scores AS (
          SELECT len(list_filter(toks, x -> list_contains({en}, x))) AS h_en,
                 len(list_filter(toks, x -> list_contains({es}, x))) AS h_es,
                 len(list_filter(toks, x -> list_contains({de}, x))) AS h_de,
                 len(list_filter(toks, x -> list_contains({fr}, x))) AS h_fr
          FROM t
        ), pred AS (
          SELECT CASE
            WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_es >= h_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
          FROM scores
        )
        SELECT lang_pred, count(*)::BIGINT AS n_docs FROM pred GROUP BY lang_pred
    """

    sql["doc_fingerprint"] = """
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    """

    # Sequence packing: the oracle is the NAIVE global-window cumsum —
    # the operator's distributed prefix sum must equal it exactly.
    sql["pack_plan"] = """
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 (sum(n_tokens) OVER (ORDER BY doc_id, n_tokens
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens)::BIGINT AS tok_start
          FROM t
        )
        SELECT doc_id, n_tokens, tok_start,
               (tok_start // 512)::BIGINT AS seq_start,
               (tok_start % 512)::BIGINT AS seq_off,
               (CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
                     ELSE tok_start // 512 END)::BIGINT AS seq_end
        FROM c
    """

    # Deterministic mixture sampling: same salted-md5 60-bit draw, same
    # integer thresholds (computed here in python — no float in the keep
    # decision on either engine).
    _mix_case = " ".join(
        f"WHEN '{k}' THEN {int(v * (1 << 60))}" for k, v in MIX_FRACS.items()
    )
    sql["mixture_sample"] = f"""
        WITH u AS (
          SELECT doc_id, source,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':{MIX_SALT}'), 1, 15))::UBIGINT AS h
          FROM documents
        )
        SELECT doc_id, source FROM u
        WHERE h < CASE source {_mix_case} ELSE {int(0.1 * (1 << 60))} END
    """

    # sliding-window chunking: same tokenization as the words CTE,
    # 1-based list slices on both engines; W/S from the shared constants
    sql["chunk_docs"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ), c AS (
          SELECT doc_id, toks,
                 unnest(range(CASE WHEN len(toks) > {CHUNK_W}
                              THEN ((len(toks) - {CHUNK_W} - 1) // {CHUNK_S}) + 2
                              ELSE 1 END)) AS chunk_idx
          FROM t WHERE len(toks) > 0
        )
        SELECT doc_id,
               chunk_idx::INT AS chunk_idx,
               len(toks[chunk_idx * {CHUNK_S} + 1 :
                        chunk_idx * {CHUNK_S} + {CHUNK_W}])::BIGINT AS n_tokens,
               array_to_string(toks[chunk_idx * {CHUNK_S} + 1 :
                                    chunk_idx * {CHUNK_S} + {CHUNK_W}], ' ')
                 AS chunk_text
        FROM c
    """

    # exact per-stratum quota: identical draw, ranked by the same
    # (hash, id) total order
    sql["quota_sample"] = f"""
        WITH u AS (
          SELECT doc_id, source,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':{QUOTA_SALT}'), 1, 15))::UBIGINT AS h
          FROM documents
        ), r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY h, doc_id) AS rnk
          FROM u
        )
        SELECT doc_id, source FROM r WHERE rnk <= 5
    """

    # PII scrub: plant deterministic PII from doc_id (mirroring
    # q_pii_redact exactly), then count and redact with the same
    # Java/RE2-common patterns, in the same order (email, ipv4, ssn,
    # phone — PII_PATTERNS dict order).
    sql["pii_redact"] = """
        WITH planted AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR || '@example.com'
                 || CASE WHEN doc_id % 3 = 0 THEN
                      ' from ' || (doc_id % 256)::VARCHAR || '.10.0.' || (doc_id % 100)::VARCHAR
                    ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN
                      ' call ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                      || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                    ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN
                      ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                      || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-'
                      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                    ELSE '' END AS t
          FROM documents
        ), red AS (
          SELECT doc_id, t,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                   '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g') AS r
          FROM planted
        )
        SELECT doc_id,
               len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
               len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ipv4,
               len(regexp_extract_all(t, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))::BIGINT AS n_phone,
               len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::BIGINT AS n_ssn,
               md5(r) AS redacted_md5,
               (len(t) - len(r))::BIGINT AS len_delta
        FROM red
    """

    sql["media_dedup"] = """
        WITH h AS (
          SELECT doc_id, ('0x' || substr(md5(text), 1, 16))::UBIGINT AS u
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CASE WHEN u >= 9223372036854775808::UBIGINT
                      THEN (u::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                      ELSE u::BIGINT END AS content_hash
          FROM h
        )
        SELECT content_hash, min(doc_id)::BIGINT AS rep_id,
               count(*)::BIGINT AS n_members
        FROM s GROUP BY content_hash
    """

    # span-level dedup: the packed ordinal pos = doc_id * 2^20 + span_idx
    # states the first-occurrence rule identically on both engines
    # (operators/spandedup.POS_BASE)
    _spans_cte = f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), spans AS (
          SELECT doc_id, g AS span_idx,
                 array_to_string(t[g*{SPAN_TOKENS}+1 : g*{SPAN_TOKENS}+{SPAN_TOKENS}], ' ') AS span,
                 doc_id * 1048576 + g AS pos
          FROM toks, unnest(range(CAST(ceil(len(t)/{SPAN_TOKENS}.0) AS BIGINT))) AS u(g)
          WHERE len(t) > 0
        )
    """
    # empty spans are structure, not content: excluded from dup stats,
    # always kept in reconstruction (mirrors operators/spandedup.py)
    sql["span_dup_stats"] = _spans_cte + """
        SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_occurrences,
               (min(pos) // 1048576)::BIGINT AS first_doc,
               (min(pos) % 1048576)::BIGINT AS first_idx
        FROM spans WHERE span <> ''
        GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """

    sql["span_dedup_docs"] = _spans_cte + """
        , keepers AS (
          SELECT span, min(pos) AS first_pos FROM spans
          WHERE span <> '' GROUP BY span
        ), kept AS (
          SELECT s.doc_id, s.span_idx, s.span
          FROM spans s LEFT JOIN keepers k ON s.span = k.span
          WHERE k.first_pos IS NULL OR s.pos = k.first_pos
        )
        SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(string_agg(k.span, ' ' ORDER BY k.span_idx), '') AS clean_text
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN kept k USING (doc_id)
        GROUP BY d.doc_id
    """

    # containment-in-smaller; the operator drops zero-shingle sets and
    # the tested tables have none (min 20 tokens), so no empty-set CASE
    # is needed on either side
    sql["containment_pairs"] = _SHINGLES_CTE + """
        , pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(len(list_intersect(a.s, b.s))::DOUBLE /
                       least(len(a.s), len(b.s)), 6) AS containment
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.s) > 0 AND len(b.s) > 0
        )
        SELECT doc_a, doc_b, containment FROM pairs WHERE containment >= 0.85
    """

    sql["prefix_subsumed"] = """
        SELECT a.doc_id::BIGINT AS doc_id,
               w.wid IS NOT NULL AS subsumed,
               w.wid::BIGINT AS witness
        FROM documents a LEFT JOIN LATERAL (
          SELECT b.doc_id AS wid FROM documents b
          WHERE len(b.text) > len(a.text) AND starts_with(b.text, a.text)
          ORDER BY b.text, b.doc_id LIMIT 1
        ) w ON true
    """

    # stateless probe + lossless prefix filter -> the streamed flags are
    # batch-boundary-independent and equal the exact containment join
    # between the two doc_id-parity halves
    sql["stream_containment"] = _SHINGLES_CTE + """
        , pairs AS (
          SELECT s.doc_id AS conv_id, i.doc_id AS index_id,
                 round(len(list_intersect(s.s, i.s))::DOUBLE /
                       least(len(s.s), len(i.s)), 6) AS containment
          FROM sh s JOIN sh i ON s.doc_id % 2 = 1 AND i.doc_id % 2 = 0
          WHERE len(s.s) > 0 AND len(i.s) > 0
        )
        SELECT conv_id, index_id, containment FROM pairs WHERE containment >= 0.85
    """

    # the split+probe increment provably finds the same subsumed SET as a
    # full recompute over the distinct-text reps (tests/test_prefixdedup.py
    # cross-run equivalence), so the oracle is the whole-corpus EXISTS
    sql["incremental_prefix"] = """
        WITH reps AS (
          SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
        )
        SELECT a.doc_id::BIGINT AS doc_id
        FROM reps a
        WHERE EXISTS (
          SELECT 1 FROM reps b
          WHERE len(b.text) > len(a.text) AND starts_with(b.text, a.text)
        )
    """

    sql["decontaminated"] = f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ), g AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(0, len(t) - {DECON_N} + 1),
                   i -> array_to_string(t[i+1:i+{DECON_N}], ' '))) AS grams
          FROM toks WHERE len(t) >= {DECON_N}
        ), train_g AS (
          SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} <> 0
        ), bench_g AS (
          SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {DECON_MOD} = 0
        )
        SELECT t.doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_hit_grams
        FROM train_g t JOIN bench_g b USING (gram)
        GROUP BY t.doc_id
    """

    sql["repetition_filter"] = f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(0, len(t) - {REP_N} + 1),
                   i -> array_to_string(t[i+1:i+{REP_N}], ' '))) AS gram
          FROM toks WHERE len(t) >= {REP_N}
        ), per AS (
          SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
        )
        SELECT doc_id::BIGINT AS doc_id,
               sum(cnt)::BIGINT AS n_grams,
               max(cnt)::BIGINT AS top_gram_n,
               round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_gram_frac,
               round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                     / sum(cnt), 6) AS dup_gram_frac,
               max(cnt)::DOUBLE / sum(cnt) > {REP_FLAG} AS flagged
        FROM per GROUP BY doc_id
    """

    # dedup_clusters' closure + the token_stats quality expression, with
    # the keeper = argmax quality (ties: min id) per cluster
    sql["cluster_keepers"] = pair_jaccard.replace("WITH toks", "WITH RECURSIVE toks") + f"""
        , edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= {JACCARD_T}
          UNION ALL
          SELECT doc_b, doc_a FROM pairs WHERE jaccard >= {JACCARD_T}
        ), closure AS (
          SELECT doc_id AS node, doc_id AS comp FROM documents
          UNION
          SELECT e.dst AS node, c.comp
          FROM closure c JOIN edges e ON e.src = c.node
          WHERE c.comp < e.dst
        ), assign AS (
          SELECT node AS doc_id, min(comp) AS cluster_id FROM closure GROUP BY node
        ), q AS (
          SELECT doc_id,
                 round(least(len(list_filter(string_split_regex(text, '\\s+'),
                                             x -> x <> ''))::DOUBLE / 50.0, 1.0) * 0.5 +
                       (CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                                  x -> x <> '')) > 0
                        THEN len(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                                           x -> x <> '')))::DOUBLE /
                             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                        ELSE 1.0 END) * 0.5, 6) AS quality
          FROM documents
        ), ranked AS (
          SELECT a.cluster_id, a.doc_id, q.quality,
                 row_number() OVER (PARTITION BY a.cluster_id
                                    ORDER BY q.quality DESC, a.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY a.cluster_id) AS n_members,
                 max(q.quality) OVER (PARTITION BY a.cluster_id) AS best_quality
          FROM assign a JOIN q USING (doc_id)
        )
        SELECT cluster_id::BIGINT AS cluster_id,
               doc_id::BIGINT AS keeper_id,
               n_members::BIGINT AS n_members,
               round(best_quality, 6) AS best_quality
        FROM ranked WHERE rn = 1
    """

    sql["semantic_dedup"] = """
        WITH RECURSIVE e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), pairs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        ), edges AS (
          SELECT va AS src, vb AS dst FROM pairs
          UNION ALL
          SELECT vb, va FROM pairs
        ), closure AS (
          SELECT vec_id AS node, vec_id AS comp FROM e
          UNION
          SELECT ed.dst AS node, c.comp
          FROM closure c JOIN edges ed ON ed.src = c.node
          WHERE c.comp < ed.dst
        )
        SELECT node::BIGINT AS vec_id, min(comp)::BIGINT AS rep_id,
               (node = min(comp)) AS kept
        FROM closure GROUP BY node
    """

    sql["embedding_dup_pairs"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
    """

    sql["bpe_token_counts"] = r"""
        WITH t AS (
          SELECT doc_id,
                 regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]') AS toks
          FROM documents
        )
        SELECT doc_id, len(toks)::BIGINT AS n_bpe_tokens,
               len(list_distinct(toks))::BIGINT AS n_distinct_bpe_tokens
        FROM t
    """

    sql["ann_topk"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS score
          FROM q, embeddings e WHERE e.vec_id <> q.query_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, rank::INT AS rank FROM ranked WHERE rank <= 5
    """

    # IVF at n_probe == n_lists is exact brute force (tests pin the
    # degradation), so it shares ann_topk's all-pairs oracle
    sql["ivf_topk_exact"] = sql["ann_topk"]

    # same exact-cosine ranking CTE as ann_topk (100-query subset),
    # joined back to labels; purity aggregates are exact integers
    sql["knn_label_purity"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS q_label
                   FROM embeddings WHERE vec_id < 100),
        scored AS (
          SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
                 list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS score
          FROM q, embeddings e WHERE e.vec_id <> q.query_id
        ), ranked AS (
          SELECT query_id, q_label, neighbor_id, n_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT q_label::INT AS label,
               count(DISTINCT query_id)::BIGINT AS n_queries,
               count(*)::BIGINT AS n_neighbors,
               sum(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)::BIGINT AS n_label_matches
        FROM ranked WHERE rank <= 5 GROUP BY q_label
    """

    # Multi-probe hyperplane LSH with md5-derived ±1 planes
    # (ann.md5_planes): DuckDB rebuilds the plane matrix from md5,
    # projects each vector (aligned unnest = one (vec, dim) row per
    # element), packs the sign bits into the bucket long, probes the
    # query's own bucket plus all 8 Hamming-1 buckets, and re-ranks the
    # probed union by exact cosine — statement-for-statement the
    # lsh_bucketed_topk plan.
    sql["lsh_topk"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        planes AS (
          SELECT dd.d, bb.b,
                 CASE WHEN ('0x' || substr(md5(dd.d::VARCHAR || ':' || bb.b::VARCHAR), 1, 1))::INT % 2 = 1
                      THEN 1.0 ELSE -1.0 END AS w
          FROM (SELECT unnest(range((SELECT max(len(v)) FROM e))) AS d) dd
          CROSS JOIN (SELECT unnest(range(8)) AS b) bb
        ), vu AS (
          SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS d FROM e
        ), proj AS (
          SELECT vu.vec_id, p.b, sum(vu.x * p.w) AS s
          FROM vu JOIN planes p USING (d)
          GROUP BY vu.vec_id, p.b
        ), sig AS (
          SELECT vec_id,
                 sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS bucket
          FROM proj GROUP BY vec_id
        ), qsig AS (
          SELECT vec_id AS query_id, bucket FROM sig WHERE vec_id < 10
        ), probes AS (
          SELECT query_id, bucket AS pb FROM qsig
          UNION ALL
          SELECT query_id, xor(bucket, 1::BIGINT << bb.b)
          FROM qsig CROSS JOIN (SELECT unnest(range(8)) AS b) bb
        ), cand AS (
          SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
          FROM probes p JOIN sig s ON s.bucket = p.pb
          WHERE s.vec_id <> p.query_id
        ), scored AS (
          SELECT c.query_id, c.neighbor_id,
                 list_cosine_similarity(eq.v, en.v) AS score
          FROM cand c
          JOIN e eq ON eq.vec_id = c.query_id
          JOIN e en ON en.vec_id = c.neighbor_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, rank::INT AS rank FROM ranked WHERE rank <= 5
    """

    sql["events_hourly"] = """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """

    # decimal sum: exact, summation-order-independent — the grand-total
    # row would otherwise be a ~1-ulp double coin-flip between engines
    sql["events_rollup"] = """
        SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
               coalesce(event_type, 'ALL') AS event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value::DECIMAL(28,6)), 4)::DOUBLE AS sum_value
        FROM events
        GROUP BY ROLLUP (date_trunc('day', ts), event_type)
    """

    sql["top_terms_by_source"] = r"""
        WITH words AS (
          SELECT source, unnest(string_split_regex(text, '\s+')) AS word
          FROM documents
        ), counts AS (
          SELECT source, word, count(*)::BIGINT AS n
          FROM words WHERE word <> '' GROUP BY source, word
        ), ranked AS (
          SELECT source, word, n,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n DESC, word) AS rnk
          FROM counts
        )
        SELECT source, word, n, rnk::INT AS rnk FROM ranked WHERE rnk <= 10
    """

    # the json_type guard mirrors Spark's strict from_json typing on
    # adversarial data (quoted "87" / 1.5 / malformed JSON -> NULL both
    # engines, where a bare CAST(props->>'k') would coerce or error);
    # a no-op on the generator's always-valid integer props
    sql["events_json_stats"] = """
        WITH k AS (
          SELECT event_type, user_id,
                 CASE WHEN json_valid(props)
                           AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                      THEN CAST(props->>'k' AS BIGINT) END AS k
          FROM events
        )
        SELECT event_type,
               count(*)::BIGINT AS n_events,
               count(k)::BIGINT AS n_with_k,
               sum(k)::BIGINT AS sum_k,
               max(k)::BIGINT AS max_k,
               count(DISTINCT CASE WHEN k >= 50 THEN user_id END)::BIGINT
                 AS n_users_highk
        FROM k GROUP BY event_type
    """

    sql["events_sessions"] = """
        WITH lagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
          FROM lagged
        )
        SELECT user_id, session_no::BIGINT AS session_no,
               count(*)::BIGINT AS n_events, min(ts) AS session_start
        FROM sess GROUP BY user_id, session_no
    """

    sql["revenue_by_nation"] = """
        SELECT n_name AS nation,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """

    sql["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               count(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    # SimHash with md5-of-shingle-string features is fully SQL-expressible:
    # DuckDB reproduces the 64-bit feature hash via substr(md5(s),1,16) and
    # the bit majorities via an unnest(range(64)) sum.  The engine's
    # pigeonhole tables + exact bit_count filter (max_bucket=None)
    # equal the all-pairs Hamming <= 3 definition below.
    sql["simhash_pairs"] = """
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id, unnest(
            CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                 WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
            END) AS s
          FROM toks
        ), feats AS (
          SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h,
                 count(*)::BIGINT AS cnt
          FROM sh GROUP BY doc_id, s
        ), tot AS (
          SELECT doc_id, sum(cnt) AS total FROM feats GROUP BY doc_id
        ), bits AS (
          SELECT f.doc_id, b.b, sum(((f.h >> b.b) & 1)::BIGINT * f.cnt) AS ones
          FROM feats f CROSS JOIN (SELECT unnest(range(64)) AS b) b
          GROUP BY f.doc_id, b.b
        ), sims AS (
          SELECT bits.doc_id,
                 sum(CASE WHEN 2 * ones > total THEN (1::UBIGINT << b)
                          ELSE 0::UBIGINT END)::UBIGINT AS sim
          FROM bits JOIN tot USING (doc_id) GROUP BY bits.doc_id
        ), sims_all AS (
          SELECT d.doc_id, coalesce(s.sim, 0::UBIGINT) AS sim
          FROM documents d LEFT JOIN sims s USING (doc_id)
        )
        SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b
        FROM sims_all a JOIN sims_all b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """

    # Edit channel: utf-8 byte-level Levenshtein (DuckDB levenshtein
    # compares BYTES; strlen is the byte length).  The length-ratio
    # prefilter is lossless at threshold 0.8 (dist >= |len_a - len_b|
    # implies sim <= 1 - diff/max < 0.8 whenever diff > 0.2*max).
    edit_expr = (
        "round(1.0 - levenshtein(a.text, b.text)::DOUBLE /"
        " greatest(strlen(a.text), strlen(b.text)), 6)"
    )
    sql["edit_dup_pairs"] = f"""
        SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
               {edit_expr} AS edit_sim
        FROM documents a JOIN documents b
          ON a.doc_id < b.doc_id
         AND strlen(a.text) > 0 AND strlen(b.text) > 0
         AND abs(strlen(a.text) - strlen(b.text)) <= 0.2 * greatest(strlen(a.text), strlen(b.text))
        WHERE {edit_expr} >= 0.8
    """

    # High-threshold cosine over feature-hashed shingle histograms: the
    # dot product only needs SHARED buckets (all other terms are 0), so
    # the oracle never builds the dense vectors — sum(c_a*c_b) per pair
    # over a bucket equi-join, norms from a per-doc aggregate.
    sql["cosine_highsim_pairs"] = f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                      WHEN len(t) < {K} THEN [array_to_string(t, ' ')]
                      ELSE list_distinct(list_transform(
                             range(0, len(t) - {K} + 1),
                             i -> array_to_string(t[i+1:i+{K}], ' ')))
                 END AS s
          FROM toks
        ), f AS (
          SELECT doc_id, unnest(s) AS g FROM sh
        ), b AS (
          SELECT doc_id,
                 (('0x' || substr(md5(g), 1, 16))::UBIGINT % {HIST_DIM})::BIGINT AS bkt,
                 count(*)::DOUBLE AS c
          FROM f GROUP BY doc_id, bkt
        ), norms AS (
          SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM b GROUP BY doc_id
        ), dots AS (
          SELECT x.doc_id AS da, y.doc_id AS db, sum(x.c * y.c) AS dot
          FROM b x JOIN b y ON x.bkt = y.bkt AND x.doc_id < y.doc_id
          GROUP BY da, db
        )
        SELECT da::BIGINT AS doc_a, db::BIGINT AS doc_b,
               round(dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = da
        JOIN norms nb ON nb.doc_id = db
        WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.9
    """

    # Longest common verbatim token run via shared 16-gram diagonal
    # gaps-and-islands: a run of L tokens is L-15 consecutive matching
    # 16-grams on one diagonal (i - j constant).  Mirrors the engine's
    # seed-chaining verifier exactly; docs shorter than 16 tokens cannot
    # reach the 23-token span floor on either side.
    sql["substring_pairs"] = """
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ), g AS (
          SELECT doc_id, unnest(range(0, len(t) - 15)) AS pos, t
          FROM toks WHERE len(t) >= 16
        ), grams AS (
          SELECT doc_id, pos, array_to_string(t[pos+1:pos+16], ' ') AS gram FROM g
        ), m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos - b.pos AS d, a.pos AS i
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        ), isl AS (
          SELECT doc_a, doc_b, d,
                 i - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY i) AS grp
          FROM m
        ), runs AS (
          SELECT doc_a, doc_b, count(*) + 15 AS common_run
          FROM isl GROUP BY doc_a, doc_b, d, grp
        )
        SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
               max(common_run)::INT AS common_run
        FROM runs GROUP BY doc_a, doc_b
        HAVING max(common_run) >= 23
    """
    return sql

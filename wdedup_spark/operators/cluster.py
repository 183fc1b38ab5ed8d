"""Connected components over the verified-pair graph (hash-to-min).

Resolves duplicate pairs into clusters with the deterministic min-id
representative — the reference's "lesser occurrence picked" rule
(/root/reference/README.md:79-80, src/wfindfirst.cpp:48-57) lifted from
words to conversations.

Algorithm: hash-to-min label propagation with pointer jumping.  Each node
starts labeled with itself; each round (1) takes the min label over its
closed neighborhood, then (2) path-halves (label ← label of label) —
converging in O(log n) rounds even on path graphs (duplicate-cluster
graphs have tiny diameters anyway once exact dups are pre-collapsed —
SURVEY.md §7 "hard parts").

Scale notes:
* each iteration is one groupBy exchange on node id — same partial/final
  aggregate shape as the reference's O4/O6 stages;
* each round truncates lineage (iterative plans otherwise grow
  exponentially in Catalyst) — RELIABLY via ``checkpoint()`` when the
  session has a checkpoint dir (the cluster deployment: survives executor
  loss), ``localCheckpoint`` otherwise (local mode / tests);
* convergence check is an aggregate (sum of changes), not a collect of
  labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _truncate_lineage(df: DataFrame, eager: bool) -> tuple[DataFrame, DataFrame | None]:
    """Checkpoint for iterative lineage truncation — RELIABLE when the
    session has a checkpoint dir configured, local otherwise.

    ``localCheckpoint`` stores blocks on executors: on a real cluster an
    executor loss (preemption is routine at 1000-executor scale) kills the
    cached blocks and the job, because truncated lineage cannot recompute.
    With ``spark.sparkContext.setCheckpointDir(...)`` (HDFS/S3 path) set,
    iterations persist to reliable storage instead and survive executor
    loss.  Local mode / tests run without a dir and keep the cheap path.

    Returns ``(truncated_df, persist_handle)`` — the handle (or None) must
    be ``.unpersist()``-ed by the caller once the checkpoint has
    materialized and the iteration's blocks are no longer read, otherwise
    every iteration's MEMORY_AND_DISK blocks accumulate for the whole loop
    (memory/disk pressure on long-diameter graphs).
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        # persist before reliable checkpoint: the checkpoint write job
        # otherwise recomputes every partition a second time (the
        # documented RDD.checkpoint caveat).  Orphaned checkpoint files
        # are reclaimed via spark.cleaner.referenceTracking
        # .cleanCheckpoints=true (set in session.py).
        from pyspark import StorageLevel

        persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        return persisted.checkpoint(eager=eager), persisted
    return df.localCheckpoint(eager=eager), None


#: Below this many edges the dup graph fits comfortably on the driver and
#: union-find beats ~8 distributed rounds of job latency.  Duplicate-pair
#: graphs are tiny relative to the corpus (edges ≈ dup pairs, not turns):
#: even a 10^12-turn corpus with 1% verified dup pairs per conversation
#: stays far below driver memory at this threshold × safety margin.
SMALL_GRAPH_EDGES = 2_000_000

#: hash-to-min round bound: pointer jumping needs O(log n) rounds, so
#: labels still changing after it are an error, not a result
MAX_ROUNDS = 20


def _driver_union_find(edge_rows, spark, id_type) -> DataFrame:
    """Small-graph fast path: exact union-find with min-id representative
    (identical output contract to the distributed path)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    ordered = sorted(nodes)
    schema = StructType(
        [StructField("conv_id", id_type, False), StructField("cluster_id", id_type, False)]
    )
    # pandas + Arrow path: one columnar transfer instead of per-row pickle
    # serialization (measured: the row-list path dominated the cluster
    # stage wall on multi-JVM runs)
    pdf = pd.DataFrame(
        {"conv_id": ordered, "cluster_id": [find(n) for n in ordered]}
    )
    return spark.createDataFrame(pdf, schema=schema)


def connected_components(
    edges: DataFrame,
    a_col: str = "conv_a",
    b_col: str = "conv_b",
) -> DataFrame:
    """edges(conv_a, conv_b) → (conv_id, cluster_id) for every node that
    appears in an edge; cluster_id = min conv_id of the component.

    Adaptive strategy (the reference picks DP vs simple merge planning the
    same way, src/main.cpp:213-214): count edges first — up to
    ``SMALL_GRAPH_EDGES`` run exact union-find on the driver (one job +
    O(E α(E)) local work); above it, distributed hash-to-min with pointer
    jumping (O(log n) rounds, at most ``MAX_ROUNDS``; RuntimeError past it)."""
    # eager local checkpoint BEFORE the strategy probe (r6, guide §2.4):
    # the count() below and the collect()/iteration that follows are
    # SEPARATE actions — without the checkpoint the entire upstream chain
    # (sign → band → candidate expansion → verify, the expensive part of
    # every *_clusters query) executes twice.  Blocks are bounded: the
    # dup-pair edge set, not the corpus.
    distinct_edges = (
        edges.select(F.col(a_col).alias("conv_a"), F.col(b_col).alias("conv_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = distinct_edges.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        spark = edges.sparkSession
        rows = [(r["conv_a"], r["conv_b"]) for r in distinct_edges.collect()]
        id_type = distinct_edges.schema["conv_a"].dataType
        return _driver_union_find(rows, spark, id_type)
    edges = distinct_edges
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    sym, sym_handle = _truncate_lineage(sym, eager=True)

    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels, prev_handle = _truncate_lineage(labels, eager=False)

    for _ in range(MAX_ROUNDS):
        # (1) propagate: min label over closed neighborhood
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # (2) pointer-jump (path halving): label(v) ← label(label(v)) —
        # turns O(diameter) propagation into O(log n) total rounds
        parent = new_labels.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        new_labels = (
            new_labels.join(parent, "label", "left")
            .select("node", F.coalesce("label2", "label").alias("label"))
        )
        # lazy checkpoint: the convergence-check action below materializes
        # it, truncating lineage with ONE job per iteration instead of two
        new_labels, new_handle = _truncate_lineage(new_labels, eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # the count above materialized new_labels' checkpoint AND took the
        # last read of the previous iteration's blocks — release them now
        # so cached iterations never accumulate (they'd otherwise pile up
        # until the ContextCleaner happens to GC the references)
        if prev_handle is not None:
            prev_handle.unpersist()
        prev_handle = new_handle
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} hash-to-min rounds"
        )

    # final labels are materialized on reliable storage; cached blocks are
    # a read-through optimization the caller doesn't need for correctness
    if prev_handle is not None:
        prev_handle.unpersist()
    if sym_handle is not None:
        sym_handle.unpersist()
    return labels.select(F.col("node").alias("conv_id"), F.col("label").alias("cluster_id"))


def incremental_update(
    existing: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Merge a NEW batch into an existing assignment without re-clustering
    the corpus — the daily-increment path a 100 TB pipeline actually runs.

    Inputs: ``existing`` = committed (conv_id, cluster_id) assignments,
    ``new_edges`` = verified dup pairs touching the new batch (new↔new and
    new↔old), ``new_ids`` = every id in the new batch.  Output: the full
    updated assignment (old ∪ new ids).

    Equivalence argument (tested against full recompute): each existing
    cluster is contracted to its REPRESENTATIVE node — valid because
    cluster_id == min(member ids), so (a) connectivity through any old
    member is preserved by routing edges to its rep, and (b) the min over
    a merged component of reps and new ids equals the min over all
    underlying members.  CC therefore runs on a graph whose size is
    O(new edges + touched clusters), not O(corpus); new docs bridging two
    old clusters correctly relabel BOTH (all members move to the joint
    min), exactly as a full recompute would.
    """
    ex = existing.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_rep"))
    # route each new edge endpoint to its existing rep (new ids pass through)
    routed = (
        new_edges.select("conv_a", "conv_b")
        .join(ex.withColumnRenamed("_id", "conv_a").withColumnRenamed("_rep", "rep_a"), "conv_a", "left")
        .join(ex.withColumnRenamed("_id", "conv_b").withColumnRenamed("_rep", "rep_b"), "conv_b", "left")
        .select(
            F.coalesce("rep_a", "conv_a").alias("conv_a"),
            F.coalesce("rep_b", "conv_b").alias("conv_b"),
        )
        .filter(F.col("conv_a") != F.col("conv_b"))
    )
    comp = connected_components(routed)  # (conv_id=node, cluster_id=new label)
    relabel = comp.select(F.col("conv_id").alias("_rep"), F.col("cluster_id").alias("_new"))
    # old assignments: relabel clusters whose rep was touched, keep the rest
    updated_old = (
        ex.join(relabel, "_rep", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("_new", "_rep").alias(cluster_col),
        )
    )
    # new ids: component label if touched by an edge, else self-cluster
    updated_new = (
        new_ids.select(F.col(id_col).alias("conv_id"))
        .join(comp.withColumnRenamed("cluster_id", "_new"), "conv_id", "left")
        .select(
            F.col("conv_id").alias(id_col),
            F.coalesce("_new", F.col("conv_id")).alias(cluster_col),
        )
    )
    return updated_old.unionByName(updated_new)


def cluster_assignments(
    all_ids: DataFrame,
    edges: DataFrame,
    id_col: str = "conv_id",
) -> DataFrame:
    """Every id gets a cluster: components for nodes in the dup graph,
    self-cluster (singleton) otherwise — left join, no second shuffle
    structure beyond the CC output."""
    comp = connected_components(edges)
    return (
        all_ids.select(F.col(id_col).alias("conv_id"))
        .join(comp, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
        )
    )

"""Large-graph connected-components datapoint (VERDICT r2 #8): ~6M-edge
synthetic path graph (diameter 1000 per component) through the
DISTRIBUTED pointer-jumping branch, with reliable checkpoints on.

Path segments are adversarial for label propagation (plain hash-to-min
needs O(diameter)=1000 rounds); pointer jumping must converge in
~log2(1000) ~= 10.  Full-result correctness is asserted, not sampled:
every node's cluster must equal its segment head.

Usage: SPARK_GRAFT_CPUS=<cores> python tools/bench_cc_large.py [n_nodes] [seg_len]
Prints one JSON line for BENCH.md.
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wdedup_spark.operators import cluster
from wdedup_spark.session import spark_session


def main() -> None:
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    seg = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    # session default: local[$SPARK_GRAFT_CPUS], so small hosts are not
    # oversubscribed
    spark = spark_session(app_name="cc-large")
    spark.sparkContext.setLogLevel("ERROR")
    ckpt = tempfile.mkdtemp(prefix="cc-ckpt-")
    spark.sparkContext.setCheckpointDir(ckpt)

    edges = (
        spark.range(n_nodes - 1)
        .filter((F.col("id") + 1) % seg != 0)
        .select(F.col("id").alias("conv_a"), (F.col("id") + 1).alias("conv_b"))
    )
    n_edges = edges.count()  # materialize outside timing
    t0 = time.perf_counter()
    comp = cluster.connected_components(edges)
    # full-result check: BOTH no node may be dropped (every node appears
    # in an edge, so all n_nodes must come back labeled) and no present
    # row may carry a wrong label
    n_out = comp.count()
    bad = comp.filter(
        F.col("cluster_id") != (F.col("conv_id") - F.pmod(F.col("conv_id"), F.lit(seg)))
    ).count()
    wall = time.perf_counter() - t0
    bad += abs(n_out - n_nodes)
    print(json.dumps({
        "n_nodes": n_nodes, "n_edges": n_edges, "segment_diameter": seg,
        "wall_s": round(wall, 1), "wrong_labels": bad,
        "checkpoint": "reliable (dir set)",
    }))
    assert bad == 0, "CC produced wrong labels"


if __name__ == "__main__":
    main()

"""Sandbox scaling-CEILING calibration — decides whether the pipeline's
measured N→4N efficiency (0.604 at 19.4M turns, bench_scaling_1x8_4x8.json)
is capped by the DATAFLOW or by the BOX (VERDICT r3 next-round #1).

The open question: BASELINE.json demands >=0.8 efficiency from N to 4N
executors.  The pipeline measures 0.604 under the pinned multi-JVM
protocol, and the residual gap was *argued* (not shown) to be the one-box
sandbox — 5 JVMs sharing one machine's memory bandwidth, LLC, and disk.
This tool runs the falsification experiment: two SHUFFLE-FREE,
embarrassingly parallel jobs through the exact same protocol
(local-cluster[W,C,mem], taskset core pinning, steal-gated best-of-N):

* ``sign``  — the pipeline's dominant Python stage (the fused
  shingle+MinHash+SimHash+anchor kernel) over pre-assembled exact-dedup
  reps, scan → pandas UDF → noop write.  No exchange, no ledger, no
  barrier: if THIS caps below ~0.8, nothing built from it can reach 0.8
  on this box, and the measured cap IS the machine ceiling for
  memory-traffic-bearing work.
* ``alu``   — cache-resident numpy matmul loop (256×256 float64 ≈ 0.5 MB
  working set, BLAS pinned to 1 thread), fixed total FLOPs split over
  cores×6 tasks.  Near-zero DRAM pressure: isolates scheduler/JVM
  overhead from memory bandwidth.  If alu scales ~1.0 while sign caps,
  the ceiling is specifically shared memory bandwidth — a property a
  real multi-node cluster does not have.

Interpretation contract (recorded in BENCH.md):
  eff(alu) ~ 1.0, eff(sign) << 1      → box memory-bandwidth ceiling;
                                        report pipeline eff / sign eff
                                        as efficiency-vs-ceiling.
  eff(alu) << 1                        → box scheduler/CPU ceiling (even
                                        purer compute can't scale here).
  eff(sign) >= ~0.9                    → REAL dataflow headroom: the
                                        pipeline's barriers/shuffles are
                                        the gap; attack those next.

Usage: python tools/bench_ceiling.py [1x8] [4x8]
Env:   SCALE_INPUT_DIR   turns parquet (default /tmp/scale-input-20m)
       SCALE_REPS_DIR    pre-assembled reps cache (default
                         /tmp/scale-reps-20m; built once if missing)
       CEIL_EXECUTOR_MEM_MB (default 8192)
Writes history/bench_ceiling_{low}_{high}.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIGN_WORKER = """
import json, os, sys, tempfile, time
sys.path.insert(0, {repo!r})
from wdedup_spark.session import spark_session
from wdedup_spark.operators.minhash import add_signatures

spec, src = sys.argv[1], sys.argv[2]
w, c = spec.split("x")
total = int(w) * int(c)
mem_mb = int(os.environ.get("CEIL_EXECUTOR_MEM_MB", "8192"))
spark = spark_session(
    app_name=f"ceil-sign-{{spec}}",
    master=f"local-cluster[{{w}},{{c}},{{mem_mb}}]",
    shuffle_partitions=total * 2,
    extra_conf={{"spark.executor.memory": f"{{mem_mb - 1024}}m",
                 "spark.driver.memory": "12g"}},
)
import shutil as _sh
zip_base = tempfile.mkdtemp(prefix="pyfiles-") + "/wdedup_spark"
_sh.make_archive(zip_base, "zip", {repo!r}, "wdedup_spark")
spark.sparkContext.addPyFile(zip_base + ".zip")
reps = spark.read.parquet(src)
n = reps.count()  # warm the scan
t0 = time.perf_counter()
# the real pipeline sign kernel, identical config, NO exchange:
# file-partitioned scan -> fused pandas UDF -> noop write
signed = add_signatures(reps, "doc", k=3, n_perms=128, seed=42,
                        enable_simhash=True, enable_substring=True)
signed.drop("doc").write.mode("overwrite").format("noop").save()
wall = time.perf_counter() - t0
print(json.dumps({{"job": "sign", "spec": spec, "cpus": total, "n_rows": n,
                   "wall_s": round(wall, 3),
                   "rows_per_sec": round(n / wall, 1)}}))
"""

ALU_WORKER = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from wdedup_spark.session import spark_session

spec = sys.argv[1]
w, c = spec.split("x")
total = int(w) * int(c)
mem_mb = int(os.environ.get("CEIL_EXECUTOR_MEM_MB", "8192"))
spark = spark_session(
    app_name=f"ceil-alu-{{spec}}",
    master=f"local-cluster[{{w}},{{c}},{{mem_mb}}]",
    shuffle_partitions=total * 2,
    extra_conf={{"spark.executor.memory": f"{{mem_mb - 1024}}m",
                 "spark.driver.memory": "4g"}},
)
# FIXED total work regardless of level within a pair (CEIL_ALU_TASKS
# scales it for smaller core pairs), each task ~8 s of cache-resident
# matmul (smoke-calibrated: ITERS=320 = ~2.1 s/task single-thread)
N_TASKS = int(os.environ.get("CEIL_ALU_TASKS", "192"))
ITERS = 1280
def work(batches):
    import numpy as np
    for pdf in batches:
        import pandas as pd
        out = []
        for _ in range(len(pdf)):
            a = np.full((256, 256), 0.001)
            for _ in range(ITERS):
                a = a @ a * 1e-6 + 0.001
            out.append(float(a[0, 0]))
        yield pd.DataFrame({{"x": out}})
df = spark.range(N_TASKS, numPartitions=N_TASKS).mapInPandas(work, "x double")
t0 = time.perf_counter()
df.write.mode("overwrite").format("noop").save()
wall = time.perf_counter() - t0
print(json.dumps({{"job": "alu", "spec": spec, "cpus": total,
                   "n_rows": N_TASKS, "wall_s": round(wall, 3),
                   "rows_per_sec": round(N_TASKS / wall, 1)}}))
"""


def _total_cores(spec: str) -> int:
    w, c = spec.split("x")
    return int(w) * int(c)


def _prep_reps(src: str, reps_dir: str) -> None:
    """Assemble + exact-dedup ONCE (any session shape — prep, not
    measurement) so the calibration job is scan → sign → noop with no
    exchange.  256 output files give both levels identical task splits."""
    if os.path.isdir(reps_dir) and os.path.exists(os.path.join(reps_dir, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    sys.path.insert(0, REPO)
    from wdedup_spark.operators.assemble import assemble_conversations
    from wdedup_spark.operators.exact import add_fingerprint
    from wdedup_spark.session import spark_session

    spark = spark_session(app_name="ceil-prep", master="local[32]",
                          extra_conf={"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")
    turns = spark.read.parquet(src)
    conv = add_fingerprint(assemble_conversations(turns), "doc")
    reps = conv.groupBy("fp").agg(
        F.min("conv_id").alias("conv_id"), F.min("doc").alias("doc")
    ).select("conv_id", "doc")
    # deterministic hash sample: walls of ~minutes at 1x8 / ~1 min at 4x8
    # amortize fixed overhead without multi-attempt runs taking hours
    frac_den = int(os.environ.get("CEIL_FRACTION_DEN", "2"))
    if frac_den > 1:
        reps = reps.filter(F.pmod(F.xxhash64("conv_id"), F.lit(frac_den)) == 0)
    reps.repartition(256).write.mode("overwrite").parquet(reps_dir)
    spark.stop()


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main() -> None:
    n_low = sys.argv[1] if len(sys.argv) > 1 else "1x8"
    n_high = sys.argv[2] if len(sys.argv) > 2 else "4x8"
    jobs = os.environ.get("CEIL_JOBS", "sign,alu").split(",")
    src = os.environ.get("SCALE_INPUT_DIR", "/tmp/scale-input-20m")
    reps_dir = os.environ.get("SCALE_REPS_DIR", "/tmp/scale-reps-20m")
    if "sign" in jobs:
        _prep_reps(src, reps_dir)

    CLEAN_STEAL = int(os.environ.get("SCALE_CLEAN_STEAL_JIFFIES", "2500"))
    MAX_ATTEMPTS = int(os.environ.get("SCALE_MAX_ATTEMPTS", "4"))
    env = dict(os.environ,
               OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1",
               MKL_NUM_THREADS="1")  # one BLAS thread per task: parallelism
    # comes from Spark tasks, and an unpinned BLAS pool would let the
    # "8-core" level silently use more threads than its core budget

    results: dict = {}
    for job, worker, args in (
        ("sign", SIGN_WORKER.format(repo=REPO), [reps_dir]),
        ("alu", ALU_WORKER.format(repo=REPO), []),
    ):
        if job not in jobs:
            continue
        for spec in (n_low, n_high):
            clean: list = []
            allr: list = []
            for _ in range(MAX_ATTEMPTS):
                os.sync()
                time.sleep(5)
                s0 = _steal()
                cmd = [sys.executable, "-c", worker, spec] + args
                if os.environ.get("SCALE_PIN_CPUS", "1") != "0" and shutil.which("taskset"):
                    cmd = ["taskset", "-c", f"0-{_total_cores(spec) - 1}"] + cmd
                out = subprocess.run(cmd, capture_output=True, text=True,
                                     timeout=3600, env=env)
                lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
                if not lines:
                    print(out.stdout[-2000:], out.stderr[-2000:], file=sys.stderr)
                    raise SystemExit(f"worker failed: {job} {spec}")
                r = json.loads(lines[-1])
                r["steal_jiffies"] = _steal() - s0
                print(r)
                allr.append(r)
                if r["steal_jiffies"] <= CLEAN_STEAL:
                    clean.append(r)
                if len(clean) >= 2:
                    break
            pool = clean or allr
            results[(job, spec)] = min(pool, key=lambda x: x["wall_s"])

    ratio = _total_cores(n_high) / _total_cores(n_low)
    summary = {
        "protocol": f"shuffle-free calibration, local-cluster {n_low} vs {n_high}, "
                    "taskset-pinned, steal-gated best-of-N, BLAS pinned to 1 thread",
        "jobs": {},
    }
    for job in [j for j in ("sign", "alu") if j in jobs]:
        lo, hi = results[(job, n_low)], results[(job, n_high)]
        summary["jobs"][job] = {
            f"wall_s_{n_low}": lo["wall_s"],
            f"wall_s_{n_high}": hi["wall_s"],
            f"throughput_{n_low}": lo["rows_per_sec"],
            f"throughput_{n_high}": hi["rows_per_sec"],
            "speedup": round(lo["wall_s"] / hi["wall_s"], 3),
            "scaling_efficiency": round(lo["wall_s"] / hi["wall_s"] / ratio, 3),
        }
    print(json.dumps(summary))
    with open(os.path.join(REPO, "history", f"bench_ceiling_{n_low}_{n_high}.json"), "w") as f:
        f.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()

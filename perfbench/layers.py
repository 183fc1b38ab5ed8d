"""Per-layer instruments for the traced run.

* ``StageTracer`` wraps ``StageLedger.run``/``run_ranged`` from outside
  the engine: one span (stage, start, end) per pipeline stage call.
* ``spark_jobs``/``stage_layers`` read Spark's status store after a run
  and attribute jobs, and the Spark stages they ran, to the span their
  submission time falls in.  Submission time, not job group: ranged
  stages submit from worker threads, which job groups would miss.
* ``kernel_rates`` times the public Arrow kernels on one core outside
  Spark; ``funnel`` counts the committed outputs of one run;
  ``PeakRss`` samples the process tree's resident memory from /proc;
  ``probe_rate`` is a fixed numpy machine-speed probe.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import threading
import time

from measure import self_time, task_skew

#: ledger stage -> layer; stages not listed are their own layer
LAYER_OF = {"prefix_corpus": "prefix", "prefix_bounds": "prefix"}
LAYERS = ["assemble", "exact", "prefix", "sign", "candidates", "verify", "containment", "cluster"]
STAGE_METRICS = {
    "span_s": "s",
    "driver_s": "s",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "rows": "rows",
}
MB = 1e6


class StageTracer:
    """Context manager: while active, every ``StageLedger.run`` and
    ``StageLedger.run_ranged`` call appends a span to ``self.spans``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def __enter__(self) -> "StageTracer":
        from wdedup_spark.sources.ledger import StageLedger

        self._orig = {n: StageLedger.__dict__[n] for n in ("run", "run_ranged")}
        for name, fn in self._orig.items():
            setattr(StageLedger, name, self._wrap(fn))
        return self

    def __exit__(self, *exc) -> None:
        from wdedup_spark.sources.ledger import StageLedger

        for name, fn in self._orig.items():
            setattr(StageLedger, name, fn)

    def _wrap(self, fn):
        spans = self.spans

        @functools.wraps(fn)
        def traced(ledger, spark, stage, *args, **kwargs):
            start = time.time()
            try:
                return fn(ledger, spark, stage, *args, **kwargs)
            finally:
                spans.append({"stage": stage, "start": start, "end": time.time()})

        return traced


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def spark_jobs(spark, lo: float, hi: float) -> list[dict]:
    """Jobs submitted in ``[lo, hi]`` (epoch seconds), newest first, with
    their interval and Spark stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(spark._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):  # the store lists newest jobs first
        job = jobs.apply(i)
        sub = job.submissionTime()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1000.0
        if start < lo - 5.0:
            break  # jobs from worker threads may interleave by a little
        if not lo <= start <= hi:
            continue
        done = job.completionTime()
        end = done.get().getTime() / 1000.0 if done.isDefined() else hi
        out.append(
            {"job": job.jobId(), "start": start, "end": end, "stages": _seq(job.stageIds())}
        )
    return out


def _stage_data(spark, stage_id: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None  # evicted from the status store
    sub = sd.submissionTime()
    if not sub.isDefined():
        return None  # never submitted: skipped in every job that listed it
    quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    med_ms = max_ms = 0.0
    dist = store.taskSummary(stage_id, sd.attemptId(), quantiles)
    if dist.isDefined():
        run = dist.get().executorRunTime()
        med_ms, max_ms = float(run.apply(0)), float(run.apply(1))
    return {
        "start": sub.get().getTime() / 1000.0,
        "run_ms": sd.executorRunTime(),
        "cpu_ns": sd.executorCpuTime(),
        "shuffle_read": sd.shuffleReadBytes(),
        "shuffle_write": sd.shuffleWriteBytes(),
        "spill": sd.diskBytesSpilled(),
        "skew": task_skew(med_ms, max_ms) if dist.isDefined() else 1.0,
    }


def stage_layers(spark, spans: list[dict], jobs: list[dict], rows: dict[str, int]) -> dict:
    """Per-layer metrics of one traced run: span time, driver self time
    (span minus the union of its jobs' intervals), executor run and CPU
    time, shuffle and spill of the Spark stages those jobs ran, the task
    skew of the layer's heaviest Spark stage, and committed rows.  A layer
    that did not run reads 0 throughout.

    Spark stages are attributed by their own submission time, so a
    shuffle stage that a later job reuses (skipped there) counts once, in
    the span that ran it."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in STAGE_METRICS}
    stages = [
        sd
        for sid in sorted({s for j in jobs for s in j["stages"]})
        if (sd := _stage_data(spark, sid)) is not None
    ]
    heaviest: dict[str, int] = {}
    for span in spans:
        layer = LAYER_OF.get(span["stage"], span["stage"])
        if layer not in LAYERS:
            continue
        mine = [j for j in jobs if span["start"] <= j["start"] <= span["end"]]
        out[f"{layer}.span_s"] += span["end"] - span["start"]
        out[f"{layer}.driver_s"] += self_time(
            span["start"], span["end"], [(j["start"], j["end"]) for j in mine]
        )
        out[f"{layer}.rows"] += rows.get(span["stage"], 0)
        for sd in stages:
            if not span["start"] <= sd["start"] <= span["end"]:
                continue
            out[f"{layer}.exec_run_s"] += sd["run_ms"] / 1000.0
            out[f"{layer}.exec_cpu_s"] += sd["cpu_ns"] / 1e9
            out[f"{layer}.shuffle_read_mb"] += sd["shuffle_read"] / MB
            out[f"{layer}.shuffle_write_mb"] += sd["shuffle_write"] / MB
            out[f"{layer}.spill_mb"] += sd["spill"] / MB
            if sd["run_ms"] >= heaviest.get(layer, -1):
                heaviest[layer] = sd["run_ms"]
                out[f"{layer}.task_skew"] = sd["skew"]
    return out


def _read(workdir: str, stage: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(workdir, stage), columns=columns)


def funnel(workdir: str, has_containment: bool) -> dict:
    """Counts read from one run's committed outputs (no Spark jobs)."""
    import pyarrow.compute as pc

    cands = _read(workdir, "candidates", ["via"])
    via = pc.value_counts(pc.list_flatten(cands["via"])).to_pylist()
    per_channel = {v["values"]: v["counts"] for v in via}
    verified = _read(workdir, "verify", ["conv_a"]).num_rows
    clusters = _read(workdir, "cluster", ["cluster_id"]).to_pandas()["cluster_id"]
    sizes = clusters.value_counts()
    out = {
        "funnel.distinct_docs": _read(workdir, "exact", ["rep_id"]).num_rows,
        "funnel.cand_pairs": cands.num_rows,
        "funnel.cand_minhash": per_channel.get("minhash", 0),
        "funnel.cand_simhash": per_channel.get("simhash", 0),
        "funnel.cand_substring": per_channel.get("substring", 0),
        "funnel.verified_pairs": verified,
        "funnel.verify_yield": verified / cands.num_rows if cands.num_rows else 0.0,
        "funnel.containment_pairs": (
            _read(workdir, "containment", ["conv_a"]).num_rows if has_containment else 0
        ),
        "funnel.clusters": int((sizes > 1).sum()),
        "funnel.largest_cluster": int(sizes.max()),
    }
    return out


#: fixed slice sizes of the kernel micro-bench (docs for sign, pairs for
#: the pair kernels); common_run is ~10x slower per pair than the rest
KERNEL_SLICE = {"sign": 400, "jaccard": 2000, "common_run": 200, "containment": 2000}


def _rate(n: int, fn, min_s: float = 0.3) -> float:
    """Items per second over repeated calls lasting at least ``min_s``."""
    calls, t0 = 0, time.perf_counter()
    while calls < 2 or time.perf_counter() - t0 < min_s:
        fn()
        calls += 1
    return n * calls / (time.perf_counter() - t0)


def kernel_rates(workdir: str, cfg) -> dict:
    """Items per second of each public Arrow kernel on one core, called
    directly (``.func``) on a fixed slice of the run's committed docs and
    candidate pairs.  Needs an active SparkContext: ``sign_udf`` parses
    its DDL return type when built."""
    from wdedup_spark.operators.containment import containment_udf
    from wdedup_spark.operators.minhash import sign_udf
    from wdedup_spark.operators.substring import common_run_udf
    from wdedup_spark.operators.verify import jaccard_udf

    docs = _read(workdir, "exact", ["rep_id", "doc"]).to_pandas()
    docs = docs.sort_values("rep_id").set_index("rep_id")["doc"]
    shingles = _read(workdir, "sign", ["conv_id", "shingles"]).to_pandas()
    shingles = shingles.set_index("conv_id")["shingles"]
    pairs = _read(workdir, "candidates", ["conv_a", "conv_b"]).to_pandas()
    pairs = pairs.sort_values(["conv_a", "conv_b"]).reset_index(drop=True)

    sign = sign_udf(
        cfg.k, cfg.n_perms, cfg.seed, cfg.enable_simhash, cfg.enable_substring,
        cfg.substring_k, cfg.substring_w,
    ).func
    sign_docs = docs.iloc[: KERNEL_SLICE["sign"]].reset_index(drop=True)

    def side(values, kind: str, col: str):
        p = pairs.iloc[: KERNEL_SLICE[kind]]
        return values.loc[p[col]].reset_index(drop=True)

    sa, sb = side(shingles, "jaccard", "conv_a"), side(shingles, "jaccard", "conv_b")
    ca, cb = side(shingles, "containment", "conv_a"), side(shingles, "containment", "conv_b")
    da, db = side(docs, "common_run", "conv_a"), side(docs, "common_run", "conv_b")
    return {
        "kernel.sign_docs_per_s": _rate(len(sign_docs), lambda: sign(sign_docs)),
        "kernel.jaccard_pairs_per_s": _rate(len(sa), lambda: jaccard_udf.func(sa, sb)),
        "kernel.common_run_pairs_per_s": _rate(len(da), lambda: common_run_udf.func(da, db)),
        "kernel.containment_pairs_per_s": _rate(
            len(ca), lambda: containment_udf.func(ca, cb)
        ),
    }


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) from /proc while active."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            if self._stop.wait(self.interval):
                return


_PROBE = """
import time
import numpy as np
rng = np.random.default_rng(0)
A = rng.random((256, 256)); B = rng.random((256, 256))
M = rng.random(1024 * 1024)
n, t0 = 0, time.perf_counter()
while time.perf_counter() - t0 < {secs}:
    A @ B
    M += 1.0
    n += 1
print(n / (time.perf_counter() - t0))
"""


def probe_rate(secs: float = 1.0) -> float:
    """Iterations per second of a fixed single-threaded numpy kernel (one
    cache-resident matmul and one 8 MB streaming pass), for comparing
    runs made in different time windows."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    res = subprocess.run(
        [sys.executable, "-c", _PROBE.format(secs=secs)],
        env=env, capture_output=True, text=True, timeout=60, check=True,
    )
    return float(res.stdout.strip().splitlines()[-1])


def write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)

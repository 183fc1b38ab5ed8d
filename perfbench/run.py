"""Transcript-dedup benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in a fresh ``local[<cpus>]`` session from this one
process, driving only the engine's public surfaces
(``synth.generate_transcripts``, ``run_pipeline``, ``StageLedger``).
The runs form a closed loop with one client: each run starts when the
previous run's clusters have been forced with a ``noop`` write.

Set-up ends with a cold warm-up run on the real input.  ``--trace 0``
then measures the end-to-end metrics over steady-state runs for
``--seconds``, at least one.  ``--trace 1`` alternates untraced
and traced runs (each traced run between two untraced ones) for
``--seconds``, and reports the per-layer metrics
of the median traced run, the Arrow kernel rates and the dedup funnel.
Every run is gated on dup-pair recall against the generator's planted
pairs.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the spans and per-run
figures are written to ``.bench_work/`` at the end.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

RECALL_BAR = 0.99
#: input generation and materialization are repeated this many times in
#: an untraced invocation and the median is reported; session start,
#: worker warm-up and the warm-up run happen once.  A traced invocation
#: reports no setup_s and generates its input once.
SETUP_REPS = 3
#: Spark's codegen cache holds 100 generated classes by default; one
#: batch_lowdup run compiles 141, so every run recompiled all of them and the
#: JVM stayed on a JIT warm-up curve (13.6 -> 8.2 s over 8 runs).  With room
#: for every class, runs after the warm-up compile none and are steady.
CODEGEN_CACHE_ENTRIES = 2000
RUN_TIMEOUT_S = 75.0
#: no new run starts after this many seconds of the invocation, so a slow
#: window still ends well inside the 180 s limit
START_DEADLINE_S = 110.0


@dataclass(frozen=True)
class Workload:
    gen: dict  # generate_transcripts arguments, besides the seed
    cfg: dict = field(default_factory=dict)  # PipelineConfig overrides


# Sizes are set for a 4-core host so that one untraced invocation (session,
# set-up, warm-up run, one steady run) stays near one minute; at these
# sizes the pipeline's fixed per-job cost (32 or 52 Spark jobs per run) is
# a large share of the wall.  A near-edit copy can fall below the verify
# threshold, so a workload needs about 100 planted pairs for its recall to
# stay >= RECALL_BAR: batch_lowdup plants 12% copies, not 6% (50 pairs, one
# miss fails), and batch_dupheavy has 500 base conversations, not 200 (one
# seed in ten missed 2 of 167 pairs).
WORKLOADS = {
    # the default config, which is what `cli dedup` runs
    "batch_lowdup": Workload(gen={"n_base": 1000, "dup_frac": 0.12}),
    # `cli dedup --prefix --containment`
    "batch_dupheavy": Workload(
        gen={"n_base": 500, "dup_frac": 1.0, "hot_prefix_frac": 0.3},
        cfg={"enable_prefix": True, "enable_containment": True},
    ),
}


def pin_environment() -> dict:
    """Fix the settings the engine reads from the environment, before the
    JVM starts, and return them for the output."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gib = mem_kib / 2**20
    # Spark's scratch space stays inside the checkout, like every other
    # file the benchmark writes
    local_dirs = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 48g default is for a large host; these inputs need
        # little heap, and a quarter of the host at most leaves the rest
        # to the Python workers and to other tenants
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(mem_gib // 4)))}g",
        # Python UDF workers import wdedup_spark from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)  # engine default
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    return {"env": env, "extra_conf": conf, "host_cpus": cpus, "host_mem_gib": round(mem_gib, 2)}


def warm_up(spark) -> None:
    """Start the Python worker pool on every core."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(x):
        return x

    n = spark.sparkContext.defaultParallelism
    spark.range(1000, numPartitions=n).select(_ident("id")).write.format("noop").mode(
        "overwrite"
    ).save()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def codegen_compiles(spark) -> tuple[int, float]:
    """Generated classes compiled so far in this JVM and their total
    compile time in seconds (exact while under the histogram's 1028-sample
    reservoir)."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return hist.getCount(), sum(hist.getSnapshot().getValues()) / 1000


def _cached_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


class Runner:
    def __init__(self, name: str, seed: int, settings: dict, trace: bool) -> None:
        from wdedup_spark.plans.pipeline import PipelineConfig
        from wdedup_spark.session import spark_session

        self.name, self.seed, self.trace = name, seed, trace
        self.wl = WORKLOADS[name]
        self.cfg = PipelineConfig(**self.wl.cfg)
        t0 = time.perf_counter()
        self.spark = spark_session(
            app_name=f"perfbench-{name}", extra_conf=settings["extra_conf"]
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_up(self.spark)
        self.warm_s = time.perf_counter() - t0
        self.setup_reps: list[float] = []
        reps = 1 if trace else SETUP_REPS
        for i in range(reps):
            before = _cached_rdds(self.spark)
            t0 = time.perf_counter()
            self._materialize()
            self.setup_reps.append(time.perf_counter() - t0)
            if i < reps - 1:  # only the last copy stays cached
                for rid, rdd in _cached_rdds(self.spark).items():
                    if rid not in before:
                        rdd.unpersist(True)
        self.runs: list[dict] = []
        c0 = codegen_compiles(self.spark)
        t0 = time.perf_counter()
        self._warm_pipeline()
        self.warm_run_s = time.perf_counter() - t0
        c1 = codegen_compiles(self.spark)
        self.warm_compiles, self.warm_compile_s = c1[0] - c0[0], c1[1] - c0[1]

    def _materialize(self) -> None:
        """Generate the inputs and materialize the turns in the session."""
        from wdedup_spark import synth

        res = synth.generate_transcripts(seed=self.seed, **self.wl.gen)
        self.turns = synth.to_spark(self.spark, res).localCheckpoint(eager=True)
        self.n_turns = len(res.transcripts)
        self.pairs = list(zip(res.oracle_pairs["conv_a"], res.oracle_pairs["conv_b"]))

    def _warm_pipeline(self) -> None:
        """Run the pipeline once, cold, on the real input, so that the timed
        runs find every generated class compiled, a warmer JVM and Python
        workers that have imported the kernels.  A warm-up on a smaller
        input plans some joins differently, which the first timed run then
        compiles."""
        from wdedup_spark.plans.pipeline import run_pipeline

        workdir = os.path.join(WORK, f"{self.name}-{self.seed}-warm")
        shutil.rmtree(workdir, ignore_errors=True)
        out = run_pipeline(self.spark, self.turns, workdir, self.cfg)
        out["clusters"].write.mode("overwrite").format("noop").save()
        shutil.rmtree(workdir, ignore_errors=True)

    @property
    def setup_s(self) -> float:
        from measure import summary

        return self.start_s + self.warm_s + summary(self.setup_reps)["median"] + self.warm_run_s

    def run(self, traced: bool = False, keep: bool = False) -> dict:
        """One pipeline run into a fresh workdir, forced, then gated."""
        from layers import StageTracer, spark_jobs
        from measure import pair_recall, unplanted_pairs
        from wdedup_spark.plans.pipeline import run_pipeline

        idx = len(self.runs)
        workdir = os.path.join(WORK, f"{self.name}-{self.seed}-{idx}")
        shutil.rmtree(workdir, ignore_errors=True)
        rec = {"idx": idx, "traced": traced, "ok": False, "workdir": workdir}
        self.runs.append(rec)
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(RUN_TIMEOUT_S, cancel)
        tracer = StageTracer() if traced else nullcontext()
        timer.start()
        try:
            with tracer:
                w0, t0 = time.time(), time.perf_counter()
                out = run_pipeline(self.spark, self.turns, workdir, self.cfg)
                out["clusters"].write.mode("overwrite").format("noop").save()
                rec["wall_s"], w1 = time.perf_counter() - t0, time.time()
        except Exception:
            rec["error"] = "timeout" if timed_out.is_set() else traceback.format_exc(limit=3)
            print(f"[perfbench] run {idx} failed: {rec['error']}", file=sys.stderr)
            shutil.rmtree(workdir, ignore_errors=True)
            return rec
        finally:
            timer.cancel()
        rec.update(start=w0, end=w1, rows={
            e["stage"]: e["rows"] for e in out["ledger"].entries if "rows" in e
        })
        if traced:
            rec["spans"] = tracer.spans
        if self.trace:
            rec["jobs"] = spark_jobs(self.spark, w0, w1)
        clusters = _cluster_map(workdir)
        rec["recall"] = pair_recall(self.pairs, clusters)
        rec["unplanted"] = unplanted_pairs(self.pairs, clusters)
        rec["ok"] = rec["recall"] >= RECALL_BAR
        if not rec["ok"]:
            rec["error"] = f"recall {rec['recall']:.4f} < {RECALL_BAR}"
        if not keep:
            shutil.rmtree(workdir, ignore_errors=True)
        return rec


def _cluster_map(workdir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(workdir, "cluster"), columns=["conv_id", "cluster_id"])
    return dict(zip(t.column("conv_id").to_pylist(), t.column("cluster_id").to_pylist()))


def measure_end_to_end(r: Runner, seconds: float, t_begin: float) -> tuple[dict, list[str]]:
    from layers import PeakRss
    from measure import summary

    with PeakRss() as rss:
        steady = []
        t0 = time.perf_counter()
        while not steady or (
            time.perf_counter() - t0 < seconds
            and time.perf_counter() - t_begin < START_DEADLINE_S
        ):
            steady.append(r.run())
    walls = [x["wall_s"] for x in steady if x["ok"]]
    ok_runs = [x for x in r.runs if x["ok"]]
    notes = []
    metrics = {"setup_s": r.setup_s, "first_run_s": r.warm_run_s}
    if walls:
        s = summary(walls)
        metrics["wall_s"] = s["median"]
        metrics["turns_per_s"] = r.n_turns / s["median"]
        notes.append(
            f"wall_s samples={s['n']} median={s['median']:.3f} q1={s['q1']:.3f} q3={s['q3']:.3f}"
        )
    if ok_runs:
        metrics["dup_pair_recall"] = min(x["recall"] for x in ok_runs)
        metrics["unplanted_pairs"] = summary(x["unplanted"] for x in ok_runs)["median"]
    metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    return metrics, notes


def measure_layers(r: Runner, seconds: float, t_begin: float, probe: float) -> tuple[dict, list[str]]:
    from layers import funnel, kernel_rates, stage_layers
    from measure import bracketed_overhead, median_index, summary

    # U T U T U ...: each traced run sits between two untraced ones, so the
    # drift of a still-warming session cancels in its overhead.  On a slow
    # host the untraced run after the first traced one is skipped past the
    # start deadline, and the run before it stands in for both neighbours.
    seq = [r.run()]
    t0 = time.perf_counter()
    while len(seq) < 2 or (
        time.perf_counter() - t0 < seconds
        and time.perf_counter() - t_begin < START_DEADLINE_S
    ):
        seq.append(r.run(traced=True, keep=True))
        if time.perf_counter() - t_begin < START_DEADLINE_S:
            seq.append(r.run())
    traced = [x for x in seq if x["traced"]]
    plain = [x for x in seq if not x["traced"] and x["ok"]]
    good = [x for x in traced if x["ok"]]
    notes = []
    metrics: dict = {
        "session.start_s": r.start_s,
        "session.warm_s": r.warm_s,
        "host.probe_rate": probe,
        "codegen.first_run_classes": r.warm_compiles,
        "codegen.first_run_compile_s": r.warm_compile_s,
    }
    if good:
        rep = good[median_index([x["end"] - x["start"] for x in good])]
        wall = rep["end"] - rep["start"]
        metrics.update(stage_layers(r.spark, rep["spans"], rep["jobs"], rep["rows"]))
        metrics["pipeline.outside_s"] = wall - sum(s["end"] - s["start"] for s in rep["spans"])
        metrics["trace.wall_s"] = wall
        metrics.update(kernel_rates(rep["workdir"], r.cfg))
        metrics.update(funnel(rep["workdir"], r.cfg.enable_containment))
    bracketed = seq + [seq[-2]] if len(seq) % 2 == 0 else seq
    triples = [
        (bracketed[i - 1]["wall_s"], bracketed[i]["wall_s"], bracketed[i + 1]["wall_s"])
        for i in range(1, len(bracketed) - 1, 2)
        if all(x["ok"] for x in bracketed[i - 1:i + 2])
    ]
    if triples:
        metrics["trace.overhead_s"] = summary(bracketed_overhead(*t) for t in triples)["median"]
    plain_jobs = {len(x["jobs"]) for x in plain}
    for t in good:
        if plain_jobs and plain_jobs != {len(t["jobs"])}:
            t["ok"] = False
            t["error"] = f"traced run submitted {len(t['jobs'])} jobs, untraced {sorted(plain_jobs)}"
            print(f"[perfbench] {t['error']}", file=sys.stderr)
    notes.append(
        f"jobs per run: untraced {sorted(plain_jobs)}, traced {sorted(len(t['jobs']) for t in good)}"
    )
    notes.append(f"trace.overhead_s from {len(triples)} untraced/traced/untraced triples")
    for x in traced:
        shutil.rmtree(x["workdir"], ignore_errors=True)
    return metrics, notes


def load_metric_names(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "wdedup_spark", "plans", "pipeline.py")):
        print(f"[perfbench] no engine source under {ROOT}", file=sys.stderr)
        return 2
    names = load_metric_names(bool(args.trace))
    settings = pin_environment()
    sys.path.insert(0, ROOT)
    probe = None
    if args.trace:
        from layers import probe_rate

        probe = probe_rate()  # before the JVM starts: an idle-host reading

    r = Runner(args.workload, args.seed, settings, bool(args.trace))
    try:
        if args.trace:
            metrics, notes = measure_layers(r, args.seconds, t_begin, probe)
        else:
            metrics, notes = measure_end_to_end(r, args.seconds, t_begin)
    finally:
        stop_spark(r.spark)

    from layers import write_json

    attempted = len(r.runs)
    failed = sum(1 for x in r.runs if not x["ok"])
    missing = sorted(set(names) - set(metrics))
    wl = WORKLOADS[args.workload]
    write_json(
        os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {"args": vars(args), "workload": dataclasses.asdict(wl), "settings": settings,
         "setup_reps_s": r.setup_reps, "first_run_s": r.warm_run_s, "runs": r.runs,
         "metrics": metrics},
    )
    print(f"[perfbench] {args.workload} seed={args.seed} turns={r.n_turns} "
          f"gen={wl.gen} cfg={wl.cfg}")
    print(f"[perfbench] env {json.dumps(settings['env'])} extra_conf "
          f"{json.dumps(settings['extra_conf'])} host_mem_gib={settings['host_mem_gib']}")
    for line in notes:
        print(f"[perfbench] {line}")
    print(f"[perfbench] error_rate {failed / attempted:.4f} ratio ({failed}/{attempted} runs failed)")
    for name, unit in names.items():
        if name in metrics:
            print(f"[perfbench] {name} {metrics[name]:.6g} {unit}")
    if missing:
        print(f"[perfbench] missing metrics: {', '.join(missing)}", file=sys.stderr)
    result = {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in names.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

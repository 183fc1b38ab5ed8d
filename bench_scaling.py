"""Scaling-efficiency benchmark — the BASELINE.json N→4N protocol.

No real cluster exists in this sandbox, so (per the driver instruction)
the same job runs on the same input at two local parallelism levels (N vs
4N cores) in separate JVMs.  Throughput at both plus efficiency =
(T_N / T_4N) / 4 is reported and recorded in history/bench_scaling_{N}_{4N}.json;
BENCH.md summarizes.

The measured job is the full transcript dedup pipeline (assemble → exact
→ sign → candidates → verify → cluster) over a pre-materialized parquet
input, timed from first stage to final cluster materialization; Spark
session startup and data generation are excluded.

Caveat (documented in BENCH.md): both "cluster sizes" share ONE JVM and
one Python-worker pool in local mode; beyond ~16-20 threads that shared
runner saturates, which a real multi-executor cluster (separate JVMs,
separate python worker pools per executor) does not.  The primary
evidence pair is therefore 4 vs 16 cores; 8 vs 32 is reported alongside.

Round 2 adds MULTI-JVM specs: an argument of the form ``WxC`` runs
``local-cluster[W,C,4096]`` — W separate executor JVMs with C cores each,
each with its own python worker pool.  ``1x8`` vs ``4x8`` is the honest
"N executors vs 4N executors" evidence pair (separate JVMs remove the
shared-runner saturation caveat below).

Round 2 also PINS each level to its physical core budget with
``taskset -c 0-(cores-1)`` (SCALE_PIN_CPUS=0 disables): an unpinned
"8-core" local run leaks JVM GC / shuffle / python-worker threads onto
every idle core of the 32-core host, so the low level was silently using
far more than N cores — measured consequence: unpinned 4x8 ran SLOWER
than 1x8 (efficiency 0.195, meaningless).  Pinned runs emulate real
cluster nodes where executor JVM + its python workers share exactly the
node's cores.

Usage: python bench_scaling.py [n_convs] [N] [4N]   (default 12000 8 32)
       python bench_scaling.py 50000 1x8 4x8        (multi-JVM N->4N)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

WORKER = """
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from wdedup_spark.session import spark_session
from wdedup_spark.plans.pipeline import PipelineConfig, run_pipeline

spec = sys.argv[1]
src = sys.argv[2]
if "x" in spec:
    # multi-JVM: spec "WxC" -> local-cluster[W,C,mem]: W separate executor
    # JVMs with C cores each, each with its OWN python worker pool — the
    # honest N->4N *executors* analog (vs thread scaling in one JVM)
    w, c = spec.split("x")
    total = int(w) * int(c)
    mem_mb = int(os.environ.get("SCALE_EXECUTOR_MEM_MB", "4096"))
    master = f"local-cluster[{{w}},{{c}},{{mem_mb}}]"
    extra = {{"spark.executor.memory": f"{{mem_mb - 1024}}m",
              "spark.driver.memory": "12g"}}
else:
    total = int(spec)
    master = f"local[{{spec}}]"
    extra = {{}}
spark = spark_session(app_name=f"scale-{{spec}}", master=master,
                      shuffle_partitions=max(total, 8) * 2, extra_conf=extra)
cpus = total
if "x" in spec:
    # executor JVMs are separate processes: ship the package the way a real
    # cluster run does (north_rule: spark-submit --py-files wdedup_spark.zip)
    import shutil as _sh
    zip_base = tempfile.mkdtemp(prefix="pyfiles-") + "/wdedup_spark"
    _sh.make_archive(zip_base, "zip", {repo!r}, "wdedup_spark")
    spark.sparkContext.addPyFile(zip_base + ".zip")
turns = spark.read.parquet(src)
n_turns = turns.count()  # warm the scan
workdir = tempfile.mkdtemp(prefix=f"scale-{{cpus}}-")
try:
    t0 = time.perf_counter()
    out = run_pipeline(spark, turns, workdir, PipelineConfig())
    out["clusters"].write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    stages = {{s: m["wall_s"] for s, m in out["ledger"].metrics().items()}}
finally:
    shutil.rmtree(workdir, ignore_errors=True)
print(json.dumps({{"spec": spec, "cpus": int(cpus), "wall_s": round(wall, 3),
                   "n_turns": n_turns, "stages": stages,
                   "turns_per_sec": round(n_turns / wall, 1)}}))
"""


def _total_cores(spec: str) -> int:
    if "x" in spec:
        w, c = spec.split("x")
        return int(w) * int(c)
    return int(spec)


# In-window machine-speed probe (round 5).  The steal counter misses a
# whole class of neighbor contention: windows with pristine steal (<130
# jiffies) have measured 30-50% slower across EVERY pipeline stage
# (BENCH.md round 4/5 — multi-threaded bursts, memory-bandwidth pressure,
# host frequency scaling are all invisible to /proc/stat steal).  The
# probe makes that contention measurable: a fixed numpy kernel (one
# cache-resident matmul + one 8 MB streaming pass per iteration, so both
# ALU and memory-bandwidth contention register) runs for the DURATION of
# each window, taskset-pinned to a core OUTSIDE the level's budget, and
# reports iterations/sec.  A window is clean only if steal passes AND the
# probe ran at >= SCALE_PROBE_GATE (default 0.93) of the fastest rate
# this execution has seen (a ~10 s idle calibration before the first
# window seeds that reference; later faster windows raise it).  Probe
# rates ride in the artifact so executions are comparable ACROSS runs —
# a slow-machine execution is visible instead of silently deflating the
# efficiency headline.
#
# The idle calibration SEEDS each level's reference (review r5): without
# a seed the first window at a level is trivially its own reference
# (probe_frac == 1.0 by construction), so an execution whose first
# CLEAN_K windows are all 30-50% slow — exactly the r5exec2 class the
# gate exists for — would pass every gate.  The seed is the idle rate
# discounted by SCALE_PROBE_SELFLOAD (default 0.12): the probe reads
# ~5-9% lower under the benchmark's own load (measured on this box;
# more cores busy → lower), so the discount must cover self-load without
# swallowing real contention — the one contaminated window observed with
# the probe live read 0.765 of idle, comfortably below the 0.88 floor
# the default produces.  Later faster windows can only RAISE the
# reference, never lower it below the seed.
#
# The reference rate is PER LEVEL (each window gates against the best
# rate its own level has seen), because the probe also feels the
# benchmark's own load: with 8 cores busy (4x2) the bystander core reads
# systematically lower (shared L3/bandwidth/turbo) than with 2 busy
# (1x2) — measured ~5% on this box.  Self-load is CONSTANT within a
# level, so within-level relative rate isolates exactly the neighbor
# noise; a global reference would bias the gate against the
# high-parallelism level.  Sustained whole-level contention (every
# window equally slow) is invisible to a within-level gate by
# construction — that is what the absolute rates in the artifact are
# for: compare them across executions.
PROBE_SRC = """
import json, os, sys, time
import numpy as np
out = sys.argv[1]
rng = np.random.default_rng(0)
A = rng.random((512, 512)); B = rng.random((512, 512))
M = rng.random(1024 * 1024)  # 8 MB: streams through L2/L3 to DRAM
n = 0
t0 = time.perf_counter()
while True:
    A @ B
    M += 1.0
    n += 1
    if n % 5 == 0:
        el = time.perf_counter() - t0
        # atomic replace: the reader may land at any moment (including
        # right after SIGTERM) and must never see a truncated file —
        # a half-written probe JSON reads as rate=None, which the gate
        # treats as PROBE FAILURE (dirty), not as a pass (review r5)
        with open(out + ".tmp", "w") as f:
            f.write(json.dumps({"iters": n, "secs": round(el, 3),
                                "rate": round(n / el, 2)}))
        os.replace(out + ".tmp", out)
"""


def _start_probe(probe_dir: str, busy_cores: int):
    """Launch the probe pinned outside the level's core budget; returns
    (popen, path) or (None, None) when disabled or no spare core."""
    if os.environ.get("SCALE_PROBE", "1") == "0":
        return None, None
    cpu = os.environ.get("SCALE_PROBE_CPUS", str(os.cpu_count() - 1))
    if busy_cores >= os.cpu_count() - 1:
        return None, None  # level owns ~every core: probe would perturb it
    path = os.path.join(probe_dir, f"probe-{time.monotonic_ns()}.json")
    cmd = [sys.executable, "-c", PROBE_SRC, path]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", cpu] + cmd
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return p, path


def _stop_probe(p, path):
    """Terminate the probe and return its measured iterations/sec (None
    when the probe was disabled or produced nothing)."""
    if p is None:
        return None
    p.terminate()
    try:
        p.wait(timeout=10)
    except subprocess.TimeoutExpired:
        p.kill()
    try:
        with open(path) as f:
            return json.load(f).get("rate")
    except (OSError, ValueError):
        return None


def _probe_ok(run: dict, ref: float, gate: float) -> bool:
    """Machine-speed gate for ONE window.  A deliberately-disabled probe
    (SCALE_PROBE=0 / the level owns every core) downgrades the gate to
    steal-only; an enabled probe that produced no rate is a probe
    FAILURE and the window cannot claim the gate (review r5: None used
    to count as a pass, silently disarming the gate)."""
    if not run.get("probe_enabled"):
        return True
    if run.get("probe_rate") is None or ref <= 0.0:
        return False
    return run["probe_rate"] / ref >= gate


def main() -> None:
    repo = os.path.dirname(os.path.abspath(__file__))
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    n_low = sys.argv[2] if len(sys.argv) > 2 else "8"
    n_high = sys.argv[3] if len(sys.argv) > 3 else "32"

    # materialize the shared input once (deterministic); SCALE_INPUT_DIR
    # reuses an existing materialization (same n_convs/seed contract)
    src = os.environ.get("SCALE_INPUT_DIR", "")
    reused = bool(src)
    if not reused:
        from wdedup_spark import synth
        from wdedup_spark.session import spark_session

        src = tempfile.mkdtemp(prefix="scale-input-")
        gen = spark_session(app_name="scale-gen", master="local[8]")
        gen.sparkContext.setLogLevel("ERROR")
        res = synth.generate_transcripts(n_base=n_convs, seed=42)
        synth.to_spark(gen, res).repartition(64).write.mode("overwrite").parquet(src)
        gen.stop()

    def steal() -> int:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    def wait_quiet(label: str) -> None:
        """Pre-window ambient check (SCALE_PRECHECK=0 disables): don't
        burn a 10-minute window (or the reference calibration) when the
        host is visibly stealing above the gate rate RIGHT NOW.  Samples
        15 s of /proc/stat steal and waits until the sample is at or
        below the clean gate's per-15 s equivalent (CLEAN_STEAL per
        ~600 s window), up to SCALE_PRECHECK_MAX_S, then proceeds
        regardless.  Scheduling only — applied identically to both
        levels and the in-window gates remain the sole arbiter of
        cleanliness."""
        if os.environ.get("SCALE_PRECHECK", "1") == "0":
            return
        deadline = time.monotonic() + float(
            os.environ.get("SCALE_PRECHECK_MAX_S", "2700")
        )
        while time.monotonic() < deadline:
            a0 = steal()
            time.sleep(15)
            da = steal() - a0
            if da <= CLEAN_STEAL * 15 / 600:
                return
            print(json.dumps({"precheck_wait": label, "steal_15s": da}),
                  flush=True)

    worker_src = WORKER.format(repo=repo)
    results = {}
    CLEAN_STEAL = int(os.environ.get("SCALE_CLEAN_STEAL_JIFFIES", "2500"))
    MAX_ATTEMPTS = int(os.environ.get("SCALE_MAX_ATTEMPTS", "10"))
    CLEAN_K = int(os.environ.get("SCALE_CLEAN_K", "3"))
    PROBE_GATE = float(os.environ.get("SCALE_PROBE_GATE", "0.93"))
    probe_dir = tempfile.mkdtemp(prefix="scale-probe-")
    # idle calibration: ~10 s of the probe alone seeds the machine-speed
    # reference; the fastest window later observed can only RAISE it
    wait_quiet("calibration")  # a noisy calibration would depress the seed
    p, ppath = _start_probe(probe_dir, busy_cores=0)
    time.sleep(10)
    probe_calib = _stop_probe(p, ppath)
    # per-level reference rate: seeded from the idle calibration less a
    # self-load allowance (see the PROBE seeding note above), raised by
    # any faster window observed at that level
    selfload = float(os.environ.get("SCALE_PROBE_SELFLOAD", "0.12"))
    seed = (probe_calib or 0.0) * (1.0 - selfload)
    probe_ref: dict = {s: seed for s in (n_low, n_high)}
    print(json.dumps({"probe_calib_rate": probe_calib,
                      "probe_ref_seed": round(seed, 2)}), flush=True)
    try:
        # Steal-gated clean-window hunting (VERDICT r4 #2: n>=3, median):
        # this sandbox shares a hypervisor host and sees bursts of CPU
        # steal (measured up to 267 stolen CPU-seconds in one run).  A run
        # only counts if steal during it stayed under CLEAN_STEAL jiffies;
        # each level LOOPS until CLEAN_K clean windows land (or
        # MAX_ATTEMPTS), and the level's statistic is the MEDIAN clean
        # wall — one lucky window can no longer carry the headline.
        # Applied identically to both levels — we measure the engine, not
        # the neighbors.
        all_runs: list = []
        for spec in (n_low, n_high):
            clean = []
            for attempt in range(MAX_ATTEMPTS):
                os.sync()
                time.sleep(5)
                wait_quiet(spec)
                s0 = steal()
                cmd = [sys.executable, "-c", worker_src, spec, src]
                if os.environ.get("SCALE_PIN_CPUS", "1") != "0" and shutil.which("taskset"):
                    # Confine the WHOLE process tree (driver JVM, executor
                    # JVMs, python workers) to exactly the level's core
                    # budget.  Without this an "8-core" run leaks GC /
                    # shuffle / python-worker threads onto the other 24
                    # idle cores, inflating the low-parallelism baseline
                    # and making measured N->4N efficiency meaningless
                    # (observed: unpinned 4x8 SLOWER than 1x8).
                    cmd = ["taskset", "-c", f"0-{_total_cores(spec) - 1}"] + cmd
                p, ppath = _start_probe(probe_dir, _total_cores(spec))
                try:
                    # a hung worker (wedged past the timeout) must also
                    # cost one attempt, not the whole multi-hour
                    # execution (review r5: TimeoutExpired was uncaught)
                    try:
                        out = subprocess.run(
                            cmd, capture_output=True, text=True, timeout=3600,
                        )
                    except subprocess.TimeoutExpired:
                        print(json.dumps({
                            "spec": spec, "window_failed": True,
                            "timeout_s": 3600,
                        }), flush=True)
                        continue
                finally:
                    rate = _stop_probe(p, ppath)
                # a crashed/OOM'd worker window must cost one attempt, not
                # the whole multi-hour execution
                lines = [l for l in out.stdout.strip().splitlines()
                         if l.startswith("{")]
                if not lines:
                    print(json.dumps({
                        "spec": spec, "window_failed": True,
                        "returncode": out.returncode,
                        "stderr_tail": out.stderr[-500:],
                    }), flush=True)
                    continue
                try:
                    # an OOM-killed worker can die mid-print, leaving a
                    # truncated '{...' tail line — one attempt, same rule
                    r = json.loads(lines[-1])
                except ValueError:
                    print(json.dumps({
                        "spec": spec, "window_failed": True,
                        "bad_json_tail": lines[-1][:200],
                    }), flush=True)
                    continue
                r["steal_jiffies"] = steal() - s0
                r["probe_rate"] = rate
                # probe launched but produced no readable rate (died at
                # startup, bad taskset mask, unreadable file): that is a
                # PROBE FAILURE and the window cannot claim the machine-
                # speed gate — only a deliberately-disabled probe
                # (SCALE_PROBE=0 / no spare core) downgrades the gate to
                # steal-only, and that is recorded per window (review r5)
                r["probe_enabled"] = p is not None
                probe_ref[spec] = max(probe_ref.get(spec, 0.0), rate or 0.0)
                r["probe_frac"] = (
                    round(rate / probe_ref[spec], 3)
                    if rate and probe_ref[spec] else None
                )
                print(r, flush=True)
                all_runs.append(r)
                # clean = steal gate AND machine-speed gate, recomputed
                # over ALL of this level's windows against the CURRENT
                # (seeded, monotone) reference: a faster window that
                # raises the reference retroactively expels earlier
                # slow-machine windows from the clean set, and the hunt
                # CONTINUES until CLEAN_K windows are clean against the
                # final reference — the published median can never rest
                # on fewer than CLEAN_K windows while claiming the gate
                # (review r5: the old append-only set could shrink below
                # CLEAN_K in the post-hoc recheck with no re-hunting)
                ref = probe_ref.get(spec, 0.0)
                clean = [
                    x for x in all_runs
                    if x.get("spec") == spec
                    and x["steal_jiffies"] <= CLEAN_STEAL
                    and _probe_ok(x, ref, PROBE_GATE)
                ]
                if len(clean) >= CLEAN_K:
                    break
    finally:
        if not reused:
            shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(probe_dir, ignore_errors=True)

    # Authoritative clean sets + medians, computed AFTER both levels
    # against each level's FINAL probe reference: the in-loop gate only
    # controls when to stop hunting; a faster window later in the level
    # retroactively exposes earlier slow-machine windows.  If the gates
    # never passed at a level, still emit a number (better than nothing
    # after an hour of runs) but it must not masquerade as a clean
    # median: gate_satisfied=False propagates to the summary and the
    # clean_walls list stays empty.
    for spec in (n_low, n_high):
        level_runs = [x for x in all_runs if x.get("spec") == spec]
        ref = probe_ref.get(spec, 0.0)
        clean = [
            x for x in level_runs
            if x["steal_jiffies"] <= CLEAN_STEAL
            and _probe_ok(x, ref, PROBE_GATE)
        ]
        pool = clean or level_runs
        if not pool:
            # every attempt at this level crashed (window_failed): emit a
            # loud failure artifact instead of dying with IndexError after
            # a multi-hour execution (review r5)
            failure = {
                "error": f"no completed windows at level {spec} "
                         f"(all attempts crashed — see window_failed "
                         f"lines in the execution log)",
                "probe_calib_rate": probe_calib,
            }
            print(json.dumps(failure))
            with open(os.path.join(repo, "history", f"bench_scaling_{n_low}_{n_high}.json"), "w") as f:
                f.write(json.dumps(failure) + "\n")
            sys.exit(1)
        walls = sorted(x["wall_s"] for x in pool)
        med = walls[len(walls) // 2] if len(walls) % 2 else round(
            (walls[len(walls) // 2 - 1] + walls[len(walls) // 2]) / 2, 3
        )
        results[spec] = {
            "gate_satisfied": bool(clean),
            "clean_runs": clean,
            "runs": pool,
            "level_runs": level_runs,  # ALL completed windows, dirty included
            "n_clean": len(clean),
            "median_wall_s": med,
            "best_wall_s": walls[0],
            "n_turns": pool[0]["n_turns"],
        }

    t_lo, t_hi = results[n_low]["median_wall_s"], results[n_high]["median_wall_s"]
    ratio = _total_cores(n_high) / _total_cores(n_low)

    def _label(spec: str) -> str:
        if "x" in spec:
            w, c = spec.split("x")
            return f"local-cluster[{w},{c}] ({w} executor JVMs x {c} cores)"
        return f"local[{spec}]"

    n_turns = results[n_low]["n_turns"]
    eff = (t_lo / t_hi) / ratio
    eff_best = (results[n_low]["best_wall_s"] / results[n_high]["best_wall_s"]) / ratio
    summary = {
        "protocol": f"{_label(n_low)} vs {_label(n_high)}, same input, same job "
                    f"(sandbox N->{ratio:g}N; multi-JVM when specs are WxC); "
                    f"median of clean windows per level "
                    f"(target {CLEAN_K} clean windows; gates: steal <= "
                    f"{CLEAN_STEAL} jiffies AND in-window machine-speed probe "
                    f">= {PROBE_GATE} of its level's best observed rate)",
        "n_turns": n_turns,
        f"wall_s_{n_low}": t_lo,
        f"wall_s_{n_high}": t_hi,
        f"turns_per_sec_{n_low}": round(n_turns / t_lo, 1),
        f"turns_per_sec_{n_high}": round(n_turns / t_hi, 1),
        f"n_clean_{n_low}": results[n_low]["n_clean"],
        f"n_clean_{n_high}": results[n_high]["n_clean"],
        f"clean_walls_{n_low}": [r["wall_s"] for r in results[n_low]["clean_runs"]],
        f"clean_walls_{n_high}": [r["wall_s"] for r in results[n_high]["clean_runs"]],
        "speedup": round(t_lo / t_hi, 3),
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_best_window": round(eff_best, 3),
        # machine-speed evidence: iterations/sec of the fixed numpy probe
        # (idle calibration, the execution-wide reference, and per-window
        # rates per level) — comparable ACROSS executions on this box
        "probe_calib_rate": probe_calib,
        "probe_ref_rates": {s: probe_ref.get(s) for s in (n_low, n_high)},
        # ALL windows' probe rates (dirty included) — dropping the slow
        # rates would discard exactly the contamination evidence that
        # cross-execution comparison needs (review r5)
        f"probe_rates_{n_low}": [r.get("probe_rate") for r in results[n_low]["level_runs"]],
        f"probe_rates_{n_high}": [r.get("probe_rate") for r in results[n_high]["level_runs"]],
        f"all_walls_{n_low}": [r["wall_s"] for r in results[n_low]["level_runs"]],
        f"all_walls_{n_high}": [r["wall_s"] for r in results[n_high]["level_runs"]],
    }
    short = [s for s in (n_low, n_high) if results[s]["n_clean"] < CLEAN_K]
    if short and not any(not results[s]["gate_satisfied"] for s in (n_low, n_high)):
        summary["warning"] = (
            f"fewer than {CLEAN_K} clean windows at: " + ", ".join(short)
            + " (MAX_ATTEMPTS exhausted) — median is over a short clean set"
        )
    if not (results[n_low]["gate_satisfied"] and results[n_high]["gate_satisfied"]):
        # every window at >=1 level failed a gate: the medians above are
        # computed from contaminated runs and must say so
        summary["gates_satisfied"] = False
        summary["warning"] = (
            "no window passed the steal+probe gates at: "
            + ", ".join(s for s in (n_low, n_high) if not results[s]["gate_satisfied"])
            + " — medians use DIRTY runs; do not quote as clean-window numbers"
        )
    print(json.dumps(summary))
    with open(os.path.join(repo, "history", f"bench_scaling_{n_low}_{n_high}.json"), "w") as f:
        f.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()

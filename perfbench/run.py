"""Closed-loop benchmark of paqarin_spark: one client runs one pass
after another of a workload and reports end-to-end or per-layer
metrics as one JSON line.

    python3 perfbench/run.py --workload tstr_eval --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates traced and untraced passes and
prints the per-layer metrics, also written with run details to
``perfbench/.work/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import inputs
import probe

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
WORKLOADS = ("tstr_eval", "vector_search", "corpus_dedup")
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
# A traced run alternates untraced and traced passes, U T U ..., so
# linear warm-up drift biases neither side of the tracing overhead.
MIN_TRACED_RUN_PASSES = 3

# Per-layer metrics: (call, suffixes). Layers are paqarin_spark module
# names; a workload that makes no such call reports 0 for it.
FULL_SUFFIXES = (
    ("s", "s", "lower"),
    ("plan_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("pyworker_cpu_s", "CPU-s", "lower"),
    ("jvm_cpu_s", "CPU-s", "lower"),
    ("leaked_rdds", "count", "lower"),
)
TRACED_CALLS = (
    "generators.fit",
    "generators.generate",
    "evaluation.score",
    "evaluation.summary",
    "metrics.univariate_score",
    "similarity.kmeans",
    "similarity.ivf_topk",
    "similarity.cosine_topk",
    "similarity.cosine_dedup_pairs",
    "text.quality",
    "dedup.minhash_lsh_pairs",
    "dedup.duplicate_clusters",
)
WALL_ONLY_CALLS = ("resample.calendar_fill", "dedup.keep_first")
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "CPU-s"),
    ("peak_rss_mb", "MB"),
    ("ok_frac", "fraction"),
)


def per_layer_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    specs = [
        ("session.start_s", "s", "lower"),
        ("warmup.first_pass_s", "s", "lower"),
        ("sources.read_s", "s", "lower"),
    ]
    for call in TRACED_CALLS:
        specs += [(f"{call}.{sfx}", unit, better) for sfx, unit, better in FULL_SUFFIXES]
    specs += [(f"{call}.s", "s", "lower") for call in WALL_ONLY_CALLS]
    specs += [
        ("similarity.ivf_topk.recall", "fraction", "higher"),
        ("dedup.minhash_lsh_pairs.precision", "fraction", "higher"),
        ("jvm.jit_cpu_s", "CPU-s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.coverage", "fraction", "higher"),
    ]
    return specs


def configure_env(cpus: str, driver_mem: str, local_dirs: str) -> dict:
    """Pin the session's size and keep every file it writes inside the
    checkout. Returns the settings, which the report records."""
    if cpus == "nproc":
        cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.abspath(local_dirs)
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # A heap fixed at its maximum and touched at start: otherwise
        # how far G1 grows the heap differs from run to run, and with it
        # GC frequency, pass time and RSS.
        "SPARK_SUBMIT_OPTS": (
            os.environ.get("SPARK_SUBMIT_OPTS", "")
            + f" -Xms{driver_mem} -XX:+AlwaysPreTouch"
            + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip(),
    }
    os.environ.update(env)
    return env


def median(values):
    return statistics.median(values) if values else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, env: dict) -> dict:
    sys.path.insert(0, ROOT)
    # Without the program the run fails here, before it measures anything.
    from paqarin_spark.session import get_session

    import workloads

    load_start = os.getloadavg()
    t_setup = time.perf_counter()
    spark = get_session(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t_setup
    gateway = spark.sparkContext._gateway
    data_dir = os.path.join(WORK_DIR, f"inputs-{workload}-{seed}")
    try:
        truth = workloads.prepare_truth(
            workload, inputs.make_inputs(workload, data_dir, seed)
        )
        run_pass = workloads.PASSES[workload]
        check = checks.CHECKS[workload]
        cpu = probe.CpuProbe()
        tracer = probe.Tracer(spark, cpu, enabled=False)
        state: dict = {}
        passes: list[dict] = []

        def one_pass(traced: bool) -> dict:
            tracer.enabled = traced
            tracer.records = []
            gc.collect()
            cpu0 = cpu.sample()
            t = time.perf_counter()
            out = run_pass(spark, data_dir, tracer.call)
            wall = time.perf_counter() - t
            cpu1 = cpu.sample()
            problems = check(out, truth, state)
            if traced:
                tracer.harvest()
            rec = {
                "traced": traced,
                "wall_s": wall,
                "cpu_s": cpu1.total - cpu0.total,
                "jit_cpu_s": cpu1.jit - cpu0.jit,
                "problems": problems,
                "calls": list(tracer.records),
                "out": out,
                "leftover_rdds": tracer.release(),
            }
            passes.append(rec)
            return rec

        first = one_pass(False)
        for _ in range(WARMUP_PASSES - 1):
            one_pass(False)
        setup = time.perf_counter() - t_setup
        timed: list[dict] = []
        t_loop = time.perf_counter()
        min_passes = MIN_TRACED_RUN_PASSES if trace else MIN_TIMED_PASSES
        while len(timed) < min_passes or time.perf_counter() - t_loop < seconds:
            timed.append(one_pass(trace and len(timed) % 2 == 1))
        peaks = probe.tree_peak_rss_mb()
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        stop_processes(gateway, proc)
        shutil.rmtree(data_dir, ignore_errors=True)

    failed = sum(1 for p in passes if p["problems"])
    untraced = [p for p in timed if not p["traced"]]
    if trace:
        metrics = layer_metrics(workload, truth, state, session_start, first, timed)
        specs = per_layer_specs()
    else:
        metrics = {
            "setup_s": setup,
            "wall_s": median([p["wall_s"] for p in untraced]),
            "cpu_s": median([p["cpu_s"] for p in untraced]),
            "peak_rss_mb": sum(peaks.values()),
            "ok_frac": (len(passes) - failed) / len(passes),
        }
        specs = [(n, u, None) for n, u in END_TO_END]
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "env": env,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "warmup_passes": WARMUP_PASSES,
        "timed_passes": len(timed),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "pass_jit_cpu_s": [p["jit_cpu_s"] for p in passes],
        "leftover_rdds": [p["leftover_rdds"] for p in passes],
        "peak_rss_mb_by_process": peaks,
        "problems": [p["problems"] for p in passes if p["problems"]],
        "metrics": metrics,
    }
    if trace:
        report["calls"] = [
            [vars(c) for c in p["calls"]] for p in timed if p["traced"]
        ]
    path = os.path.join(WORK_DIR, f"{'trace' if trace else 'run'}-{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u, _ in specs},
    }


def layer_metrics(workload, truth, state, session_start, first, timed) -> dict:
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    metrics = {name: 0.0 for name, _, _ in per_layer_specs()}
    metrics["session.start_s"] = session_start
    metrics["warmup.first_pass_s"] = first["wall_s"]
    per_pass = []
    for p in traced:
        sums: dict[str, float] = {}
        for c in p["calls"]:
            vals = {
                "s": c.wall,
                "pyworker_cpu_s": c.pyworker_cpu,
                "jvm_cpu_s": c.jvm_cpu,
                "leaked_rdds": c.leaked_rdds,
                **c.stats,
            }
            for sfx, v in vals.items():
                key = f"{c.name}.{sfx}"
                sums[key] = sums.get(key, 0.0) + v
        sums["sources.read_s"] = sums.get("sources.read.s", 0.0)
        sums["jvm.jit_cpu_s"] = p["jit_cpu_s"]
        sums["trace.coverage"] = sum(c.wall for c in p["calls"]) / p["wall_s"]
        per_pass.append(sums)
    for name in metrics:
        vals = [s[name] for s in per_pass if name in s]
        if vals:
            metrics[name] = median(vals)
    metrics["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in untraced]
    )
    if workload == "vector_search":
        metrics["similarity.ivf_topk.recall"] = state["recall"]
    if workload == "corpus_dedup":
        metrics["dedup.minhash_lsh_pairs.precision"] = checks.pair_precision(
            timed[-1]["out"]["lsh_pairs"], truth["groups"]
        )
    return metrics


def stop_processes(gateway, proc) -> None:
    """Shut the JVM down and wait until it and every Python worker it
    started have exited."""
    try:
        gateway.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    me = os.getpid()
    while True:
        rest = [p for p in probe.tree_pids(me) if p != me]
        if not rest or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in rest:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc", help="local[N] threads; nproc = usable cores")
    ap.add_argument("--driver-mem", default="4g")
    ap.add_argument("--local-dirs", default=os.path.join(WORK_DIR, "spark-local"))
    args = ap.parse_args(argv)
    env = configure_env(args.cpus, args.driver_mem, args.local_dirs)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), env)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""User-session benchmark for the dataqtor_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload dq_small --seed 1 --seconds 15 --trace 0

One run = generate the seeded inputs (cached per seed, never timed), build
the Spark session (``setup_s``), replay one first pass of the workload's
session script (``first_session_s``) and the workload's untimed warm-up
passes, then replay warm passes until ``--seconds`` have been measured
(``session_p50_s`` is their median).  The
client is single and closed-loop: the next call starts when the previous
one returned.  Every operation's output is checked against the generator's
ground truth; the last stdout line is the JSON result.

``--trace 1`` runs the same untraced passes for the per-step timings, then
restarts the Spark context with an event log this script configures and
replays traced passes, whose log gives jobs, tasks, executor CPU, shuffle
bytes and GC per step (see ``eventlog.py``).  See README.md for the metric
definitions and what each per-layer metric is expected to move.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import eventlog  # noqa: E402
import workloads as W  # noqa: E402

# why each workload exists is recorded in BENCHMARK.json and README.md;
# "warmup" is the number of untimed passes after the first, while per-pass
# time falls fastest: a second one is kept where the time budget allows it
# (see README.md, "Choices the runtime budget forced")
WORKLOADS = {
    "dq_small": {"kind": "customers", "size": 10_000, "steps": W.DQ_STEPS, "warmup": 2},
    "corpus_dedup": {"kind": "corpus", "size": 3_000, "steps": W.DEDUP_STEPS, "warmup": 1},
}
ALL_STEPS = W.DQ_STEPS + W.DEDUP_STEPS
MIN_PASSES = 2  # warm passes measured even when --seconds ran out
TRACED_PASSES = 2
TRACE_SUFFIXES = {"jobs": "count", "tasks": "count", "exec_cpu_ms": "ms",
                  "shuffle_write_bytes": "bytes", "gc_ms": "ms"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    pin the session to this host's cores.  Must run before pyspark starts
    its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (field 7 is steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    return 100.0 * d[7] / max(sum(d), 1)


def start_host_probe() -> subprocess.Popen:
    """Start the repository's host probe (read-only): load average and
    steal%, not a metric, only for telling a noisy window apart afterwards.
    It runs beside the first untimed warm-up pass, so its spin timings
    include this run's own load; the per-pass steal% in the summary is
    exact."""
    probe = os.path.join(ROOT, "tools", "host_probe.py")
    return subprocess.Popen([sys.executable, probe, "--secs", "1", "--json"],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def host_stamp(proc: subprocess.Popen) -> dict:
    try:
        out, _ = proc.communicate(timeout=60)
        return json.loads(out.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as e:
        proc.kill()
        proc.wait()
        return {"error": f"{type(e).__name__}: {e}"}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    def hwm_kb(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm_kb(os.getpid()) + hwm_kb(jvm)) / 1024.0


def start_spark():
    from dataqtor_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the gateway JVM exits
    when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def reset_between_passes(spark, out_dir: str) -> None:
    """Drop what a pass left behind so the next one does not pay for it:
    cached tables, checkpointed/persisted RDDs, written files, and both
    heaps' garbage."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    shutil.rmtree(out_dir, ignore_errors=True)
    gc.collect()
    spark._jvm.System.gc()


class Session:
    """Replays one workload's passes on one Spark session."""

    def __init__(self, spark, workload: str, paths: dict, truth: dict, work: str):
        self.spark = spark
        self.kind = WORKLOADS[workload]["kind"]
        self.paths, self.truth = paths, truth
        self.out_dir = os.path.join(work, "out")
        self.seen: dict = {}
        self.attempted = self.failed = 0

    def run_pass(self, index: int) -> W.Pass:
        p = W.Pass(self.spark.sparkContext, index, log)
        ticks = cpu_ticks()
        if self.kind == "customers":
            W.dq_pass(self.spark, p, self.paths, self.truth, self.out_dir)
        else:
            W.dedup_pass(self.spark, p, self.paths, self.truth, self.seen)
        p.steal_pct = steal_pct(ticks, cpu_ticks())
        reset_between_passes(self.spark, self.out_dir)
        self.attempted += p.attempted
        self.failed += p.failed
        return p


def median_ms(values) -> float:
    return statistics.median(values) * 1000.0


def step_timings(steps, first: W.Pass, warm: list[W.Pass]) -> dict:
    """Per-layer timing metrics: p50/first of the whole step, and the
    median build and exec parts where the step has them."""
    out = {}
    for s in ALL_STEPS:
        ran = s in steps
        parts = W.STEP_PARTS[s]

        def med(f):
            vals = [f(p.times[s]) for p in warm if s in p.times]
            return median_ms(vals) if ran and vals else 0.0

        out[f"{s}.p50_ms"] = med(sum)
        out[f"{s}.first_ms"] = sum(first.times[s]) * 1000.0 if ran and s in first.times else 0.0
        if "build" in parts:
            out[f"{s}.build_ms"] = med(lambda t: t[0])
        if "exec" in parts:
            out[f"{s}.exec_ms"] = med(lambda t: t[1])
    return out


def step_counters(by_step: dict, steps, pass_indices: list[int]) -> dict:
    """Per-layer trace metrics: each counter's median over the traced
    passes; steps the workload does not run report 0."""
    out = {}
    for s in ALL_STEPS:
        for suffix in TRACE_SUFFIXES:
            vals = [by_step.get(s, {}).get(i, {}).get(suffix, 0) for i in pass_indices]
            out[f"{s}.{suffix}"] = statistics.median(vals) if s in steps else 0
    return out


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in emission order."""
    units = {}
    for s in ALL_STEPS:
        units[f"{s}.p50_ms"] = units[f"{s}.first_ms"] = "ms"
        for part in W.STEP_PARTS[s]:
            units[f"{s}.{part}_ms"] = "ms"
        for suffix, unit in TRACE_SUFFIXES.items():
            units[f"{s}.{suffix}"] = unit
    units.update(RUN_INFO_UNITS)
    units["trace_overhead_pct"] = "%"
    return units


END_TO_END_UNITS = {"setup_s": "s", "session_p50_s": "s"}
# one sample per run and too noisy to gate a change (see README.md), so
# they are reported with the per-layer metrics and in every summary line
RUN_INFO_UNITS = {"first_session_s": "s", "peak_rss_mb": "MB"}


def percentile_note(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    if n < 11:
        return f"n={n}: no percentile has 10 samples beyond it"
    p = int(100 * (n - 10) / n)
    return f"n={n}: p{p} is the highest percentile with >=10 samples beyond it"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("dataqtor_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        log(f"engine package dataqtor_spark not found under {ROOT}")
        return 2
    cfg = WORKLOADS[args.workload]
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    configure_env(work)
    try:
        return run(args, cfg, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cfg, work: str) -> int:
    paths, truth = gen.materialize(cfg["kind"], args.seed, cfg["size"],
                                   os.path.join(WORK, "data"))

    t0 = time.perf_counter()
    spark = start_spark()
    setup_s = time.perf_counter() - t0
    sess = Session(spark, args.workload, paths, truth, work)

    first = sess.run_pass(0)
    probe = start_host_probe()
    try:
        sess.run_pass(1)
    finally:
        host = host_stamp(probe)
    for i in range(2, cfg["warmup"] + 1):
        sess.run_pass(i)
    warm: list[W.Pass] = []
    t_measure = time.perf_counter()
    while len(warm) < MIN_PASSES or time.perf_counter() - t_measure < args.seconds:
        warm.append(sess.run_pass(cfg["warmup"] + len(warm) + 1))
    rss = peak_rss_mb(spark)

    session_p50 = statistics.median(p.total for p in warm)
    info = {"first_session_s": first.total, "peak_rss_mb": rss}
    if args.trace:
        spark.stop()
        metrics = {**step_timings(cfg["steps"], first, warm), **info,
                   **traced(sess, cfg, work, warm[-1].total)}
        units = per_layer_units()
    else:
        stop_jvm(spark)
        metrics = {"setup_s": setup_s, "session_p50_s": session_p50}
        units = END_TO_END_UNITS
    summary = {"workload": args.workload, "seed": args.seed, "host": host,
               "setup_s": setup_s, "session_p50_s": session_p50, **info,
               "warm_passes": len(warm), "percentile": percentile_note(len(warm)),
               "warm_totals_s": [round(p.total, 4) for p in warm],
               "warm_steal_pct": [round(p.steal_pct, 2) for p in warm],
               "failed_ops_frac": sess.failed / max(sess.attempted, 1)}
    print(json.dumps(summary), flush=True)
    result = {"correct": sess.failed == 0, "attempted": sess.attempted,
              "failed": sess.failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0


def traced(sess: Session, cfg, work: str, last_untraced: float) -> dict:
    """Replay passes with the event log on and roll its counters up per
    step (median over traced passes).  ``trace_overhead_pct`` compares
    their median with the last untraced pass, the warmest one, so that
    warm-up progress is not counted as the cost of tracing."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    # the restarted context reads spark.* JVM system properties into its
    # SparkConf, so the engine's own session factory builds it unchanged
    for k, v in eventlog.spark_conf(log_dir).items():
        sess.spark._jvm.System.setProperty(k, v)
    spark = start_spark()
    sess.spark = spark
    passes = [sess.run_pass(100 + i) for i in range(TRACED_PASSES)]
    stop_jvm(spark)
    out = step_counters(eventlog.per_step(eventlog.parse_dir(log_dir)),
                        cfg["steps"], [p.index for p in passes])
    traced_p50 = statistics.median(p.total for p in passes)
    out["trace_overhead_pct"] = 100.0 * (traced_p50 - last_untraced) / last_untraced
    return out


if __name__ == "__main__":
    sys.exit(main())

"""Fast self-test of the benchmark itself (no Spark, a few seconds):

1. the same seed gives identical ground truth and inputs, another seed
   different ones;
2. every metric BENCHMARK.json names is emitted, with its unit, by the
   code paths that assemble the result line;
3. the event-log parser gives the right counts on a small recorded log.

Run from the repository root: ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    if not ok:
        FAILURES.append(what)


def test_seeded_ground_truth() -> None:
    for make, size in ((gen.customers, 3000), (gen.corpus, 600)):
        t1, truth1 = make(7, size)
        t2, truth2 = make(7, size)
        _, truth3 = make(8, size)
        name = make.__name__
        check(truth1 == truth2, f"{name}: same seed, different ground truth")
        check(all(t1[k].equals(t2[k]) for k in t1), f"{name}: same seed, different tables")
        check(truth1 != truth3, f"{name}: seeds 7 and 8 gave the same ground truth")
        check(json.loads(json.dumps(truth1)) == truth1, f"{name}: ground truth is not JSON-stable")
    _, truth = gen.customers(7, 3000)
    check(all(truth["defects"][c]["unfixable"] > 0 for c in gen.DEFECT_RATES),
          "customers: a rule got no corrupted values")
    _, truth = gen.corpus(7, 600)
    check(len(truth["injected_pairs"]) > 0, "corpus: no near-duplicates injected")
    check(W.components({(1, 2), (2, 3), (5, 6)}) == (5, 2), "union-find reference is wrong")


def test_metric_names() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    check(declared_e2e == run.END_TO_END_UNITS,
          f"end_to_end names/units differ: {declared_e2e} vs {run.END_TO_END_UNITS}")
    check(declared_layer == run.per_layer_units(), "per_layer names/units differ from run.py")
    check(set(run.WORKLOADS) == {w["name"] for w in bench["workloads"]},
          "workload names differ between BENCHMARK.json and run.py")

    # the result line of a traced run = step timings + trace counters
    def fake_pass(i, scale):
        p = W.Pass(None, i, print)
        p.times = {s: (0.01 * scale, 0.02 * scale) for s in W.DQ_STEPS}
        return p

    timings = run.step_timings(W.DQ_STEPS, fake_pass(0, 3), [fake_pass(1, 1), fake_pass(2, 2)])
    counters = run.step_counters({}, W.DQ_STEPS, [101, 102])
    emitted = {**timings, **dict.fromkeys(run.RUN_INFO_UNITS, 1.0), **counters,
               "trace_overhead_pct": 0.0}
    check(set(emitted) == set(declared_layer),
          f"traced run emits {sorted(set(emitted) ^ set(declared_layer))} differently")
    check(timings["profile.profile_columns.build_ms"] > 0, "build_ms not filled from passes")
    check(timings["dedup.connected_components.p50_ms"] == 0.0,
          "a step the workload does not run must report 0")


def test_eventlog_fixture() -> None:
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as f:
        got = eventlog.parse(f)
    # jobs and tasks were cross-checked against Spark's status tracker when
    # the log was recorded; the rest are the sums of the recorded metrics
    want = {
        "profile.null_profile#1": {"jobs": 2, "tasks": 5, "exec_cpu_ms": 762.982966,
                                   "shuffle_write_bytes": 1040, "gc_ms": 144},
        "dedup.connected_components#1": {"jobs": 3, "tasks": 6, "exec_cpu_ms": 192.715015,
                                         "shuffle_write_bytes": 547, "gc_ms": 0},
        "untimed": {"jobs": 2, "tasks": 5, "exec_cpu_ms": 55.170483,
                    "shuffle_write_bytes": 236, "gc_ms": 0},
    }
    check(set(got) == set(want), f"event log groups {sorted(got)}")
    for g, counters in want.items():
        for k, v in counters.items():
            check(abs(got.get(g, {}).get(k, -1) - v) < 1e-6, f"{g}.{k}: {got.get(g, {}).get(k)} != {v}")
    steps = eventlog.per_step(got)
    check(set(steps) == {"profile.null_profile", "dedup.connected_components"},
          f"per_step keys {sorted(steps)}")
    check(steps["dedup.connected_components"][1]["jobs"] == 3, "per_step lost the pass index")


def main() -> int:
    for t in (test_seeded_ground_truth, test_metric_names, test_eventlog_fixture):
        t()
    for f in FAILURES:
        print("FAIL:", f)
    print("selftest:", "ok" if not FAILURES else f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-step Spark counters from an uncompressed event log (stdlib only).

The benchmark owns the event-log configuration (``spark_conf``): a plain
JSON-lines file, neither compressed nor rolled, because the default zstd
codec needs a module this host does not have.  Each timed step runs under
the job group ``<step>#<pass>``; a ``SparkListenerJobStart`` carries that
group in its properties together with the ids of the stages it submitted,
and every ``SparkListenerTaskEnd`` names its stage, so executor counters
roll up to (step, pass) without any hook inside the program.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "tasks", "exec_cpu_ms", "shuffle_write_bytes", "gc_ms")


def spark_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse(lines) -> dict[str, dict[str, float]]:
    """``{job_group: {counter: total}}`` over an event log's lines."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                # a reused shuffle stage is listed again by later jobs but
                # its tasks ran under the job that first submitted it
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = out[group]
            c["tasks"] += 1
            c["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return dict(out)


def parse_dir(log_dir: str) -> dict[str, dict[str, float]]:
    """Parse every finished event log under ``log_dir`` (one per Spark
    application started with :func:`spark_conf`)."""
    merged: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            raise RuntimeError(f"event log {name} was not closed; stop Spark first")
        with open(os.path.join(log_dir, name)) as f:
            merged.update(parse(f))
    return merged


def per_step(groups: dict[str, dict[str, float]]) -> dict[str, dict[int, dict[str, float]]]:
    """Split ``<step>#<pass>`` groups into ``{step: {pass: counters}}``."""
    out: dict[str, dict[int, dict[str, float]]] = defaultdict(dict)
    for group, counters in groups.items():
        step, sep, idx = group.rpartition("#")
        if sep and idx.isdigit():
            out[step][int(idx)] = counters
    return dict(out)

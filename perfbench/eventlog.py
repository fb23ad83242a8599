"""Fold a Spark event log into per-call Spark numbers.

Jobs are grouped by the job description the benchmark set around each
call (``<span name>|<phase>|epoch=<n>``, see ``perfbench/trace.py``).
For each description the fold gives jobs, tasks, task run times, shuffle
bytes written and read, fetch wait, spill, GC time and the worst
per-stage skew (slowest task over the stage's median task).

Usage:
    python3 perfbench/eventlog.py <event log file or directory>

prints one JSON object keyed by job description.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict


def _files(path: str) -> list[str]:
    """Event files under ``path``: a single-file log, or the
    ``eventlog_v2_<app>/events_<n>_<app>`` parts of a rolling log in
    part order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, names in os.walk(path):
        for f in names:
            if f.startswith(".") or f.startswith("appstatus_"):
                continue
            part = int(f.split("_")[1]) if f.startswith("events_") else 0
            out.append((d, part, os.path.join(d, f)))
    return [p for _, _, p in sorted(out)]


def fold(path: str) -> dict[str, dict]:
    """Per job description: ``jobs``, ``tasks``, ``task_ms`` (list of
    executor run times), ``shuffle_write_bytes``, ``shuffle_read_bytes``,
    ``fetch_wait_ms``, ``spill_bytes``, ``gc_ms`` and
    ``stage_task_ms`` (stage id -> task run times)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "tasks": 0,
            "task_ms": [],
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "fetch_wait_ms": 0,
            "spill_bytes": 0,
            "gc_ms": 0,
            "stage_task_ms": defaultdict(list),
        }
    )
    for fname in _files(path):
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    out[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"), "")
                    m = ev.get("Task Metrics") or {}
                    rec = out[desc]
                    run_ms = m.get("Executor Run Time", 0)
                    rec["tasks"] += 1
                    rec["task_ms"].append(run_ms)
                    rec["stage_task_ms"][ev.get("Stage ID")].append(run_ms)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
    return dict(out)


def skew(stage_task_ms: dict) -> float:
    """Worst slowest-over-median task time across stages of at least
    four tasks (1.0 when no stage qualifies)."""
    worst = 1.0
    for times in stage_task_ms.values():
        if len(times) >= 4:
            med = statistics.median(times)
            if med > 0:
                worst = max(worst, max(times) / med)
    return worst


def epoch_metrics(groups: dict[str, dict], prefix: str, epochs: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over every description that
    starts with ``prefix``, per epoch where the quantity is a total."""
    sel = [g for d, g in groups.items() if d.startswith(prefix)]
    n = max(1, epochs)
    task_ms = [t for g in sel for t in g["task_ms"]]
    stages: dict = {}
    for g in sel:
        stages.update(g["stage_task_ms"])
    return {
        "spark.jobs_per_epoch": sum(g["jobs"] for g in sel) / n,
        "spark.tasks_per_epoch": sum(g["tasks"] for g in sel) / n,
        "spark.task_ms_p50": statistics.median(task_ms) if task_ms else 0.0,
        "spark.shuffle_write_bytes": sum(g["shuffle_write_bytes"] for g in sel) / n,
        "spark.shuffle_read_bytes": sum(g["shuffle_read_bytes"] for g in sel) / n,
        "spark.fetch_wait_ms": sum(g["fetch_wait_ms"] for g in sel) / n,
        "spark.spill_bytes": sum(g["spill_bytes"] for g in sel) / n,
        "spark.gc_ms": sum(g["gc_ms"] for g in sel) / n,
        "spark.task_ms_max_over_p50": skew(stages),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    groups = fold(argv[1])
    summary = {
        desc: {
            "jobs": g["jobs"],
            "tasks": g["tasks"],
            "task_ms_p50": statistics.median(g["task_ms"]) if g["task_ms"] else 0,
            "task_ms_max_over_p50": skew(g["stage_task_ms"]),
            **{
                k: g[k]
                for k in (
                    "shuffle_write_bytes",
                    "shuffle_read_bytes",
                    "fetch_wait_ms",
                    "spill_bytes",
                    "gc_ms",
                )
            },
        }
        for desc, g in sorted(groups.items())
    }
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

"""Run one workload of the CDC replay benchmark and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 12 --trace 0

Workloads: bulk_backfill, serve_mor, tail_small_epochs (see
perfbench/README.md). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it, prefixed ``perfbench report``, holds everything the
run measured, including tail percentiles and their sample counts.
Scratch data lives under ``.perfbench_run/`` and is removed at exit;
reports, spans and event-log folds are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import REPO_ROOT  # noqa: E402

CONTROL_ROWS_PER_CORE = 25_000_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_backfill", "serve_mor", "tail_small_epochs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def measure(args, scratch: str, rss) -> dict:
    """Set up, run the window, check, and return everything measured."""
    from perfbench import gate
    from perfbench.harness import (
        cpu_control,
        cpu_jiffies,
        host_cores,
        start_session,
        stop_session,
    )
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    t0 = time.monotonic()
    spark = start_session(scratch, bool(args.trace))
    try:
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](
            spark, scratch, args.seed, args.seconds, args.scale, tracer
        )
        with tracer.patched():
            wl.setup()
            setup_s = time.monotonic() - t0
            fold = gate.Fold(wl.event_globs(), os.path.join(scratch, "duck"), host_cores())
            windows = wl.lookup_windows()
            epochs = sorted(windows)
            plan = dict(
                zip(
                    epochs,
                    fold.lookup_plan(
                        random.Random(args.seed), [windows[e] for e in epochs], wl.lookup_calls
                    ),
                )
            )
            controls = [cpu_control(spark, CONTROL_ROWS_PER_CORE)]
            t1, j1 = time.monotonic(), cpu_jiffies()
            wl.measure(plan)
            t2, j2 = time.monotonic(), cpu_jiffies()
            controls.append(cpu_control(spark, CONTROL_ROWS_PER_CORE))
            split = wl.split() if args.trace and wl.pre_epoch is not None else None
        t3 = time.monotonic()
        wl.check(fold)
        fold.close()
    finally:
        stop_session(spark)
    stages = {"setup": setup_s, "window": t2 - t1, "check": time.monotonic() - t3,
              "total": time.monotonic() - t0}
    busy, steal = j2[0] - j1[0], j2[1] - j1[1]
    return {"wl": wl, "setup_s": setup_s, "controls": controls, "split": split,
            "peak_rss_mb": rss.peak_mb, "tracer": tracer, "stages_s": stages,
            "window_steal_frac": steal / max(1, busy + steal)}


def end_to_end(m: dict) -> tuple[dict, dict]:
    """The gated end-to-end metrics and the fuller report."""
    from perfbench.harness import median, tail
    from perfbench.workloads import TAIL_INTERVAL_S

    wl = m["wl"]
    walls = [r.wall for r in wl.records]
    lookups_ms = [r.seconds * 1000.0 for r in wl.reads if r.kind == "lookup"]
    changes_s = [r.seconds for r in wl.reads if r.kind == "changes"]
    events = sum(r.result.n_events for r in wl.records)
    metrics = {
        "setup_s": (m["setup_s"], "s"),
        "replay_events_per_s": (events / sum(walls) if walls else 0.0, "events/s"),
        "epoch_commit_p50_s": (median(walls), "s"),
    }
    extra = {"epoch_commit_tail_s": tail(walls)}
    if wl.serves_reads:
        metrics["lookup_p50_ms"] = (median(lookups_ms), "ms")
        metrics["changes_read_p50_s"] = (median(changes_s), "s")
        extra["lookup_tail_ms"] = tail(lookups_ms)
    if wl.releaser is not None:
        lags = wl.freshness_lag_s()
        metrics["freshness_lag_p50_s"] = (median(lags), "s")
        metrics["backlog_max_epochs"] = (wl.backlog_max_epochs(), "count")
        late = wl.releaser.late_s
        extra.update(
            {
                "freshness_lag_tail_s": tail(lags),
                "releaser_late_s": {"p50": median(late), "max": max(late, default=0.0),
                                    "n": len(late)},
                "arrival_interval_s": TAIL_INTERVAL_S,
                "utilisation": sum(walls) / (TAIL_INTERVAL_S * max(1, len(walls))),
                "samples_freshness_lag_s": lags,
            }
        )
    metrics["peak_rss_mb"] = (m["peak_rss_mb"], "MB")
    report = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report.update(extra)
    report.update(
        {
            "failed_ops_frac": len(wl.failures) / max(1, wl.attempted),
            "window_epochs": [r.epoch for r in wl.records],
            "events_applied": events,
            "samples": {"epoch_commit_s": walls, "lookup_ms": lookups_ms, "changes_read_s": changes_s},
            "host.cpu_control_s": m["controls"],
            "host.window_steal_frac": m["window_steal_frac"],
            "stages_s": m["stages_s"],
        }
    )
    return metrics, report


def per_layer(m: dict, spark_numbers: dict) -> dict:
    """The per-layer metrics of a traced run."""
    from perfbench.harness import median

    wl, tracer, split = m["wl"], m["tracer"], m["split"] or {}
    recs = wl.records
    n = max(1, len(recs))
    phases = ("fused_dedup_merge", "metrics", "commit", "compact", "views")
    events = sum(r.result.n_events for r in recs)
    keys = sum(r.result.n_keys for r in recs)
    merges = tracer.select("lake.merge.merge_into")
    commits = tracer.select("lake.table.commit")
    lookups = [s for s in tracer.spans if s["name"] == "lake.table.lookup"]
    bytes_in = sum(r.result.bytes_in for r in recs)
    out = {
        "engine.replay.apply_epoch_s": (median([r.wall for r in recs]), "s"),
        **{
            f"engine.replay.phase.{p}_ms": (
                sum(r.result.phase_ms.get(p, 0.0) for r in recs) / n, "ms"
            )
            for p in phases
        },
        "engine.replay.epoch_overhead_ms": (
            sum(r.wall * 1000.0 - sum(r.result.phase_ms.values()) for r in recs) / n, "ms"
        ),
        "engine.replay.events_in": (events, "count"),
        "engine.replay.keys_after_dedup": (keys, "count"),
        "engine.replay.dedup_ratio": (keys / events if events else 0.0, "ratio"),
        "engine.replay.affected_buckets": (
            sum(r.result.affected_buckets for r in recs) / n, "count"
        ),
        "fixtures.changelog.write_events_s": (wl.write_events_s, "s"),
        "operators.dedup.lww_dedup_stats_s": (split.get("dedup_s", 0.0), "s"),
        "functions.content.transforms_s": (split.get("transforms_s", 0.0), "s"),
        "lake.merge.merge_into_s": (split.get("merge_s", 0.0), "s"),
        "lake.merge.files_written": (sum(s["files_written"] for s in merges) / n, "count"),
        "lake.merge.bytes_written": (sum(s["bytes_written"] for s in merges) / n, "bytes"),
        "lake.merge.write_amplification": (
            sum(s["bytes_written"] for s in merges) / bytes_in if bytes_in else 0.0, "ratio"
        ),
        "lake.table.commit_ms": (median([1000.0 * d for d in tracer.durations("lake.table.commit")]), "ms"),
        "lake.table.manifest_bytes": (commits[-1]["manifest_bytes"] if commits else 0, "bytes"),
        "lake.table.lookup_ms": (
            median([1000.0 * (s["end"] - s["start"]) for s in lookups]), "ms"
        ),
        "lake.table.plan_files_kept_frac": (
            median([s["plan_files_kept_frac"] for s in lookups if "plan_files_kept_frac" in s]),
            "ratio",
        ),
        "lake.table.delta_files_per_bucket": (
            median([s["delta_files_per_bucket"] for s in lookups if "delta_files_per_bucket" in s]),
            "count",
        ),
        "lake.table.changes_s": (
            median([s["end"] - s["start"] for s in tracer.spans if s["name"] == "lake.table.changes"]),
            "s",
        ),
        "lake.table.compact_s": (median(tracer.durations("lake.table.compact")), "s"),
        "lake.matview.refresh_s": (median(tracer.durations("lake.matview.refresh")), "s"),
        "engine.metrics.write_epoch_metrics_ms": (
            median([1000.0 * d for d in tracer.durations("engine.metrics.write_epoch_metrics")]),
            "ms",
        ),
        **{k: (v, SPARK_UNITS[k]) for k, v in spark_numbers.items()},
        "host.cpu_control_s": (median(m["controls"]), "s"),
        "split.scan_s": (split.get("scan_s", 0.0), "s"),
        "split.commit_s": (split.get("commit_s", 0.0), "s"),
        "split.unattributed_s": (split.get("unattributed_s", 0.0), "s"),
        "split.epoch_wall_s": (split.get("epoch_wall_s", 0.0), "s"),
    }
    return out


SPARK_UNITS = {
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.task_ms_p50": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.task_ms_max_over_p50": "ratio",
}


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "datax_spark")):
        print("perfbench: no datax_spark package next to perfbench/; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    from perfbench import eventlog
    from perfbench.harness import RssSampler

    # tiny runs keep their own files: a tiny untraced run must not be
    # the reference of a full traced run's tracing overhead
    tag = f"{args.workload}-seed{args.seed}" + ("-tiny" if args.scale == "tiny" else "")
    scratch = os.path.join(REPO_ROOT, ".perfbench_run", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(REPO_ROOT, ".perfbench_out")
    os.makedirs(scratch)
    os.makedirs(out_dir, exist_ok=True)
    try:
        with RssSampler() as rss:
            m = measure(args, scratch, rss)
        spark_numbers = {}
        if args.trace:
            groups = eventlog.fold(os.path.join(scratch, "eventlog"))
            spark_numbers = eventlog.epoch_metrics(
                groups, "engine.replay.apply_epoch|window|", len(m["wl"].records)
            )
            m["tracer"].dump(os.path.join(out_dir, f"{tag}-spans.json"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    wl = m["wl"]
    e2e, report = end_to_end(m)
    untraced_ref = os.path.join(out_dir, f"{tag}-untraced.json")
    if args.trace:
        layers = per_layer(m, spark_numbers)
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        report["split"] = m["split"]
        report["tracing_overhead"] = tracing_overhead(untraced_ref, e2e["epoch_commit_p50_s"][0])
        metrics = layers
    else:
        with open(untraced_ref, "w") as fh:
            json.dump({"epoch_commit_p50_s": e2e["epoch_commit_p50_s"][0]}, fh)
        metrics = e2e
    report["failures"] = wl.failures
    with open(os.path.join(out_dir, f"{tag}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print("perfbench report " + json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": not wl.failures,
                "attempted": wl.attempted,
                "failed": len(wl.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def tracing_overhead(untraced_ref: str, traced_p50: float) -> dict:
    """Traced vs untraced median epoch commit of this workload and seed,
    when an untraced run left its number in this checkout."""
    if not os.path.exists(untraced_ref):
        return {"traced_epoch_commit_p50_s": traced_p50, "untraced_epoch_commit_p50_s": None,
                "note": "no untraced run of this workload and seed yet"}
    with open(untraced_ref) as fh:
        base = json.load(fh)["epoch_commit_p50_s"]
    return {"traced_epoch_commit_p50_s": traced_p50, "untraced_epoch_commit_p50_s": base,
            "overhead_frac": traced_p50 / base - 1.0 if base else None}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

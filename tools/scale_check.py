"""Large-scale replay validation: replay an n-event changelog with the
full contractual pipeline, then verify the ENTIRE final table state
against the independent DuckDB LWW oracle of tools/verify_existing.py
(winner per key by (commit, lsn), deletes dropped, per-row
sha256(content), symmetric EXCEPT ALL). Exits 1 on any mismatch.

This is the scale-up companion to the pytest e2e (300k events) and the
pandas sequential oracle: DuckDB recomputes the expected state from
the raw parquet in seconds even at 10^7+ events, so the engine's
bucketed CoW merge, schema evolution and exactly-once commits can be
value-checked at sizes the pandas oracle cannot reach.

Usage: python tools/scale_check.py [n_events] [epochs] [cpus] [merge_strategy]
                                   [start_buckets] [target_bucket_rows]

Prints one JSON line with throughput + verification result.

The optional 5th/6th args exercise ADAPTIVE bucket-count evolution at
scale: start the table deliberately small (e.g. 8 buckets) with a
per-bucket row target, let the engine grow the layout mid-replay
(ReplayConfig.target_bucket_rows), and verify the same full-table
sha256 set equality through the rebucket commits. Default (args
omitted): fixed 128 buckets, no adaptive growth — prior behavior.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import verify_existing as oracle  # noqa: E402


def main() -> None:
    if len(sys.argv) > 7:
        sys.exit(
            "usage: scale_check.py [n_events] [epochs] [cpus] "
            "[merge_strategy] [start_buckets] [target_bucket_rows]"
        )
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    merge_strategy = sys.argv[4] if len(sys.argv) > 4 else "spj"
    start_buckets = int(sys.argv[5]) if len(sys.argv) > 5 else 128
    target_bucket_rows = (int(sys.argv[6]) or None) if len(sys.argv) > 6 else None

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, write_events
    from datax_spark.session import get_spark

    # tmpfs scratch only when it can plausibly hold the shuffle AND
    # leave room for the JVM heap + Arrow python workers: /dev/shm
    # pages are unevictable RAM, and at 128M events the first sizing
    # (free > n_events*800) admitted a run the OOM killer then took
    # out mid-replay (exit 137, ~105 GiB anon + shm). Require 1.5x the
    # event estimate PLUS a fixed 72 GiB compute budget; otherwise the
    # disk-backed default is slower but finishes.
    extra = {}
    if os.path.isdir("/dev/shm"):
        free = shutil.disk_usage("/dev/shm").free
        if free > max(8 << 30, int(n_events * 800 * 1.5) + (72 << 30)):
            extra["spark.local.dir"] = "/dev/shm/datax_spark_scale_scratch"
    # ad-hoc host tuning (e.g. {"spark.python.worker.reuse": "false"}
    # when long replays accumulate python-worker RSS on a small box)
    extra.update(json.loads(os.environ.get("SCALE_CHECK_EXTRA_CONF", "{}")))
    spark = get_spark("scale-check", cores=cpus, extra_conf=extra)

    spec = ChangelogSpec(
        n_events=n_events,
        n_repos=max(200, n_events // 20_000),
        paths_per_repo=400,
        events_per_epoch=-(-n_events // n_epochs),
        evolve_from_epoch=max(1, n_epochs - 2),
        seed=42,
    )
    root = tempfile.mkdtemp(prefix="datax_spark_scale_")
    try:
        write_events(spark, spec, os.path.join(root, "events"))  # untimed
        eng = ReplayEngine(
            spark,
            events_root=os.path.join(root, "events"),
            table_root=os.path.join(root, "table"),
            metrics_root=os.path.join(root, "metrics"),
            config=ReplayConfig(
                num_buckets=start_buckets,
                merge_strategy=merge_strategy,
                target_bucket_rows=target_bucket_rows,
                # DATAX_SCALE_BLOOM=repo,path A/Bs the commit-time
                # per-file bloom harvest cost at scale
                bloom_cols=tuple(
                    c
                    for c in os.environ.get("DATAX_SCALE_BLOOM", "").split(",")
                    if c
                ),
            ),
        )
        t0 = time.monotonic()
        results = eng.run()
        replay_sec = time.monotonic() - t0
        rebuckets = [
            {"epoch": r.epoch, "to": r.rebucketed_to,
             "sec": round(r.phase_ms.get("rebucket", 0) / 1000.0, 2)}
            for r in results
            if r.rebucketed_to
        ]

        # replay is measured; flush it BEFORE the (memory-hungry)
        # verification so an OOM-killed verify cannot destroy the
        # measurement — three 128M attempts died exactly there (the
        # embedded DuckDB window over the full event log grows to its
        # default 80%-of-RAM limit with spilling disabled for
        # in-memory databases)
        print(json.dumps({
            "phase": "replay_done",
            "n_events": n_events,
            "replay_sec": round(replay_sec, 2),
            "events_per_sec": round(n_events / replay_sec, 1),
        }), flush=True)

        # DATAX_SCALE_VERIFY=skip: stop after the measured replay and
        # KEEP the root so the oracle (tools/verify_existing.py <root>)
        # runs as its own process with the whole box — at >=64M events
        # the spent JVM's RSS left the in-process verify too little
        # RAM (oom-killed at 64M, BENCH/SCALE.md).
        if os.environ.get("DATAX_SCALE_VERIFY") == "skip":
            spark.stop()
            print(json.dumps({"phase": "root_kept", "root": root,
                              "verify": f"python tools/verify_existing.py {root}",
                              "rebuckets": rebuckets}), flush=True)
            return

        # ---- independent verification (DuckDB over the raw log) ----
        t1 = time.monotonic()
        hashed = os.path.join(root, "events_hashed")
        state = os.path.join(root, "engine_state_hashed")
        oracle.hash_events(spark, os.path.join(root, "events"), hashed)
        oracle.export_state(spark, os.path.join(root, "table"), state)
        final_buckets = int(eng.table().manifest().num_buckets)
        # exports in hand: release the whole Spark side (JVM heap +
        # reused Arrow python workers) before DuckDB needs the RAM
        spark.stop()
        con = oracle.connect(root)
        oracle.build_winners(con, hashed)
        out = oracle.verdict(oracle.compare(con, state))
        verify_sec = time.monotonic() - t1
        print(
            json.dumps(
                {
                    "n_events": n_events,
                    "n_epochs": n_epochs,
                    "cpus": cpus,
                    "merge_strategy": merge_strategy,
                    "replay_sec": round(replay_sec, 2),
                    "events_per_sec": round(n_events / replay_sec, 1),
                    **out,
                    "verify_sec": round(verify_sec, 2),
                    "start_buckets": start_buckets,
                    "final_buckets": final_buckets,
                    "target_bucket_rows": target_bucket_rows,
                    "rebuckets": rebuckets,
                }
            )
        )
        if out["verified"] != oracle.VERIFIED:
            sys.exit(1)
    finally:
        if os.environ.get("DATAX_SCALE_VERIFY") != "skip":
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

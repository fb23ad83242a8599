"""Large-scale replay validation: replay an n-event changelog with the
full contractual pipeline, then verify the ENTIRE final table state
against an independent DuckDB LWW replay of the raw log (winner per
key by (commit, lsn), deletes dropped, per-row sha256(content)).

This is the scale-up companion to the pytest e2e (300k events) and the
pandas sequential oracle: DuckDB recomputes the expected state from
the raw parquet in seconds even at 10^7+ events, so the engine's
bucketed CoW merge, schema evolution and exactly-once commits can be
value-checked at sizes the pandas oracle cannot reach.

Usage: python tools/scale_check.py [n_events] [epochs] [cpus] [merge_strategy]
                                   [start_buckets] [target_bucket_rows] [hash_fn]

``hash_fn`` (default murmur3 = the exchange-aligned one-shuffle epoch;
xxhash64 = the historical two-exchange plan) A/Bs the aligned merge at
scale under the same sha256 frame-equality gate.
Prints one JSON line with throughput + verification result.

The optional 5th/6th args exercise ADAPTIVE bucket-count evolution at
scale: start the table deliberately small (e.g. 8 buckets) with a
per-bucket row target, let the engine grow the layout mid-replay
(ReplayConfig.target_bucket_rows), and verify the same full-table
sha256 frame equality through the rebucket commits. Default (args
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


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    merge_strategy = sys.argv[4] if len(sys.argv) > 4 else "spj"
    start_buckets = int(sys.argv[5]) if len(sys.argv) > 5 else 128
    target_bucket_rows = (int(sys.argv[6]) or None) if len(sys.argv) > 6 else None
    hash_fn = sys.argv[7] if len(sys.argv) > 7 else "murmur3"

    import duckdb

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
                hash_fn=hash_fn,
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
        # KEEP the root so the strictly memory-bounded verifier
        # (tools/verify_existing_join.py <root>) can run as its own
        # process — at >=128M events the in-process arg_max state
        # below does not spill and has OOM'd a 128 GiB box; the
        # join-based tool is the proven path at that size.
        if os.environ.get("DATAX_SCALE_VERIFY") == "skip":
            spark.stop()
            print(json.dumps({"phase": "root_kept", "root": root,
                              "rebuckets": rebuckets}), flush=True)
            return

        # ---- independent verification (DuckDB over the raw log) ----
        t1 = time.monotonic()
        got = (
            eng.table()
            .read()
            .selectExpr(
                "repo", "path", "commit", "lsn", "lang", "lang_variant",
                "sha2(content, 256) AS content_sha256",
            )
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )
        # the replay measurement and the table snapshot are in hand:
        # release the whole Spark side (JVM heap + 32 reused Arrow
        # python workers) before the verify — at 128M events the
        # verify needs the RAM more than a dead session does
        final_buckets = int(eng.table().manifest().num_buckets)
        spark.stop()

        con = duckdb.connect()
        # memory discipline: the old row_number() window materialized
        # and sorted ALL events incl. full content (~100 GB at 128M
        # events) — three 128M attempts OOM'd / filled the disk there.
        # Grouped arg_max instead: content is hashed in the scan and
        # dropped, the aggregate state is one small row per distinct
        # (repo, path), so memory ~ final keys, never ~ events.
        # The scalar ordering key commit || lpad(lsn) is order-exact
        # because commits are fixed-width 40-hex and lsn is a global
        # total order (no ties possible).
        # memory_limit bounds the buffer pool but NOT per-thread scan
        # buffers: 32 threads over 1000+ parquet files of long strings
        # still OOM'd a 128 GiB box (oom-kill at 125 GiB anon). Eight
        # threads + no insertion-order preservation keep the scan's
        # working set proportional to threads, not files.
        con.execute("SET memory_limit='24GB'")
        con.execute("SET threads=8")
        con.execute("SET preserve_insertion_order=false")
        os.makedirs(os.path.join(root, "duck_spill"), exist_ok=True)
        con.execute(f"SET temp_directory='{root}/duck_spill'")
        want = con.execute(
            f"""
            WITH ev AS (
              SELECT repo, path, commit, lsn, lang, lang_variant, op,
                     sha256(content) AS content_sha256,
                     commit || lpad(CAST(lsn AS VARCHAR), 20, '0') AS ord
              FROM read_parquet(
                  '{root}/events/epoch=*/*.parquet', union_by_name = true)
            ),
            last AS (
              -- the whole row rides in ONE struct arg: a struct with
              -- NULL fields is itself non-NULL, so arg_max cannot
              -- drop pre-evolution rows whose lang_variant is NULL
              -- (arg_max ignores rows with a NULL arg)
              SELECT repo, path,
                     arg_max(struct_pack(
                         commit := commit, lsn := lsn, lang := lang,
                         lang_variant := lang_variant,
                         content_sha256 := content_sha256,
                         op := op), ord) AS r
              FROM ev GROUP BY repo, path
            )
            SELECT repo, path, r.commit AS commit, r.lsn AS lsn,
                   r.lang AS lang, r.lang_variant AS lang_variant,
                   r.content_sha256 AS content_sha256
            FROM last WHERE r.op <> 'D'
            ORDER BY repo, path
            """
        ).df().reset_index(drop=True)
        verify_sec = time.monotonic() - t1

        import pandas as pd

        got["lsn"] = got["lsn"].astype("int64")
        want["lsn"] = want["lsn"].astype("int64")
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        print(
            json.dumps(
                {
                    "n_events": n_events,
                    "n_epochs": n_epochs,
                    "cpus": cpus,
                    "merge_strategy": merge_strategy,
                    "hash_fn": hash_fn,
                    "replay_sec": round(replay_sec, 2),
                    "events_per_sec": round(n_events / replay_sec, 1),
                    "final_rows": int(len(got)),
                    "verified": "sha256_frame_equal_vs_duckdb_lww",
                    "verify_sec": round(verify_sec, 2),
                    "start_buckets": start_buckets,
                    "final_buckets": final_buckets,
                    "target_bucket_rows": target_bucket_rows,
                    "rebuckets": rebuckets,
                }
            )
        )
    finally:
        if os.environ.get("DATAX_SCALE_VERIFY") != "skip":
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Disk-bounded 10^9-event verified replay: rolling generate → apply →
fold-verify → reclaim, one epoch at a time.

The flat ladder (tools/scale_check.py + tools/verify_existing.py)
materializes the WHOLE raw log plus a hashed copy — ~130 + ~100 GB/1B
events — which exceeds this host's free disk. This tool exploits two
structural facts to verify 1e9 events in ~50 GB of peak disk:

1. The fixture is a pure function of ``lsn`` (fixtures/changelog.py
   ``events_df(lsn_range=...)``), so epoch e's events can be generated
   exactly when needed and deleted right after they are applied and
   folded — the full raw log never exists at once.
2. LWW is an associative per-key max, so the DuckDB oracle can FOLD:
   ``winners_e = per-key max(ord) over (winners_{e-1} ∪ epoch_e)``,
   carrying one row per live key (O(keys), not O(events)). Each fold
   uses the same spill-friendly max+join formulation as the oracle in
   tools/verify_existing.py (arg_max's non-spilling struct state blew
   89 GiB at 128M — BENCH/SCALE.md). Winners keep delete events too;
   the final compare filters op <> 'D'.

The final engine table (content → sha2, exported once from Spark) is
compared against the last winners frame entirely inside DuckDB with
that oracle's symmetric EXCEPT ALL (exit 1 on any mismatch) — the
same end-state gate as the flat ladder, on
exactly the same total event stream. This mirrors how a real 10^10
pipeline must verify itself: bounded-state reconciliation, never a
second copy of the firehose.

Usage: python tools/scale_rolling.py [n_events] [epochs] [cpus]
                                     [buckets] [root]
Prints one JSON line per epoch (progress) and a final summary line.
Resumable: re-run with the same root; committed epochs are skipped
(engine watermark) and the winners frame carries its own epoch marker.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import verify_existing as oracle  # noqa: E402


def du_gb(path: str) -> float:
    total = 0
    for dp, _dn, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total / 1e9


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 256
    root = sys.argv[5] if len(sys.argv) > 5 else "/root/scale_rolling"

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df
    from datax_spark.session import get_spark

    per_epoch = n_events // n_epochs
    # same fixture family as tools/scale_check.py: key space scales
    # with event count (n_repos = n/20k x 400 paths -> ~20M keys at
    # 1e9), schema evolves near the end, hot repo keeps ~32% of events
    spec = ChangelogSpec(
        n_events=n_events,
        n_repos=max(200, n_events // 20_000),
        paths_per_repo=400,
        events_per_epoch=per_epoch,
        evolve_from_epoch=max(1, n_epochs - 2),
        seed=42,
    )
    os.makedirs(root, exist_ok=True)
    events_root = os.path.join(root, "events")
    table_root = os.path.join(root, "table")
    metrics_root = os.path.join(root, "metrics")
    winners_dir = os.path.join(root, "winners")  # winners_<e>.parquet

    spark = get_spark("scale-rolling", cores=cpus, shuffle_partitions=cpus * 4)
    eng = ReplayEngine(
        spark, events_root, table_root, metrics_root,
        ReplayConfig(num_buckets=buckets),
    )
    os.makedirs(winners_dir, exist_ok=True)

    def winners_path(e: int) -> str:
        return os.path.join(winners_dir, f"winners_{e}.parquet")

    con = oracle.connect(root, threads=cpus)

    apply_s_total = 0.0
    t_wall0 = time.monotonic()
    start_epoch = eng.resume_epoch()
    for e in range(start_epoch, n_epochs):
        lo, hi = e * per_epoch, min((e + 1) * per_epoch, n_events)
        ep_dir = os.path.join(events_root, f"epoch={e}")
        hashed = os.path.join(root, f"hashed_{e}.parquet")

        # 1. generate exactly this epoch's slice (pure function of lsn)
        t0 = time.monotonic()
        if not os.path.exists(os.path.join(ep_dir, "_SUCCESS")):
            df = events_df(spark, spec, lsn_range=(lo, hi)).drop("epoch")
            if spec.evolve_from_epoch is not None and e < spec.evolve_from_epoch:
                df = df.drop("lang_variant")
            df.write.mode("overwrite").parquet(ep_dir)
        gen_s = time.monotonic() - t0

        # 2. hashed oracle feed BEFORE apply (content → sha2; schema
        # normalized so folds union cleanly across the evolution point)
        t0 = time.monotonic()
        oracle.hash_events(spark, ep_dir, hashed)
        hash_s = time.monotonic() - t0

        # 3. engine apply (the measured path)
        t0 = time.monotonic()
        res = eng.apply_epoch(e)
        apply_s = time.monotonic() - t0
        apply_s_total += apply_s

        # 4. fold the oracle: winners_e = per-key max-ord winner over
        # (winners_{e-1} ∪ epoch_e) — max+join formulation, spillable
        t0 = time.monotonic()
        prev = winners_path(e - 1)
        prev_src = (
            f"SELECT * FROM read_parquet('{prev}')"
            if os.path.exists(prev)
            else 'SELECT NULL::VARCHAR repo, NULL::VARCHAR path, '
                 'NULL::VARCHAR "commit", NULL::BIGINT lsn, NULL::VARCHAR op, '
                 'NULL::VARCHAR lang, NULL::VARCHAR lang_variant, '
                 'NULL::VARCHAR content_sha256, NULL::VARCHAR ord WHERE 1=0'
        )
        con.execute(f"""
            COPY (
              WITH all_ev AS (
                {prev_src}
                UNION ALL
                SELECT repo, path, "commit", lsn, op, lang, lang_variant,
                       content_sha256, ord
                FROM read_parquet('{hashed}/*.parquet')
              ),
              mx AS (
                SELECT repo, path, max(ord) AS mord
                FROM all_ev GROUP BY repo, path
              )
              SELECT a.* FROM all_ev a
              JOIN mx ON a.repo = mx.repo AND a.path = mx.path
                     AND a.ord = mx.mord
            ) TO '{winners_path(e)}' (FORMAT parquet)
        """)
        fold_s = time.monotonic() - t0
        n_keys = con.execute(
            f"SELECT count(*) FROM read_parquet('{winners_path(e)}')"
        ).fetchone()[0]

        # 5. reclaim: this epoch's raw + hashed + the previous winners
        shutil.rmtree(ep_dir, ignore_errors=True)
        shutil.rmtree(hashed, ignore_errors=True)
        if os.path.exists(prev):
            os.remove(prev) if os.path.isfile(prev) else shutil.rmtree(prev)
        print(json.dumps({
            "epoch": e, "events": hi - lo,
            "gen_s": round(gen_s, 1), "hash_s": round(hash_s, 1),
            "apply_s": round(apply_s, 1),
            "apply_ev_s": int((hi - lo) / apply_s),
            "fold_s": round(fold_s, 1), "oracle_keys": n_keys,
            "disk_gb": round(du_gb(root), 1),
        }), flush=True)

    # ---- final compare: engine table vs folded winners (op <> 'D')
    state = os.path.join(root, "engine_state_hashed")
    t0 = time.monotonic()
    if not os.path.exists(os.path.join(state, "_SUCCESS")):
        oracle.export_state(spark, table_root, state)
    spark.stop()  # release the JVM before DuckDB compares

    # the last fold's winners ARE the oracle: re-deriving them is an
    # O(keys) pass that also checks one winner per key
    oracle.build_winners(con, winners_path(n_epochs - 1))
    out = oracle.verdict(oracle.compare(con, state))
    verify_s = time.monotonic() - t0
    print(json.dumps({
        "n_events": n_events, "epochs": n_epochs, "cpus": cpus,
        "buckets": buckets,
        "apply_s_total": round(apply_s_total, 1),
        "events_per_sec_apply": int(n_events / apply_s_total),
        "wall_s_total": round(time.monotonic() - t_wall0, 1),
        **out,
        "verify_s": round(verify_s, 1),
        "peak_disk_note": "per-epoch disk_gb lines above",
    }), flush=True)
    if out["verified"] != oracle.VERIFIED:
        raise SystemExit(1)


if __name__ == "__main__":
    main()

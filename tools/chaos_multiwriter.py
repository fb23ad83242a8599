"""Concurrent-writer chaos at scale: replay ‖ compaction ‖ matview
refresh as THREE OS processes against ONE table, with SIGKILL
injection on the replay worker — the cross-process CAS exercised the
way a production deployment actually stresses it (a streaming ingest
job, a nightly compactor, and a derived-table refresher sharing a
table while the ingest crashes and resumes).

What is verified at the end, after all the carnage:

* engine final state == the DuckDB LWW oracle of
  tools/verify_existing.py over the FULL event log (per-key
  max-(commit,lsn) winners, symmetric EXCEPT ALL over
  (repo, path, commit, lsn, lang, lang_variant, sha2(content))) —
  0 missing / 0 extra rows;
* the materialized view == recomputing its GROUP BY from the same
  winners table — the concurrently-refreshed derived table converged;
* the manifest history is LINEAR (every snapshot's parent is the
  previous version) — the CAS admitted no fork;
* contention stats are REPORTED, not hidden: per-worker
  CommitConflictError retries, compaction rounds that landed, view
  refresh count, kill count.

Usage:
  python tools/chaos_multiwriter.py [n_events] [epochs] [cpus]
      [buckets] [root] [kills]
Prints one JSON summary line; exits non-zero on any verification
failure, and when ``kills`` > 0 but no kill fired (the replay finished
first, so the run checked contention but no SIGKILL recovery). The
first kill fires 20 s after the replay worker starts (each next one 15 s
later), so the ``epochs`` of ``n_events`` must outlast that delay.
DATAX_OBJECTSTORE_CHAOS=1 additionally routes every commit of every
process through an in-process conditional-put object store
(lake/objectstore.py) instead of the flock backend.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import verify_existing as oracle  # noqa: E402


_REPLAY_WORKER = """
    import json, sys
    from datax_spark.engine import ReplayEngine, ReplayConfig
    from datax_spark.lake.table import CommitConflictError
    from datax_spark.session import get_spark

    events_root, table_root, metrics_root, cpus, buckets = sys.argv[1:6]
    spark = get_spark(app_name="chaos_replay", cores=int(cpus),
                      shuffle_partitions=int(cpus) * 2)
    eng = ReplayEngine(spark, events_root, table_root, metrics_root,
                       ReplayConfig(num_buckets=int(buckets)))
    conflicts = 0
    for attempt in range(200):
        try:
            eng.run()
            break
        except CommitConflictError:
            conflicts += 1
            continue
    else:
        print("REPLAY GAVE UP", flush=True); sys.exit(2)
    print(json.dumps({"replay": "done", "conflicts": conflicts}),
          flush=True)
"""

_COMPACT_WORKER = """
    import json, sys, time
    from datax_spark.lake.table import CommitConflictError, LakeTable
    from datax_spark.session import get_spark

    table_root, stopfile, cpus = sys.argv[1], sys.argv[2], sys.argv[3]
    import os
    spark = get_spark(app_name="chaos_compact", cores=int(cpus),
                      shuffle_partitions=int(cpus) * 2)
    t = LakeTable(spark, table_root)
    ok = conflicts = 0
    while not os.path.exists(stopfile):
        try:
            t.compact()
            ok += 1
        except CommitConflictError:
            conflicts += 1
            time.sleep(0.2)
        except Exception as e:  # table mid-commit during a kill window
            print(f"compact transient: {type(e).__name__}: {e}",
                  flush=True)
            time.sleep(0.5)
        time.sleep(1.0)
    print(json.dumps({"compact": "done", "rounds": ok,
                      "conflicts": conflicts}), flush=True)
"""

_MATVIEW_WORKER = """
    import json, sys, time
    from datax_spark.lake.matview import AggView
    from datax_spark.lake.table import CommitConflictError, LakeTable
    from datax_spark.session import get_spark

    table_root, view_root, stopfile, cpus = sys.argv[1:5]
    import os
    spark = get_spark(app_name="chaos_matview", cores=int(cpus),
                      shuffle_partitions=int(cpus) * 2)
    src = LakeTable(spark, table_root)
    view = AggView(spark, view_root)
    refreshes = conflicts = 0
    while not os.path.exists(stopfile):
        try:
            r = view.refresh(src)
            if not r.skipped:
                refreshes += 1
        except CommitConflictError:
            conflicts += 1
        except Exception as e:
            print(f"view transient: {type(e).__name__}: {e}", flush=True)
            time.sleep(0.5)
        time.sleep(0.5)
    r = view.refresh(src)  # catch up to the final state
    if not r.skipped:
        refreshes += 1
    print(json.dumps({"matview": "done", "refreshes": refreshes,
                      "conflicts": conflicts}), flush=True)
"""


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    root = sys.argv[5] if len(sys.argv) > 5 else "/tmp/datax_chaos"
    n_kills = int(sys.argv[6]) if len(sys.argv) > 6 else 3

    from datax_spark.engine import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, write_events
    from datax_spark.lake.matview import AggView, AggViewSpec
    from datax_spark.lake.table import LakeTable
    from datax_spark.session import get_spark

    objectstore = os.environ.get("DATAX_OBJECTSTORE_CHAOS") == "1"
    srv = None
    worker_env = {**os.environ, "PYTHONPATH": REPO}
    if objectstore:
        from datax_spark.lake import io as lake_io
        from datax_spark.lake.objectstore import (
            FakeObjectStore,
            ObjectStoreBackend,
        )

        srv = FakeObjectStore(root)
        worker_env["DATAX_OBJECTSTORE_ENDPOINT"] = srv.endpoint
        os.environ["DATAX_OBJECTSTORE_ENDPOINT"] = srv.endpoint
        lake_io.set_backend(ObjectStoreBackend(srv.endpoint, lease=20.0))

    os.makedirs(root, exist_ok=True)
    events_root = os.path.join(root, "events")
    table_root = os.path.join(root, "table")
    metrics_root = os.path.join(root, "metrics")
    view_root = os.path.join(root, "view")
    hashed = os.path.join(root, "hashed")
    stopfile = os.path.join(root, "STOP")
    if os.path.exists(stopfile):
        os.unlink(stopfile)

    spec = ChangelogSpec(
        n_events=n_events,
        n_repos=max(200, n_events // 20_000),
        paths_per_repo=400,
        events_per_epoch=n_events // n_epochs,
        evolve_from_epoch=max(1, n_epochs - 2),
        seed=42,
    )

    # ---- phase 1: generate (parent Spark, released afterwards)
    t0 = time.monotonic()
    spark = get_spark("chaos-gen", cores=cpus, shuffle_partitions=cpus * 2)
    if not os.path.exists(os.path.join(events_root, "_SUCCESS")):
        write_events(spark, spec, events_root)
    if not os.path.exists(os.path.join(hashed, "_SUCCESS")):
        oracle.hash_events(spark, events_root, hashed)
    gen_s = time.monotonic() - t0

    # epoch 0 in-process so the table + view exist before the race
    eng0 = ReplayEngine(spark, events_root, table_root, metrics_root,
                        ReplayConfig(num_buckets=buckets))
    if eng0.resume_epoch() == 0:
        eng0.apply_epoch(0)
    if not os.path.exists(view_root):
        AggView.create(
            spark, view_root, eng0.table(),
            AggViewSpec(group_cols=("lang",), sum_cols=("lsn",),
                        max_cols=("lsn",),
                        group_fill=(("lang", "<null>"),)),
            num_buckets=8,
        )
    spark.stop()

    # ---- phase 2: the three-way race with kill injection
    def spawn(name: str, script: str, args: list[str],
              mem: str) -> subprocess.Popen:
        p = os.path.join(root, f"{name}.py")
        with open(p, "w") as fh:
            fh.write(textwrap.dedent(script))
        env = {**worker_env, "SPARK_DRIVER_MEM": mem}
        # own process group: SIGKILL must take the JVM down WITH the
        # python driver, or each kill leaks a multi-GB orphan
        return subprocess.Popen(
            [sys.executable, p, *args], cwd=root, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            start_new_session=True)

    t_race0 = time.monotonic()
    compact_p = spawn("compact", _COMPACT_WORKER,
                      [table_root, stopfile, "4"], "8g")
    view_p = spawn("matview", _MATVIEW_WORKER,
                   [table_root, view_root, stopfile, "4"], "8g")

    kills = 0
    replay_out = None
    while True:
        replay_p = spawn("replay", _REPLAY_WORKER,
                         [events_root, table_root, metrics_root,
                          str(max(8, cpus - 8)), str(buckets)], "24g")
        if kills < n_kills:
            # let it make progress, then SIGKILL mid-flight
            delay = 20 + 15 * kills
            try:
                replay_p.wait(timeout=delay)
            except subprocess.TimeoutExpired:
                os.killpg(replay_p.pid, signal.SIGKILL)
                replay_p.wait()
                kills += 1
                print(json.dumps({"killed_replay": kills}), flush=True)
                continue
            # finished before the kill window closed
            replay_out = replay_p.communicate()[0]
            break
        replay_out, _ = replay_p.communicate(timeout=3600)
        break
    assert replay_p.returncode == 0, f"replay failed: {replay_out}"
    race_s = time.monotonic() - t_race0

    with open(stopfile, "w") as fh:
        fh.write("done")
    compact_out, _ = compact_p.communicate(timeout=600)
    view_out, _ = view_p.communicate(timeout=600)
    assert compact_p.returncode == 0, f"compact failed: {compact_out}"
    assert view_p.returncode == 0, f"matview failed: {view_out}"

    def last_json(s: str) -> dict:
        for line in reversed(s.strip().splitlines()):
            try:
                return json.loads(line)
            except ValueError:
                continue
        return {}

    # ---- phase 3: verify (fresh Spark for the export, then DuckDB)
    spark = get_spark("chaos-verify", cores=cpus,
                      shuffle_partitions=cpus * 2)
    state = os.path.join(root, "engine_state_hashed")
    oracle.export_state(spark, table_root, state)
    view_rows = [r.asDict() for r in
                 AggView(spark, view_root).read().collect()]
    t = LakeTable(spark, table_root)
    vs = t.versions()
    linear = vs == list(range(vs[0], vs[0] + len(vs))) and all(
        t.manifest(v).parent == v - 1 for v in vs[1:])
    spark.stop()

    con = oracle.connect(root, threads=cpus)
    oracle.build_winners(con, hashed)
    out = oracle.verdict(oracle.compare(con, state))
    expected_view = {
        r[0]: (r[1], r[2], r[3]) for r in con.execute(
            "SELECT coalesce(lang, '<null>'), count(*), sum(lsn), "
            "max(lsn) FROM winners WHERE op <> 'D' GROUP BY 1").fetchall()
    }
    got_view = {r["lang"]: (r["n_rows"], r["sum_lsn"], r["max_lsn"])
                for r in view_rows}
    view_ok = expected_view == got_view
    kills_ok = n_kills == 0 or kills > 0

    summary = {
        "n_events": n_events,
        "epochs": n_epochs,
        "kills": kills,
        "gen_s": round(gen_s, 1),
        "race_s": round(race_s, 1),
        "apply_ev_s": int(n_events / race_s),
        "replay": last_json(replay_out),
        "compact": last_json(compact_out),
        "matview": last_json(view_out),
        **out,
        "backend": "objectstore" if objectstore else "localfs",
        "verify": {"view_equal": view_ok, "linear_history": linear,
                   "kills_fired": kills_ok},
    }
    print(json.dumps(summary), flush=True)
    if srv is not None:
        srv.close()
    if not (out["verified"] == oracle.VERIFIED and view_ok and linear and kills_ok):
        sys.exit(1)
    # reclaim the big intermediates on success
    for d in (hashed, os.path.join(root, "duck_spill")):
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()

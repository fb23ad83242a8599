"""Merge-on-read vs copy-on-write in the regime MoR exists for:
SMALL epochs against a LARGE base table.

A CoW merge's write cost is O(touched buckets of the TABLE): once an
epoch's keys scatter across every bucket (inevitable when batch keys
>> num_buckets), each epoch rewrites the whole table no matter how
small the batch. The MoR plan writes O(batch) delta files instead and
defers the merge to read/compact time. This tool measures exactly
that trade-off, end to end and value-verified:

  1. LOAD: one big epoch builds the base table (same cost both plans).
  2. INGEST: N small epochs applied with merge_strategy='spj' (CoW)
     and 'mor' (delta append) over identical event logs and table
     layouts; per-epoch apply times and sustained ev/s reported.
  3. For MoR, the deferred costs are measured too: the bucket-local
     merged read (pre-compaction) and the final compact() that folds
     deltas into fresh base files.
  4. VERIFY: both final tables are set-equal (per-row sha256) to the
     independent DuckDB LWW oracle of tools/verify_existing.py — the
     MoR state is checked BEFORE compaction (through the merged-read
     path) so the fast write path cannot hide a wrong answer behind
     compaction, and after it. Exits 1 on any mismatch.

A pure-CPU control brackets the two ingest runs (this host shows
CPU-steal bursts; same protocol as bench.py) so a distorted window is
visible in the artifact itself.

Usage: python tools/bench_mor.py [load_events] [inc_events_per_epoch]
                                 [n_inc_epochs] [cpus]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.cpu_control import cpu_control  # noqa: E402
from tools import verify_existing as oracle  # noqa: E402


def main() -> None:
    load_n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    inc_n = int(sys.argv[2]) if len(sys.argv) > 2 else 250_000
    n_inc = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cpus = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    from pyspark.sql import functions as F

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df
    from datax_spark.lake.table import LakeTable
    from datax_spark.session import get_spark

    spark = get_spark("bench-mor", cores=cpus)

    # One event log for both plans: epoch 0 = the big load, epochs
    # 1..N = the small increments. Same keyspace throughout (the
    # fixture derives keys from lsn), so increments hit existing keys.
    total = load_n + inc_n * n_inc
    spec = ChangelogSpec(
        n_events=total,
        n_repos=max(200, load_n // 800),  # keyspace ~= load_n / 2
        paths_per_repo=400,
        events_per_epoch=total,  # placeholder; epoch is overridden below
        evolve_from_epoch=None,
        seed=42,
    )
    root = tempfile.mkdtemp(prefix="datax_spark_mor_bench_")
    try:
        ev = events_df(spark, spec).withColumn(
            "epoch",
            F.when(F.col("lsn") < load_n, F.lit(0)).otherwise(
                ((F.col("lsn") - load_n) / inc_n).cast("long") + 1
            ),
        )
        ev.write.mode("overwrite").partitionBy("epoch").parquet(
            os.path.join(root, "events")
        )

        # Warm the whole pipeline once per strategy (JIT, codegen,
        # Arrow workers, events page cache) so the first timed strategy
        # doesn't carry one-time costs the second one skips — the same
        # asymmetry bench_scaling.py warms away.
        warm_spec = ChangelogSpec(
            n_events=100_000, n_repos=200, paths_per_repo=400,
            events_per_epoch=50_000, evolve_from_epoch=None, seed=7,
        )
        events_df(spark, warm_spec).write.mode("overwrite").partitionBy(
            "epoch"
        ).parquet(os.path.join(root, "warm_events"))
        for strategy in ("spj", "mor"):
            ReplayEngine(
                spark,
                events_root=os.path.join(root, "warm_events"),
                table_root=os.path.join(root, f"warm_table_{strategy}"),
                metrics_root=os.path.join(root, f"warm_metrics_{strategy}"),
                config=ReplayConfig(num_buckets=16, merge_strategy=strategy),
            ).run()
        # touch the event log once so neither strategy reads it cold
        spark.read.parquet(os.path.join(root, "events")).selectExpr(
            "count(*)"
        ).collect()

        controls = [cpu_control(spark, 250_000_000 * cpus, cpus * 4)]
        out: dict = {
            "load_events": load_n,
            "inc_events_per_epoch": inc_n,
            "n_inc_epochs": n_inc,
            "cpus": cpus,
            "num_buckets": 128,
            "strategies": {},
        }

        def run(strategy: str) -> dict:
            eng = ReplayEngine(
                spark,
                events_root=os.path.join(root, "events"),
                table_root=os.path.join(root, f"table_{strategy}"),
                metrics_root=os.path.join(root, f"metrics_{strategy}"),
                config=ReplayConfig(num_buckets=128, merge_strategy=strategy),
            )
            t0 = time.monotonic()
            eng.run(through_epoch=0)
            load_sec = time.monotonic() - t0
            t0 = time.monotonic()
            results = eng.run()
            inc_sec = time.monotonic() - t0
            r = {
                "load_sec": round(load_sec, 2),
                "inc_sec": round(inc_sec, 2),
                "inc_events_per_sec": round(inc_n * n_inc / inc_sec, 1),
                "per_epoch_sec": [
                    round(x.apply_ms / 1000, 2) for x in results if not x.skipped
                ],
            }
            if strategy == "mor":
                t = eng.table()
                t0 = time.monotonic()
                r["merged_rows"] = t.read().count()
                r["merged_read_sec"] = round(time.monotonic() - t0, 2)
                r["pending_delta_files"] = sum(
                    len(v) for v in t.manifest().delta_files.values()
                )
            return r

        for strategy in ("spj", "mor"):
            out["strategies"][strategy] = run(strategy)
            controls.append(cpu_control(spark, 250_000_000 * cpus, cpus * 4))

        # ---- independent DuckDB LWW oracle over the raw log: export
        # the MoR state through the MERGED READ first (pre-compaction),
        # so the fast write path cannot hide a wrong answer behind
        # compaction, then the folded base, then the CoW table ----
        hashed = os.path.join(root, "events_hashed")
        oracle.hash_events(spark, os.path.join(root, "events"), hashed)
        mor_root = os.path.join(root, "table_mor")
        states = {k: os.path.join(root, f"state_{k}") for k in ("pre", "post", "spj")}
        oracle.export_state(spark, mor_root, states["pre"])
        t0 = time.monotonic()
        LakeTable.load(spark, mor_root).compact()
        out["strategies"]["mor"]["compact_sec"] = round(time.monotonic() - t0, 2)
        oracle.export_state(spark, mor_root, states["post"])
        oracle.export_state(spark, os.path.join(root, "table_spj"), states["spj"])
        spark.stop()

        con = oracle.connect(root)
        oracle.build_winners(con, hashed)
        checks = {k: oracle.compare(con, p) for k, p in states.items()}
        mor, spj = out["strategies"]["mor"], out["strategies"]["spj"]
        mor["verified_rows_pre_compact"] = checks["pre"]["rows"]
        mor["verified_rows_post_compact"] = checks["post"]["rows"]
        spj["verified_rows"] = checks["spj"]["rows"]
        out.update(oracle.verdict({
            "rows": checks["spj"]["rows"],
            "oracle_rows": checks["spj"]["oracle_rows"],
            "missing": sum(c["missing"] for c in checks.values()),
            "extra": sum(c["extra"] for c in checks.values()),
        }))
        out["cpu_control_sec"] = controls
        out["mor_speedup_ingest"] = round(
            out["strategies"]["spj"]["inc_sec"] / out["strategies"]["mor"]["inc_sec"], 2
        )
        print(json.dumps(out))
        if out["verified"] != oracle.VERIFIED:
            sys.exit(1)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

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
  4. VERIFY: both final tables are frame-equal (per-row sha256) to an
     independent DuckDB LWW replay of the raw log — the MoR state is
     checked BEFORE compaction (through the merged-read path) so the
     fast write path cannot hide a wrong answer behind compaction.

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


def main() -> None:
    load_n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    inc_n = int(sys.argv[2]) if len(sys.argv) > 2 else 250_000
    n_inc = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cpus = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df
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

        # ---- independent DuckDB LWW oracle over the raw log ----
        con = duckdb.connect()
        want = con.execute(
            f"""
            WITH ev AS (
              SELECT * FROM read_parquet(
                  '{root}/events/epoch=*/*.parquet', union_by_name = true)
            ),
            w AS (
              SELECT *, row_number() OVER (
                  PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
              FROM ev
            )
            SELECT repo, path, commit, lsn, lang,
                   sha256(content) AS content_sha256
            FROM w WHERE rn = 1 AND op <> 'D'
            ORDER BY repo, path
            """
        ).df().reset_index(drop=True)

        def verify(table_root: str) -> int:
            from datax_spark.lake.table import LakeTable

            got = (
                LakeTable.load(spark, table_root)
                .read()
                .selectExpr(
                    "repo", "path", "commit", "lsn", "lang",
                    "sha2(content, 256) AS content_sha256",
                )
                .toPandas()
                .sort_values(["repo", "path"])
                .reset_index(drop=True)
            )
            got["lsn"] = got["lsn"].astype("int64")
            w = want.copy()
            w["lsn"] = w["lsn"].astype("int64")
            pd.testing.assert_frame_equal(got, w, check_dtype=False)
            return len(got)

        for strategy in ("spj", "mor"):
            out["strategies"][strategy] = run(strategy)
            controls.append(cpu_control(spark, 250_000_000 * cpus, cpus * 4))

        # verify MoR through the MERGED READ first (pre-compaction) …
        n = verify(os.path.join(root, "table_mor"))
        out["strategies"]["mor"]["verified_rows_pre_compact"] = n
        # … then compact and verify the folded base too
        from datax_spark.lake.table import LakeTable

        t = LakeTable.load(spark, os.path.join(root, "table_mor"))
        t0 = time.monotonic()
        t.compact()
        out["strategies"]["mor"]["compact_sec"] = round(time.monotonic() - t0, 2)
        out["strategies"]["mor"]["verified_rows_post_compact"] = verify(
            os.path.join(root, "table_mor")
        )
        out["strategies"]["spj"]["verified_rows"] = verify(
            os.path.join(root, "table_spj")
        )
        out["verified"] = "sha256_frame_equal_vs_duckdb_lww"
        out["cpu_control_sec"] = controls
        out["mor_speedup_ingest"] = round(
            out["strategies"]["spj"]["inc_sec"] / out["strategies"]["mor"]["inc_sec"], 2
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

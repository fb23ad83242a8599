"""SCD2 ingest at scale: merge-on-read (the default) vs copy-on-write
epochs over a monotonically-growing history table.

The property under test is the TREND, not one number: a history table
only ever grows, so a CoW epoch rewrites ever-larger bucket files and
its per-epoch time must climb with table size, while the MoR epoch
appends O(batch) deltas and must stay flat. Both final tables are
verified against an independent DuckDB window-SQL oracle (the same
LEAD-per-key interval construction as contract query
cdc_scd2_history) via an order-insensitive count+hash digest over
(repo, path, lsn, valid_to_lsn, is_current, sha256(content)) — and
the MoR table is verified BEFORE compaction (through the merged read)
so the fast write path cannot hide a wrong answer behind the fold.

A pure-CPU control brackets each strategy run (this host shows
CPU-steal bursts; same protocol as bench.py / bench_mor.py).

Usage: python tools/bench_scd2.py [total_events] [events_per_epoch]
                                  [cpus] [num_buckets]
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

ORACLE_SQL = """
    WITH ev AS (
      SELECT * FROM read_parquet('{events}/epoch=*/*.parquet',
                                 union_by_name = true)
    ),
    w AS (
      SELECT *,
             lead(lsn) OVER win AS valid_to_lsn
      FROM ev
      WINDOW win AS (PARTITION BY repo, path ORDER BY commit, lsn)
    )
    SELECT repo, path, lsn, valid_to_lsn,
           (valid_to_lsn IS NULL) AS is_current,
           sha256(content) AS content_sha256
    FROM w WHERE op <> 'D'
"""

DIGEST_SQL = """
    SELECT count(*) AS c,
           sum(hash(repo, path, lsn, coalesce(valid_to_lsn, -1),
                    is_current, coalesce(content_sha256, ''))) AS h
    FROM ({q})
"""


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    inc_n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    nb = int(sys.argv[4]) if len(sys.argv) > 4 else 128

    import duckdb
    from pyspark.sql import functions as F

    from datax_spark.fixtures.changelog import ChangelogSpec, events_df
    from datax_spark.lake.scd2 import Scd2Config, Scd2Engine
    from datax_spark.lake.table import LakeTable
    from datax_spark.session import get_spark

    spark = get_spark("bench-scd2", cores=cpus)

    n_epochs = total // inc_n
    spec = ChangelogSpec(
        n_events=total, n_repos=200, paths_per_repo=400,
        events_per_epoch=total, evolve_from_epoch=None, seed=42,
    )
    root = tempfile.mkdtemp(prefix="datax_spark_scd2_bench_")
    try:
        ev = events_df(spark, spec).withColumn(
            "epoch", (F.col("lsn") / inc_n).cast("long")
        )
        ev.write.mode("overwrite").partitionBy("epoch").parquet(
            os.path.join(root, "events")
        )

        # warm each strategy's whole pipeline once (JIT, Arrow workers)
        warm = ChangelogSpec(
            n_events=100_000, n_repos=200, paths_per_repo=400,
            events_per_epoch=50_000, evolve_from_epoch=None, seed=7,
        )
        events_df(spark, warm).write.mode("overwrite").partitionBy(
            "epoch"
        ).parquet(os.path.join(root, "warm_events"))
        for strategy in ("spj", "mor", "tiered"):
            Scd2Engine(
                spark,
                events_root=os.path.join(root, "warm_events"),
                table_root=os.path.join(root, f"warm_{strategy}"),
                config=Scd2Config(
                    num_buckets=16, strategy=strategy, compact_every=None
                ),
            ).run()
        spark.read.parquet(os.path.join(root, "events")).selectExpr(
            "count(*)"
        ).collect()

        controls = [cpu_control(spark, 250_000_000 * cpus, cpus * 4)]
        out: dict = {
            "total_events": total,
            "events_per_epoch": inc_n,
            "n_epochs": n_epochs,
            "cpus": cpus,
            "num_buckets": nb,
            "strategies": {},
        }

        con = duckdb.connect()
        oracle = ORACLE_SQL.format(events=os.path.join(root, "events"))
        want = con.execute(DIGEST_SQL.format(q=oracle)).fetchone()

        def digest(table_root: str, label: str) -> dict:
            t = LakeTable.load(spark, table_root)
            exp = os.path.join(root, f"export_{label}")
            t.read().selectExpr(
                "repo", "path", "lsn", "valid_to_lsn", "is_current",
                "sha2(content, 256) AS content_sha256",
            ).write.mode("overwrite").parquet(exp)
            got = con.execute(
                DIGEST_SQL.format(
                    q=f"SELECT * FROM read_parquet('{exp}/*.parquet')"
                )
            ).fetchone()
            if got != want:
                raise AssertionError(
                    f"{label}: digest mismatch got={got} want={want}"
                )
            return {"rows": got[0], "digest_ok": True}

        for strategy in ("spj", "mor", "tiered"):
            eng = Scd2Engine(
                spark,
                events_root=os.path.join(root, "events"),
                table_root=os.path.join(root, f"table_{strategy}"),
                config=Scd2Config(
                    num_buckets=nb, strategy=strategy, compact_every=None
                ),
            )
            t0 = time.monotonic()
            results = eng.run()
            sec = time.monotonic() - t0
            r = {
                "ingest_sec": round(sec, 2),
                "events_per_sec": round(total / sec, 1),
                "per_epoch_sec": [
                    round(x.phase_ms["total"] / 1000, 2)
                    for x in results if not x.skipped
                ],
            }
            if strategy == "tiered":
                t = LakeTable.load(spark, os.path.join(root, "table_tiered"))
                r["verify"] = digest(os.path.join(root, "table_tiered"), "tiered")
                from datax_spark.lake.scd2 import compact_closed
                t0 = time.monotonic()
                r["compacted_buckets"] = compact_closed(t)
                r["compact_closed_sec"] = round(time.monotonic() - t0, 2)
                r["verify_post_compact"] = digest(
                    os.path.join(root, "table_tiered"), "tiered_post"
                )
                # current-state read cost: the read that skips all
                # closed files via is_current stats
                t0 = time.monotonic()
                r["current_rows"] = t.read(
                    filters=[("is_current", "=", True)]
                ).count()
                r["current_read_sec"] = round(time.monotonic() - t0, 2)
            elif strategy == "mor":
                t = eng.table()
                r["pending_delta_files"] = sum(
                    len(v) for v in t.manifest().delta_files.values()
                )
                t0 = time.monotonic()
                r["merged_read_rows"] = t.read().count()
                r["merged_read_sec"] = round(time.monotonic() - t0, 2)
                # verify through the merged read BEFORE compaction
                r["verify_pre_compact"] = digest(
                    os.path.join(root, "table_mor"), "mor_pre"
                )
                t0 = time.monotonic()
                t.compact()
                r["compact_sec"] = round(time.monotonic() - t0, 2)
                r["verify_post_compact"] = digest(
                    os.path.join(root, "table_mor"), "mor_post"
                )
            else:
                r["verify"] = digest(os.path.join(root, "table_spj"), "spj")
            out["strategies"][strategy] = r
            controls.append(cpu_control(spark, 250_000_000 * cpus, cpus * 4))

        spj_ep = out["strategies"]["spj"]["per_epoch_sec"]
        tr_ep = out["strategies"]["tiered"]["per_epoch_sec"]
        # the trend claim, stated in the artifact: last-epoch cost
        # ratio (CoW climbs with the table, tiered stays ~flat)
        out["last_epoch_spj_over_tiered"] = round(spj_ep[-1] / tr_ep[-1], 2)
        out["tiered_speedup_ingest"] = round(
            out["strategies"]["spj"]["ingest_sec"]
            / out["strategies"]["tiered"]["ingest_sec"], 2,
        )
        out["cpu_control_sec"] = controls
        out["verified"] = "duckdb_window_oracle_count_plus_hash_digest"
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

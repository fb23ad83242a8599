"""SCD2 ingest at scale: epochs of the tiered plan over a
monotonically-growing history table.

The property under test is the TREND, not one number: a history table
only ever grows, and a tiered epoch reads only its buckets' open
files and appends one closed file each, so its per-epoch time must
stay flat while the table grows (``per_epoch_sec``,
``last_over_first_epoch``). The final table is verified against an
independent DuckDB window-SQL oracle (the same LEAD-per-key interval
construction as contract query cdc_scd2_history) via an
order-insensitive count+hash digest over (repo, path, lsn,
valid_to_lsn, is_current, sha256(content)), both before and after
``compact_closed``; the current-state read (``is_current`` stats skip
every closed file) is timed too.

A pure-CPU control brackets the run (this host shows CPU-steal
bursts; same protocol as bench.py / bench_mor.py).

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
    from datax_spark.lake.scd2 import Scd2Config, Scd2Engine, compact_closed
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

        # warm the whole pipeline once (JIT, Arrow workers)
        warm = ChangelogSpec(
            n_events=100_000, n_repos=200, paths_per_repo=400,
            events_per_epoch=50_000, evolve_from_epoch=None, seed=7,
        )
        events_df(spark, warm).write.mode("overwrite").partitionBy(
            "epoch"
        ).parquet(os.path.join(root, "warm_events"))
        Scd2Engine(
            spark,
            events_root=os.path.join(root, "warm_events"),
            table_root=os.path.join(root, "warm_table"),
            config=Scd2Config(num_buckets=16, compact_every=None),
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

        troot = os.path.join(root, "table")
        eng = Scd2Engine(
            spark,
            events_root=os.path.join(root, "events"),
            table_root=troot,
            config=Scd2Config(num_buckets=nb, compact_every=None),
        )
        t0 = time.monotonic()
        results = eng.run()
        sec = time.monotonic() - t0
        per_epoch = [
            round(x.phase_ms["total"] / 1000, 2) for x in results if not x.skipped
        ]
        out["ingest_sec"] = round(sec, 2)
        out["events_per_sec"] = round(total / sec, 1)
        out["per_epoch_sec"] = per_epoch
        # the trend claim, stated in the artifact: flat per-epoch cost
        out["last_over_first_epoch"] = round(per_epoch[-1] / per_epoch[0], 2)
        out["versions_written"] = sum(x.versions_written for x in results)
        out["verify"] = digest(troot, "pre_compact")
        t0 = time.monotonic()
        out["compacted_buckets"] = compact_closed(eng.table())
        out["compact_closed_sec"] = round(time.monotonic() - t0, 2)
        out["verify_post_compact"] = digest(troot, "post_compact")
        # current-state read cost: the read that skips all closed
        # files via is_current stats
        t0 = time.monotonic()
        out["current_rows"] = eng.table().read(
            filters=[("is_current", "=", True)]
        ).count()
        out["current_read_sec"] = round(time.monotonic() - t0, 2)
        controls.append(cpu_control(spark, 250_000_000 * cpus, cpus * 4))

        out["cpu_control_sec"] = controls
        out["verified"] = "duckdb_window_oracle_count_plus_hash_digest"
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

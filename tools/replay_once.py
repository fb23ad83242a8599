"""Subprocess worker for the scaling benchmark.

Modes:
  gen     <events_root> <n_events>           — write the change log (seed 42)
  replay  <events_root> <work_root> <cpus>   — replay it on local[cpus]
  control <cpus>                             — pure-CPU codegen control run

Each invocation builds its own SparkSession so parallelism is a true
process-level setting (the sandbox analog of submitting to clusters of
N vs 4N executors with spark-submit --py-files; see BENCH/BASELINE.md).
Prints one JSON line with wall time and throughput.

The replayed job is the FULL contractual pipeline: parquet scan →
LWW dedup fused with lineage stats (one shuffle) → Arrow-vectorized
content transforms (normalize + sha256 + token count; north_star
mandates the Arrow UDF path) → bucket-pruned CoW MERGE → two-phase
epoch commit → metrics. Plan shape (shuffle partitions, bucket count)
is FIXED across cluster sizes; only parallelism varies.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datax_spark.session import get_spark  # noqa: E402
from tools.cpu_control import cpu_control  # noqa: E402

SHUFFLE_PARTITIONS = 64
NUM_BUCKETS = 32
# shuffle scratch on tmpfs: removes the virtual-disk variable from the
# measurement (a real cluster has NVMe scratch per executor)
LOCAL_DIR_CONF = {"spark.local.dir": "/dev/shm/datax_spark_sparktmp"}


def size_conf(cpus: int) -> dict:
    """Configs that make local[N] faithfully model an N-core executor:
    without ActiveProcessorCount the JVM sizes GC/JIT/netty pools to
    the HOST's 32 cores, silently granting the small size extra
    parallelism and deflating measured scaling."""
    return {
        **LOCAL_DIR_CONF,
        "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={cpus}",
    }


def spec_for(n_events: int):
    from datax_spark.fixtures.changelog import ChangelogSpec

    return ChangelogSpec(
        n_events=n_events,
        n_repos=2_000,
        paths_per_repo=2_000,  # ~4M keyspace: the CoW merge rewrites a real table
        events_per_epoch=max(2_000_000, n_events // 2),
        evolve_from_epoch=1,
        seed=42,
    )


def content_transforms(df):
    from datax_spark.functions.content import (
        normalize_trailing_ws,
        sha256_hex,
        token_count_bpeish,
    )

    if "content" not in df.columns:
        return df
    return (
        df.withColumn("content", normalize_trailing_ws("content"))
        .withColumn("content_sha256", sha256_hex("content"))
        .withColumn("n_tokens", token_count_bpeish("content"))
    )


def main() -> None:
    mode = sys.argv[1]
    if mode == "gen":
        events_root, n_events = sys.argv[2], int(sys.argv[3])
        from datax_spark.fixtures.changelog import write_events

        spark = get_spark("scaling-gen", cores=32, extra_conf=size_conf(32))
        t0 = time.monotonic()
        write_events(spark, spec_for(n_events), events_root)
        print(json.dumps({"mode": "gen", "sec": round(time.monotonic() - t0, 2)}))
        return

    if mode == "control":
        # pure-CPU, codegen-only workload: measures what speedup the
        # BOX can deliver at this thread count (vCPU oversubscription /
        # steal ceiling), independent of any engine design choice.
        cpus = int(sys.argv[2])
        spark = get_spark(f"scaling-control-{cpus}", cores=cpus, extra_conf=size_conf(cpus))
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        best = min(cpu_control(spark, 20_000_000_000, cpus * 4) for _ in range(3))
        print(json.dumps({"mode": "control", "cpus": cpus, "sec": round(best, 2)}))
        return

    if mode == "replay":
        events_root, work_root, cpus = sys.argv[2], sys.argv[3], int(sys.argv[4])
        strategy = sys.argv[5] if len(sys.argv) > 5 else "spj"
        from datax_spark.engine.replay import ReplayConfig, ReplayEngine

        spark = get_spark(
            f"scaling-replay-{cpus}",
            cores=cpus,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=size_conf(cpus),
        )
        cfg = ReplayConfig(
            num_buckets=NUM_BUCKETS,
            transforms=(content_transforms,),
            merge_strategy=strategy,
        )
        eng = ReplayEngine(
            spark,
            events_root=events_root,
            table_root=os.path.join(work_root, f"table_{cpus}"),
            metrics_root=os.path.join(work_root, f"metrics_{cpus}"),
            config=cfg,
        )
        # Warm with a MINI REPLAY through the same code paths (both
        # schema shapes), not just a range-sum: one-time codegen/JIT
        # compile and Arrow worker startup are constants that do not
        # parallelize, so leaving them in the timed window would
        # understate the steady-state N->4N scaling that a sustained
        # 10^10-event stream actually sees (same warm protocol as
        # bench.py; per-phase timings show warm epochs scale 3.8-4.0x).
        from datax_spark.fixtures.changelog import ChangelogSpec, write_events

        warm = ChangelogSpec(
            n_events=100_000, n_repos=50, paths_per_repo=100,
            events_per_epoch=50_000, evolve_from_epoch=1, seed=7,
        )
        # per-process root: each trial is a fresh JVM and must pay (and
        # discard) its own warmup — a reused warm table would no-op
        warm_root = os.path.join(work_root, f"warm_{cpus}_{os.getpid()}")
        write_events(spark, warm, os.path.join(warm_root, "events"))
        ReplayEngine(
            spark,
            events_root=os.path.join(warm_root, "events"),
            table_root=os.path.join(warm_root, "table"),
            metrics_root=os.path.join(warm_root, "metrics"),
            config=cfg,
        ).run()
        n_events = spark.read.parquet(events_root).count()
        t0 = time.monotonic()
        results = eng.run()
        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "mode": "replay",
                    "cpus": cpus,
                    "merge_strategy": strategy,
                    "events": n_events,
                    "epochs": len(results),
                    "rows_after": results[-1].rows_after if results else 0,
                    "sec": round(wall, 2),
                    "events_per_sec": round(n_events / wall, 1),
                    "phase_ms": [r.phase_ms for r in results],
                }
            )
        )
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()

"""Streaming-ingest throughput: drain a changelog through the
Structured Streaming sink (``streaming/replay_stream.py``) and verify
the final table against the independent DuckDB LWW oracle of
``tools/verify_existing.py`` (exit 1 on any mismatch) — the
stream-shaped companion to ``tools/scale_check.py`` (same fixture,
same verification gate, same no-transform config, so the batch and
streaming numbers compare directly).

Micro-batch shaping vs correctness (module docstring of
``replay_stream.py``): the fixture hash-scatters LSNs across each
epoch's files, so a CoW plan needs batch boundaries aligned to epoch
directories (a delete in batch i followed by an EARLIER update in
batch j>i would resurrect the key); ``merge_strategy="mor"`` resolves
winners by event order at read time, so ANY file-grained batching is
correct — that arm is the true streaming cadence story and the
default here.

Usage: python tools/bench_stream_ingest.py [n_events] [n_epochs]
           [cpus] [merge_strategy] [buckets] [batches_per_epoch]

merge_strategy: mor (default; batches_per_epoch may be > 1) or
spj (batches_per_epoch forced to 1, mft = files per epoch —
fail-loud if the epoch dirs have unequal file counts).
Prints one JSON line with per-arm wall, events/s, batch count and a
pure-CPU control.
"""

from __future__ import annotations

import glob
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
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    merge_strategy = sys.argv[4] if len(sys.argv) > 4 else "mor"
    buckets = int(sys.argv[5]) if len(sys.argv) > 5 else 128
    batches_per_epoch = int(sys.argv[6]) if len(sys.argv) > 6 else 2

    from pyspark.sql import types as T

    from datax_spark.engine.replay import ReplayConfig
    from datax_spark.fixtures.changelog import ChangelogSpec, write_events
    from datax_spark.session import get_spark
    from datax_spark.streaming.replay_stream import StreamReplay

    spark = get_spark("bench-stream-ingest", cores=cpus)

    spec = ChangelogSpec(
        n_events=n_events,
        n_repos=max(200, n_events // 20_000),
        paths_per_repo=400,
        events_per_epoch=-(-n_events // n_epochs),
        evolve_from_epoch=max(1, n_epochs - 2),
        seed=42,
    )
    root = tempfile.mkdtemp(prefix="datax_stream_bench_")
    try:
        write_events(spark, spec, os.path.join(root, "events"))  # untimed

        per_epoch = [
            len(glob.glob(os.path.join(root, "events", f"epoch={e}", "*.parquet")))
            for e in range(spec.n_epochs)
        ]
        if merge_strategy == "mor":
            # MoR tolerates ANY file-grained batching (read-time event-
            # order resolution) — stream the raw hash-scattered layout
            stream_root = os.path.join(root, "events")
            mft = max(1, max(per_epoch) // max(1, batches_per_epoch))
        else:
            # CoW requires event-order-contiguous batches (the engine's
            # delete-order guard fails loudly otherwise): stage the log
            # as one flat dir written epoch-by-epoch — a binlog/WAL
            # tail IS offset-ordered, this models that feed. The file
            # source batches by (mod time, path); sequential writes
            # with equal file counts make batch k exactly epoch k.
            stream_root = os.path.join(root, "events_ordered")
            files_per_epoch = cpus
            for e in range(spec.n_epochs):
                (
                    spark.read.option("mergeSchema", "true")
                    .parquet(os.path.join(root, "events", f"epoch={e}"))
                    .repartition(files_per_epoch)
                    .write.mode("append")
                    .parquet(stream_root)
                )
                time.sleep(1.05)  # distinct mod-times per epoch
            mft = files_per_epoch

        # the stream's schema must carry the evolved column even though
        # the earliest files lack it (they batch first): merged infer,
        # missing columns null-filled by the file source per batch
        schema = T.StructType(
            [
                f
                for f in spark.read.option("mergeSchema", "true")
                .parquet(os.path.join(root, "events"))
                .schema.fields
                if f.name != "epoch"
            ]
        )

        controls = [cpu_control(spark, 100_000_000 * cpus, cpus * 4)]
        sr = StreamReplay(
            spark,
            stream_root,
            os.path.join(root, "table"),
            os.path.join(root, "ckpt"),
            config=ReplayConfig(num_buckets=buckets, merge_strategy=merge_strategy),
            max_files_per_trigger=mft,
            schema=schema,
        )
        t0 = time.monotonic()
        sr.run_available_now()
        drain_sec = time.monotonic() - t0
        controls.append(cpu_control(spark, 100_000_000 * cpus, cpus * 4))
        n_batches = len(sr.applied_batches)

        print(
            json.dumps(
                {
                    "phase": "drain_done",
                    "n_events": n_events,
                    "merge_strategy": merge_strategy,
                    "drain_sec": round(drain_sec, 2),
                    "events_per_sec": round(n_events / drain_sec, 1),
                    "n_batches": n_batches,
                    "max_files_per_trigger": mft,
                }
            ),
            flush=True,
        )

        # DATAX_STREAM_VERIFY=join: stop after the measured drain and
        # KEEP the root for tools/verify_existing.py — its own process
        # gets the whole box (an in-process verify shares RAM with this
        # process's spent 48g JVM, which OOM'd an 8M verify).
        if os.environ.get("DATAX_STREAM_VERIFY") == "join":
            spark.stop()
            print(json.dumps({"phase": "root_kept", "root": root,
                              "verify": f"python tools/verify_existing.py {root}"}),
                  flush=True)
            return

        # ---- verification: merged read (MoR resolves deltas) vs the
        # independent DuckDB LWW oracle over the raw log ----
        t1 = time.monotonic()
        hashed = os.path.join(root, "events_hashed")
        state = os.path.join(root, "engine_state_hashed")
        oracle.hash_events(spark, os.path.join(root, "events"), hashed)
        oracle.export_state(spark, os.path.join(root, "table"), state)
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
                    "buckets": buckets,
                    "drain_sec": round(drain_sec, 2),
                    "events_per_sec": round(n_events / drain_sec, 1),
                    "n_batches": n_batches,
                    "max_files_per_trigger": mft,
                    **out,
                    "verify_sec": round(verify_sec, 2),
                    "cpu_control_sec": controls,
                }
            )
        )
        if out["verified"] != oracle.VERIFIED:
            sys.exit(1)
    finally:
        if os.environ.get("DATAX_STREAM_VERIFY") != "join":
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Command-line entry point — the analog of ``datax.py job.json``
(``core/src/main/java/com/alibaba/datax/core/Engine.java:117-170``
parses -job/-jobid/-mode; here argparse + a JSON job spec).

Job kinds:

* ``{"job": {...}}`` — a DataX-style reader/transformer/writer spec
  executed by ``jobspec.run_job`` (one declarative Spark plan).
* ``{"replay": {...}}`` — the CDC engine:
  ``{"replay": {"events_root": ..., "table_root": ..., "metrics_root":
  ..., "num_buckets": 64, "salt_buckets": null, "through_epoch": null,
  "streaming": false, "checkpoint_root": ...,
  "speed": {"record": null, "byte": null}}}`` — ``speed`` is the
  DataX ``job.setting.speed`` flow-control shape (records/sec and
  bytes/sec caps on the sustained replay rate; also accepted as
  ``max_events_per_sec`` / ``max_bytes_per_sec``); optional
  ``"target_bucket_rows"`` / ``"max_buckets"`` turn on adaptive
  bucket-count evolution (the engine rebuckets the table as it grows);
  optional ``"merge_strategy"`` (spj default | mor) picks the epoch's
  physical plan
* ``{"tail": {...}}`` — kafka changelog tail + apply in one job (the
  scheduled binlog-tail shape): ``{"tail": {"bootstrap_servers":
  "host:9092", "topic": ..., "value_format": "flat" | "debezium",
  "message_format": "v1" | "v2" (KIP-98 record batches, Fetch v4),
  "events_root": ..., "table_root": ..., "metrics_root": ...,
  "max_rounds": null, ...same engine keys as replay...}}`` — each
  invocation drains the topic in bounded rounds (crash-safe spool +
  watermark-gated apply; re-run resumes from the checkpoint);
  ``debezium`` tails a real CDC connector's envelope topic.
* ``{"maintenance": {...}}`` — table maintenance (the Iceberg
  procedures surface as a job spec): ``{"maintenance": {"table_root":
  ..., "actions": [{"compact": {"zorder_cols": [...]}}, {"rebucket":
  {"num_buckets": 256}}, {"tag": {"name": "nightly"}},
  {"rollback": {"version": "nightly"}}, {"expire_snapshots":
  {"keep_last": 3}}, {"delete_where": {"where": "lang = 'tcl'"}} (or
  ``"filters": [["lang", "=", "tcl"]]``), {"update_where": {"set":
  {"lang": "'archived'"}, "where": ...}}, {"vacuum": {}}]}}`` —
  actions run in order, each committing its own snapshot. In
  ``update_where.set`` a plain string is ALWAYS parsed as a SQL
  expression evaluated over the row's old values (SQL UPDATE
  semantics) — quote string literals (``"'archived'"``), and pass
  numbers as JSON numbers.
* ``{"matview": {...}}`` — incrementally-maintained aggregate view:
  ``{"matview": {"source_root": ..., "view_root": ..., "spec":
  {"group_cols": [...], "sum_cols": [...], "min_cols": [...],
  "max_cols": [...], "group_fill": [["lang", "@null"]]},
  "num_buckets": 16, "to_version": null, "rebuild": false}}`` —
  creates the view when absent, then refreshes it to the source head
  through the preimage change feed (the scheduled-sync shape;
  idempotent). Views can also ride the replay job itself:
  ``"materialized_views": ["/path/to/view", ...]`` in the replay
  spec refreshes them after every committed epoch, and
  ``"join_views": [["/path/to/view", "/path/to/dim"], ...]`` does the
  same for fact ⋈ dim join views (lake/joinview.py).
* ``{"scd2": {...}}`` — SCD Type-2 history target (lake/scd2.py):
  ``{"scd2": {"events_root": ..., "table_root": ..., "keys":
  ["repo", "path"], "order_cols": ["commit", "lsn"], "num_buckets":
  32, "compact_every": 8}}`` — replays the changelog into a table
  keeping EVERY version as a validity interval, in the tiered layout
  (per bucket one open file and immutable closed files; exactly-once
  per epoch; re-run resumes at the committed watermark, the
  scheduled-sync shape).
* ``{"replicate": {...}}`` — lake-to-lake incremental replication:
  ``{"replicate": {"source_root": ..., "replica_root": ...,
  "to_version": null}}`` (idempotent; re-run = no-op at the same
  source version). With ``"streaming": true`` (+ ``checkpoint_root``)
  the replica follows the source through the ``lake_changes``
  Structured Streaming source instead (one availableNow drain per
  invocation — the scheduled-replication shape; exactly-once from
  checkpoint + replica watermark). With ``"jdbc": {"url": ...,
  "table": ...}`` instead of ``replica_root`` the target is an RDBMS
  table (``lake/jdbc_sync.py`` — the reference's mysqlwriter-fed
  incremental pipeline; exactly-once via the target's own ACID
  transaction).

Usage (local or via spark-submit):

    python -m datax_spark --job job.json [--cores 8]
    spark-submit --py-files datax_spark.zip -m ...  # same spec file

Exit code 0 on success; failures propagate (the reference aborts the
process on job failure too, ``Engine.java:40-66``).
"""

from __future__ import annotations

import argparse
import json
import sys


# the keys each block below reads; any other key is refused, so a typo
# or a removed setting cannot silently run with the defaults
_ENGINE_KEYS = frozenset({
    "events_root", "table_root", "metrics_root", "speed", "keys",
    "order_cols", "num_buckets", "salt_buckets", "max_events_per_sec",
    "max_bytes_per_sec", "target_bucket_rows", "max_buckets",
    "merge_strategy", "stats_cols", "bloom_cols", "materialized_views",
    "join_views", "view_refresh_every",
})
_BLOCK_KEYS = {
    "replay": _ENGINE_KEYS | {
        "streaming", "checkpoint_root", "max_files_per_trigger",
        "bootstrap", "through_epoch",
    },
    "tail": _ENGINE_KEYS | {
        "bootstrap_servers", "topic", "long_cols", "value_format",
        "message_format", "max_rounds",
    },
    "scd2": frozenset({
        "events_root", "table_root", "keys", "order_cols", "num_buckets",
        "compact_every",
    }),
}


def _check_block_keys(spec: dict) -> None:
    for block, known in _BLOCK_KEYS.items():
        unknown = sorted(set(spec.get(block) or ()) - known)
        if unknown:
            raise ValueError(
                f"unknown key(s) in the {block!r} block: {', '.join(unknown)} "
                f"(known: {', '.join(sorted(known))})"
            )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="datax_spark")
    ap.add_argument("--job", required=True, help="path to a JSON job spec")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores")
    ap.add_argument("--dry-run", action="store_true", help="validate + plan only")
    args = ap.parse_args(argv)

    with open(args.job) as fh:
        spec = json.load(fh)
    _check_block_keys(spec)

    from datax_spark.session import get_spark

    spark = get_spark("datax_spark_cli", cores=args.cores)

    if "replay" in spec or "tail" in spec:
        from datax_spark.engine.replay import ReplayConfig, ReplayEngine

        r = spec.get("replay") or spec["tail"]
        speed = r.get("speed", {})  # DataX job.setting.speed shape
        cfg = ReplayConfig(
            keys=tuple(r.get("keys", ("repo", "path"))),
            order_cols=tuple(r.get("order_cols", ("commit", "lsn"))),
            num_buckets=int(r.get("num_buckets", 64)),
            salt_buckets=r.get("salt_buckets"),
            max_events_per_sec=r.get("max_events_per_sec", speed.get("record")),
            max_bytes_per_sec=r.get("max_bytes_per_sec", speed.get("byte")),
            # adaptive bucket-count evolution (null = manual rebucket)
            target_bucket_rows=r.get("target_bucket_rows"),
            max_buckets=int(r.get("max_buckets", 1 << 16)),
            merge_strategy=r.get("merge_strategy", "spj"),
            # file-skipping metadata for tables this run creates
            stats_cols=tuple(r.get("stats_cols", ())),
            bloom_cols=tuple(r.get("bloom_cols", ())),
            # derived tables the engine advances after each epoch
            materialized_views=tuple(r.get("materialized_views", ())),
            # join views: [[view_root, dim_root], ...]
            join_views=tuple(
                (v, d) for v, d in r.get("join_views", ())
            ),
            view_refresh_every=int(r.get("view_refresh_every", 1)),
        )
        if "tail" in spec:
            # kafka changelog tail -> epoch spools -> engine, in one
            # job: the scheduled binlog-tail shape (each invocation
            # drains the topic in bounded rounds and applies them)
            from datax_spark.streaming.kafka_tail import KafkaTail

            tail = KafkaTail(
                spark,
                r["events_root"],
                bootstrap_servers=r["bootstrap_servers"],
                topic=r["topic"],
                long_cols=tuple(r.get("long_cols", ("lsn",))),
                value_format=r.get("value_format", "flat"),
                message_format=r.get("message_format", "v1"),
            )
            eng = ReplayEngine(
                spark,
                events_root=r["events_root"],
                table_root=r["table_root"],
                metrics_root=r["metrics_root"],
                config=cfg,
            )
            if args.dry_run:
                epoch, ckpt = tail.checkpoint()
                print(json.dumps({"mode": "tail", "next_epoch": epoch,
                                  "checkpoint": ckpt, "validated": True}))
                return 0
            applied = tail.run(eng, max_rounds=r.get("max_rounds"))
            print(json.dumps({
                "mode": "tail",
                "topic": r["topic"],
                "value_format": tail.value_format,
                "epochs_applied": applied,
                "rows_after": eng.table().total_rows(),
            }))
            return 0

        if r.get("streaming"):
            from datax_spark.streaming import StreamReplay

            sr = StreamReplay(
                spark,
                r["events_root"],
                r["table_root"],
                r["checkpoint_root"],
                config=cfg,
                max_files_per_trigger=r.get("max_files_per_trigger"),
            )
            if args.dry_run:
                print(json.dumps({"mode": "stream_replay", "validated": True}))
                return 0
            sr.run_available_now()
            print(json.dumps({"mode": "stream_replay", "batches": sr.applied_batches,
                              "rows": sr.table().total_rows()}))
            return 0

        eng = ReplayEngine(
            spark,
            events_root=r["events_root"],
            table_root=r["table_root"],
            metrics_root=r["metrics_root"],
            config=cfg,
        )
        if args.dry_run:
            print(json.dumps({"mode": "replay", "epochs": eng.discover_epochs(),
                              "resume_from": eng.resume_epoch()}))
            return 0
        # optional initial snapshot (full load -> binlog handoff):
        # {"bootstrap": {"snapshot_path": <parquet of source STATE>,
        #                "watermark_lsn": <highest lsn in the snapshot>}}
        # idempotent — reruns of the same job spec skip a done load
        boot = None
        if r.get("bootstrap"):
            b = r["bootstrap"]
            res = eng.bootstrap(
                spark.read.parquet(b["snapshot_path"]),
                int(b["watermark_lsn"]),
            )
            boot = {
                "skipped": res.skipped,
                "bootstrap_lsn": res.bootstrap_lsn,
                "rows_loaded": res.n_rows,
            }
        results = eng.run(through_epoch=r.get("through_epoch"))
        applied = [x for x in results if not x.skipped]
        print(json.dumps({
            "mode": "replay",
            "master": spark.sparkContext.master,
            "epochs_applied": [x.epoch for x in applied],
            "epochs_skipped": [x.epoch for x in results if x.skipped],
            "rows_after": results[-1].rows_after if results else None,
            # replay-only wall (sum of per-epoch apply walls): excludes
            # JVM/session cold start, so two spark-submit runs at N and
            # 4N cores compare engine throughput, not startup noise.
            "events_applied": sum(x.n_events for x in applied),
            "replay_sec": round(sum(x.apply_ms for x in applied) / 1000.0, 3),
            # adaptive bucket evolution events, if target_bucket_rows set
            "rebuckets": [
                {"epoch": x.epoch, "to": x.rebucketed_to}
                for x in applied
                if x.rebucketed_to
            ],
            "bootstrap": boot,
        }))
        return 0

    if "replicate" in spec:
        # CDC fan-out as a job: follow a source LakeTable's change feed
        # into a replica (lake/replicate.py) — the otsstreamreader →
        # keyed-upsert-writer job shape, snapshot-to-snapshot.
        from datax_spark.lake import LakeTable
        from datax_spark.lake.replicate import sync

        r = spec["replicate"]
        src = LakeTable.load(spark, r["source_root"])
        if "jdbc" in r:
            from datax_spark.lake.jdbc_sync import jdbc_sync

            if args.dry_run:
                print(json.dumps({
                    "mode": "replicate_jdbc",
                    "source_version": src.current_version(),
                    "target": r["jdbc"]["table"],
                }))
                return 0
            res = jdbc_sync(src, r["jdbc"], to_version=r.get("to_version"))
            print(json.dumps({
                "mode": "replicate_jdbc",
                "sync_mode": res.mode,
                "synced_to": res.synced_to,
                "upserts": res.upserts,
                "deletes": res.deletes,
            }))
            return 0
        if args.dry_run:
            print(json.dumps({
                "mode": "replicate",
                "source_version": src.current_version(),
                "replica_exists": LakeTable.exists(r["replica_root"]),
                "streaming": bool(r.get("streaming")),
            }))
            return 0
        if r.get("streaming"):
            from datax_spark.lake.replicate import REPLICA_WATERMARK, stream_sync

            q = stream_sync(src, r["replica_root"], r["checkpoint_root"])
            q.awaitTermination()
            rep = LakeTable.load(spark, r["replica_root"])
            print(json.dumps({
                "mode": "replicate_stream",
                "synced_to": int(rep.manifest().summary[REPLICA_WATERMARK]),
                "replica_version": rep.current_version(),
            }))
            return 0
        res = sync(src, r["replica_root"], to_version=r.get("to_version"))
        print(json.dumps({
            "mode": "replicate",
            "sync_mode": res.mode,
            "synced_to": res.synced_to,
            "replica_version": res.replica_version,
        }))
        return 0

    if "matview" in spec:
        # Incrementally-maintained aggregate view as a job: creates
        # the view when absent (spec required then), refreshes (or
        # rebuilds) it to the source head — the scheduled-sync shape;
        # idempotent, re-run at the same source version = no-op.
        from datax_spark.lake import LakeTable
        from datax_spark.lake.matview import AggView, AggViewSpec

        mv = spec["matview"]
        src = LakeTable.load(spark, mv["source_root"])
        if not LakeTable.exists(mv["view_root"]):
            s = mv["spec"]
            view = AggView.create(
                spark, mv["view_root"], src,
                AggViewSpec(
                    group_cols=tuple(s["group_cols"]),
                    sum_cols=tuple(s.get("sum_cols", ())),
                    min_cols=tuple(s.get("min_cols", ())),
                    max_cols=tuple(s.get("max_cols", ())),
                    group_fill=tuple(
                        tuple(p) for p in s.get("group_fill", ())
                    ),
                ),
                num_buckets=int(mv.get("num_buckets", 16)),
            )
            created = True
        else:
            view = AggView.load(spark, mv["view_root"])
            created = False
        if args.dry_run:
            print(json.dumps({
                "mode": "matview", "created": created,
                "synced_version": view.synced_version(),
            }))
            return 0
        if mv.get("rebuild"):
            res = view.rebuild(src)
        else:
            res = view.refresh(src, to_version=mv.get("to_version"))
        print(json.dumps({
            "mode": "matview",
            "created": created,
            "skipped": res.skipped,
            "synced_from": res.synced_from,
            "synced_to": res.synced_to,
            "groups_changed": res.groups_changed,
            "groups_recomputed": res.groups_recomputed,
        }))
        return 0

    if "scd2" in spec:
        # SCD2 history replay as a job: resumes at the committed
        # watermark, so a scheduled re-run applies only new epochs.
        from datax_spark.lake.scd2 import Scd2Config, Scd2Engine

        s = spec["scd2"]
        eng = Scd2Engine(
            spark,
            events_root=s["events_root"],
            table_root=s["table_root"],
            config=Scd2Config(
                keys=tuple(s.get("keys", ("repo", "path"))),
                order_cols=tuple(s.get("order_cols", ("commit", "lsn"))),
                num_buckets=int(s.get("num_buckets", 32)),
                compact_every=s.get("compact_every", 8),
            ),
        )
        if args.dry_run:
            print(json.dumps({
                "mode": "scd2",
                "epochs": eng.discover_epochs(),
                "next_epoch": eng.resume_epoch(),
            }))
            return 0
        results = eng.run()
        print(json.dumps({
            "mode": "scd2",
            "applied": [r.epoch for r in results if not r.skipped],
            "skipped": [r.epoch for r in results if r.skipped],
            "versions_written": sum(r.versions_written for r in results),
        }))
        return 0

    if "maintenance" in spec:
        # Table maintenance as a job (the Iceberg procedures surface,
        # driven the DataX way — one JSON spec): an ordered list of
        # actions against one table root. Each action commits its own
        # snapshot (or none for vacuum), so a crash between actions
        # leaves a consistent table and the re-run is idempotent where
        # the underlying op is (vacuum/expire) or a no-op (rebucket to
        # the same count, re-tag to the same version).
        from datax_spark.lake import LakeTable

        mt = spec["maintenance"]
        t = LakeTable.load(spark, mt["table_root"])
        actions = mt.get("actions", [])
        if args.dry_run:
            print(json.dumps({
                "mode": "maintenance",
                "version": t.current_version(),
                "actions": [next(iter(a)) for a in actions],
            }))
            return 0
        applied = []
        for a in actions:
            (kind, p), = a.items() if isinstance(a, dict) else [(a, {})]
            p = p or {}
            if kind == "compact":
                v = t.compact(
                    buckets=p.get("buckets"),
                    target_file_rows=p.get("target_file_rows"),
                    sort_cols=p.get("sort_cols"),
                    zorder_cols=p.get("zorder_cols"),
                )
                applied.append({"compact": v})
            elif kind == "rebucket":
                applied.append({"rebucket": t.rebucket(int(p["num_buckets"]))})
            elif kind == "tag":
                applied.append({"tag": t.tag(p["name"], p.get("version"))})
            elif kind == "rollback":
                applied.append({"rollback": t.rollback(p["version"])})
            elif kind == "expire_snapshots":
                applied.append({
                    "expire_snapshots": t.expire_snapshots(
                        keep_last=int(p.get("keep_last", 1))
                    )
                })
            elif kind == "delete_where":
                applied.append({
                    "delete_where": t.delete_where(
                        filters=[tuple(f) for f in p["filters"]]
                        if p.get("filters")
                        else None,
                        condition=p.get("where"),
                        strategy=p.get("strategy", "spj"),
                    )
                })
            elif kind == "update_where":
                applied.append({
                    "update_where": t.update_where(
                        assignments=p["set"],
                        filters=[tuple(f) for f in p["filters"]]
                        if p.get("filters")
                        else None,
                        condition=p.get("where"),
                        strategy=p.get("strategy", "spj"),
                    )
                })
            elif kind == "vacuum":
                applied.append({"vacuum": len(t.vacuum())})
            else:
                raise ValueError(f"unknown maintenance action: {kind!r}")
        print(json.dumps({
            "mode": "maintenance",
            "applied": applied,
            "version": t.current_version(),
        }))
        return 0

    if "job" in spec:
        from datax_spark.jobspec import run_job

        if args.dry_run:
            # preCheck analog (JobContainer.java:184-282): build the
            # plan (reader + transforms resolve) without executing
            from datax_spark.functions.transforms import TransformChain
            from datax_spark.sources.readers import read_source

            j = spec["job"]
            df = read_source(spark, j["reader"]["name"], j["reader"].get("parameter", {}))
            TransformChain(j.get("transformer", [])).apply(df).explain("formatted")
            return 0
        res = run_job(spark, spec["job"])
        print(json.dumps({"mode": "job", "rows_written": res.rows_written,
                          "rows_dirty": res.rows_dirty, "writer": res.writer_stats}))
        return 0

    print("spec must contain 'job' or 'replay'", file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())

"""Structured-Streaming CDC replay: the continuous form of the engine.

The batch ``ReplayEngine`` replays explicit ``epoch=N`` directories;
this module tails the SAME change log as a stream — the true analog of
the reference's otsstreamreader shard-tailing loop
(``OTSStreamReaderSlaveProxy.java:141-239``: iterate shard records →
emit op-typed events → checkpoint each boundary):

* source: ``spark.readStream`` over the event-log directory (file
  source; swap ``format('kafka')`` + ``from_json`` for a broker feed —
  the kafkareader analog, ``KafkaReader.java:131-181``);
* rate limiting: ``maxFilesPerTrigger`` bounds each micro-batch — the
  channel bps/tps throttle (``Channel.java:176-239``) expressed as
  micro-batch sizing;
* per micro-batch (``foreachBatch``): LWW dedup → order-guarded MERGE
  into the LakeTable → atomic snapshot commit stamped with the batch
  id;
* exactly-once: Spark's streaming checkpoint makes batch ids stable
  across restarts, and the sink skips any batch id <= the table's
  committed watermark — the same two-sided idempotence Iceberg's
  streaming sink uses. A crash mid-batch replays the identical batch;
  the guard makes the second apply a no-op or an identical commit.

Ordering note: within one micro-batch, LWW picks max (commit, lsn)
per key. ACROSS batches, the CoW plan (spj) order-guards
upserts against the current table row (``order_cols`` in
``merge_into``), so a late batch carrying older images cannot regress
a key; a delete followed by an EARLIER update arriving in a later
batch would need tombstone retention to suppress — which is exactly
what ``merge_strategy="mor"`` provides: the table is created with
``resolve_order=order_cols`` and merged reads pick winners by event
order, so retained tombstones suppress even that case until a
compaction folds them (the retention window). The reference applies
deletes immediately too and relies on in-order delivery
(otsstreamreader parent-before-child shard ordering,
``ShardStatusChecker.java:21-36``).

Because that one case is SILENT wrong state (a resurrected key),
CoW-strategy streams guard it by default (``delete_order_check``):
the max order key among applied DELETE events persists in the table
summary, and any later batch carrying an event OLDER than an applied
delete raises ``UnorderedFeedError`` before merging — fail loud, table
unchanged. Upsert-only feeds never trip it (no delete, no state), so
arbitrary file-discovery order remains supported there; feeds with
deletes need event-order-contiguous batches (a binlog/WAL tail is —
offsets are the order) or ``merge_strategy="mor"``. MoR's immunity
lasts exactly as long as its tombstones: a compact/rebucket FOLDS them
away, so those rewrites record the max folded delete-ord
(``LakeTable._folded_delete_ord``) and the same guard rejects any
later batch reaching behind that fold boundary — the compaction
cadence IS the retention window, now enforced instead of assumed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-exported for callers)
from pyspark.sql import types as T

from datax_spark.engine.replay import ReplayConfig, audit_gated_commit, maybe_rebucket
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.operators.dedup import lww_dedup


class UnorderedFeedError(RuntimeError):
    """A micro-batch carries events older than an already-applied
    delete: a CoW merge would resurrect the deleted key (silently).
    Deliver event-order-contiguous batches or use merge_strategy='mor'
    (tombstone retention resolves any order at read time)."""


@dataclass
class StreamReplay:
    spark: SparkSession
    events_root: str
    table_root: str
    checkpoint_root: str
    config: ReplayConfig = field(default_factory=ReplayConfig)
    max_files_per_trigger: int | None = None
    schema: T.StructType | None = None
    #: guard CoW streams against the delete-resurrection case (module
    #: docstring); persists max applied delete-ord in the table summary
    #: so restarts keep the memory. MoR streams skip it (exempt by
    #: construction). Costs one tiny agg job per micro-batch.
    delete_order_check: bool = True

    applied_batches: list[int] = field(default_factory=list)

    def _event_schema(self) -> T.StructType:
        if self.schema is not None:
            return self.schema
        # Infer once from the existing files (static read, driver-side).
        # The `epoch` directory-partition column is excluded: with
        # recursiveFileLookup the stream does no partition inference,
        # and batch assignment (Spark's batch id) replaces it.
        inferred = self.spark.read.parquet(self.events_root).schema
        return T.StructType([f for f in inferred.fields if f.name != "epoch"])

    def _ensure_table(self, batch_df: DataFrame) -> LakeTable:
        if LakeTable.exists(self.table_root):
            return LakeTable.load(self.spark, self.table_root)
        return LakeTable.create(
            self.spark,
            self.table_root,
            schema=batch_df.drop(self.config.op_col).schema,
            key_cols=list(self.config.keys),
            num_buckets=self.config.num_buckets,
            # MoR streams get event-order read resolution instead of
            # the write-time guard: winners resolve by (order_cols,
            # apply seq) at read time, so a late batch carrying older
            # images or tombstones cannot regress a key
            resolve_order=(
                list(self.config.order_cols)
                if self.config.merge_strategy == "mor"
                else None
            ),
            stats_cols=list(self.config.stats_cols),
            bloom_cols=list(self.config.bloom_cols),
            shard_buckets=self.config.shard_manifest_buckets,
            hash_fn=self.config.hash_fn,
        )

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cfg = self.config
        if batch_df.isEmpty():
            return
        table = self._ensure_table(batch_df)
        if batch_id <= table.last_epoch:
            return  # replayed batch after restart — exactly-once skip
        # snapshot-handoff gate (same rule as ReplayEngine.apply_epoch):
        # a bootstrapped table already reflects lsn <= bootstrap_lsn;
        # NULL-lsn rows stay for the dirty accounting downstream
        wlsn = table.manifest().summary.get("bootstrap_lsn")
        if wlsn is not None:
            batch_df = batch_df.filter(
                (F.col(cfg.lsn_col) > F.lit(int(wlsn)))
                | F.col(cfg.lsn_col).isNull()
            )
        strategy = cfg.merge_strategy
        summary: dict = {"last_epoch": batch_id}
        if self.delete_order_check:
            ord_struct = F.struct(*[F.col(c) for c in cfg.order_cols])
            if strategy == "mor":
                # retained tombstones resolve ANY disorder at read
                # time; the window closes only when a compact/rebucket
                # FOLDS them — guard against events older than that
                # fold boundary (recorded by LakeTable._folded_delete_ord)
                lo = batch_df.agg(F.min(ord_struct)).first()[0]
                prev = table.manifest().summary.get("max_folded_delete_ord")
                if prev is not None and lo is not None and list(lo) < list(prev):
                    raise UnorderedFeedError(
                        f"batch {batch_id} carries an event at order "
                        f"{list(lo)}, older than a delete whose tombstone "
                        f"was already FOLDED by compaction at {list(prev)} "
                        f"— the key could silently resurrect. Widen the "
                        f"compaction cadence (retention window) past the "
                        f"feed's max disorder, or deliver ordered batches."
                    )
            else:
                lo, hi_del = batch_df.agg(
                    F.min(ord_struct),
                    F.max(
                        F.when(F.col(cfg.op_col) == cfg.delete_op, ord_struct)
                    ),
                ).first()
                prev = table.manifest().summary.get("max_delete_ord")
                if prev is not None and lo is not None and list(lo) < list(prev):
                    raise UnorderedFeedError(
                        f"batch {batch_id} carries an event at order "
                        f"{list(lo)}, older than an already-applied delete "
                        f"at {list(prev)} — a CoW merge could resurrect the "
                        f"deleted key. Feed event-order-contiguous batches "
                        f"or use merge_strategy='mor'."
                    )
                new_max = list(hi_del) if hi_del is not None else None
                if prev is not None and (new_max is None or new_max < list(prev)):
                    new_max = list(prev)
                if new_max is not None:
                    summary["max_delete_ord"] = new_max
        deduped = lww_dedup(
            batch_df,
            keys=list(cfg.keys),
            order_cols=list(cfg.order_cols),
            salt_buckets=cfg.salt_buckets,
        )
        for fn in cfg.transforms:
            deduped = fn(deduped)
        # Exchange-aligned micro-batches (see ReplayConfig.
        # aligned_exchange): on a murmur3-bucketed table the dedup
        # aggregation's shuffle — pinned to num_buckets partitions for
        # this batch — IS the bucket routing, so the merge adds no
        # exchange. Works for the salted dedup too: its FINAL stage-2
        # reduction also exchanges on the bare keys. foreachBatch
        # batches run sequentially, so the per-batch conf pin/restore
        # cannot race within one stream (two concurrent streams on one
        # session should set aligned_exchange=False explicitly).
        aligned = cfg.aligned_exchange
        if aligned is None:
            aligned = (
                table.manifest().hash_fn == "murmur3"
                and strategy in ("spj", "mor")
            )
        kwargs = dict(
            op_col=cfg.op_col,
            delete_op=cfg.delete_op,
            # CoW plans take the write-time cross-batch guard (the
            # guard runs inside the bucket task on the spj default);
            # the MoR plan replaces it with event-order READ
            # resolution (the table's resolve_order, set at create) —
            # stale batches land as deltas that simply never win.
            order_cols=None if strategy == "mor" else list(cfg.order_cols),
            strategy=strategy,
        )
        if aligned:
            from datax_spark.engine.replay import aligned_shuffle_confs

            # pin the confs on the MICRO-BATCH's session: Structured
            # Streaming clones the session per query, and batch_df's
            # plans compile against the clone's SQLConf — conf set on
            # the outer session would silently not apply (measured:
            # the agg exchange coalesced to 1 partition and the
            # executor-side assert fired).
            with aligned_shuffle_confs(
                batch_df.sparkSession, table.manifest().num_buckets
            ):
                pending = merge_into(table, deduped, aligned=True, **kwargs)
        else:
            pending = merge_into(table, deduped, **kwargs)
        # same write-audit-publish gate as the batch driver: with
        # cfg.audit_fn set the batch stages, audits, then publishes —
        # a failed audit aborts the stream with the table unchanged
        audit_gated_commit(table, pending, batch_id, summary, cfg.audit_fn)
        # adaptive bucket-count evolution (cfg.target_bucket_rows): the
        # stream grows the table's bucket layout as the key space grows
        # — committed as a layout-only snapshot the change feed streams
        # as a heartbeat, so downstream consumers never restart
        maybe_rebucket(table, cfg)
        # derived-table maintenance, same contract as the batch engine
        # (ReplayConfig.materialized_views + view_refresh_every): each
        # view advances to the table's new head behind its own
        # synced-version watermark, so a crash between the batch
        # commit and a refresh — or a cadence skip — just leaves the
        # view behind; the next refreshed batch (or the drain-end heal
        # in run_available_now) converges it, the feed window being
        # version-ranged
        if (cfg.materialized_views or cfg.join_views) and (
            cfg.view_refresh_every <= 1
            or (batch_id + 1) % cfg.view_refresh_every == 0
        ):
            self._refresh_views(table)
        self.applied_batches.append(batch_id)

    def _refresh_views(self, table: LakeTable) -> None:
        from datax_spark.lake.joinview import JoinView
        from datax_spark.lake.matview import AggView

        for vroot in self.config.materialized_views:
            AggView.load(self.spark, vroot).refresh(table)
        for vroot, droot in self.config.join_views:
            JoinView.load(self.spark, vroot).refresh(
                table, LakeTable.load(self.spark, droot)
            )

    def run_available_now(self) -> None:
        """Drain everything currently in the log, then stop (the batch
        window mode of otsstreamreader: [startTs, endTs) then exit)."""
        reader = (
            self.spark.readStream.schema(self._event_schema())
            .option("recursiveFileLookup", "true")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.events_root)
        q = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_root)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # drain-end heal (the streaming analog of the batch run()-end
        # heal): views skipped by the cadence — or stranded by a crash
        # between a batch commit and its refresh — converge to head
        if (
            self.config.materialized_views or self.config.join_views
        ) and LakeTable.exists(self.table_root):
            self._refresh_views(self.table())

    def table(self) -> LakeTable:
        return LakeTable.load(self.spark, self.table_root)


def stream_replay(
    spark: SparkSession,
    events_root: str,
    table_root: str,
    checkpoint_root: str,
    config: ReplayConfig | None = None,
    max_files_per_trigger: int | None = None,
) -> LakeTable:
    """One-call availableNow replay; returns the resulting table."""
    sr = StreamReplay(
        spark,
        events_root,
        table_root,
        checkpoint_root,
        config=config or ReplayConfig(),
        max_files_per_trigger=max_files_per_trigger,
    )
    sr.run_available_now()
    return sr.table()

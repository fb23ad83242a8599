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
* per micro-batch (``foreachBatch``): a thin driver over the engine's
  epoch core, ``ReplayEngine._apply_events`` — the code
  ``apply_epoch`` runs — with the batch id as the epoch. So a batch
  gets everything an epoch does: NULL-key/order events quarantined
  under ``<checkpoint_root>/quarantine/epoch=<batch id>`` and the
  dirty limits enforced before the commit (``DirtyDataError``),
  per-(batch, bucket) lineage under ``<checkpoint_root>/metrics``,
  ``compact_every``, view refresh, and a drain-end view heal;
* exactly-once: Spark's streaming checkpoint makes batch ids stable
  across restarts, and the sink skips any batch id <= the table's
  committed watermark — the same two-sided idempotence Iceberg's
  streaming sink uses. A crash mid-batch replays the identical batch;
  the guard makes the second apply a no-op or an identical commit.

Ordering note: within one micro-batch, LWW picks max (commit, lsn)
per key. Batches come in file-discovery order, not event order, so
the sink runs the core with ``unordered=True``. ACROSS batches, the
CoW plan (spj) order-guards upserts against the current table row, so
a late batch carrying older images cannot regress a key; a delete
followed by an EARLIER update arriving in a later batch needs
tombstone retention to suppress — which ``merge_strategy="mor"``
provides: the table is created with ``resolve_order=order_cols``, so
merged reads pick winners by event order until a compaction folds the
tombstones (the retention window). The reference applies deletes
immediately too and relies on in-order delivery (otsstreamreader
parent-before-child shard ordering, ``ShardStatusChecker.java:21-36``).

Because that one case is SILENT wrong state (a resurrected key), the
sink fails loud instead: any batch carrying an event OLDER than an
applied CoW delete (``max_delete_ord`` in the table summary) or than
the last delete a MoR compact/rebucket folded
(``max_folded_delete_ord``, ``LakeTable._folded_delete_ord``) raises
``UnorderedFeedError`` before its commit, table unchanged, restart-safe.
The guard's order keys ride the batch job's dirty-count Observation,
over clean rows only, so it costs no job of its own. Upsert-only feeds
never trip it; feeds with deletes need event-order-contiguous batches
(a binlog/WAL tail is — offsets are the order) or MoR with a
compaction cadence wider than the feed's disorder.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-exported for callers)
from pyspark.sql import types as T

from datax_spark.engine.replay import (  # noqa: F401  (UnorderedFeedError re-exported)
    ReplayConfig,
    ReplayEngine,
    UnorderedFeedError,
)
from datax_spark.lake.table import LakeTable


@dataclass
class StreamReplay:
    spark: SparkSession
    events_root: str
    table_root: str
    checkpoint_root: str
    config: ReplayConfig = field(default_factory=ReplayConfig)
    max_files_per_trigger: int | None = None
    schema: T.StructType | None = None

    applied_batches: list[int] = field(default_factory=list)
    _engine: ReplayEngine = field(init=False, repr=False)

    def __post_init__(self) -> None:
        # lineage under <checkpoint_root>/metrics; the engine's
        # quarantine_root() then puts quarantine next to it
        self._engine = ReplayEngine(
            self.spark,
            self.events_root,
            self.table_root,
            os.path.join(self.checkpoint_root, "metrics"),
            self.config,
        )

    def _event_schema(self) -> T.StructType:
        if self.schema is not None:
            return self.schema
        # Infer once from the existing files (static read, driver-side).
        # The `epoch` directory-partition column is excluded: with
        # recursiveFileLookup the stream does no partition inference,
        # and batch assignment (Spark's batch id) replaces it.
        inferred = self.spark.read.parquet(self.events_root).schema
        return T.StructType([f for f in inferred.fields if f.name != "epoch"])

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        eng = self._engine
        table = eng._ensure_table(batch_df, unordered=True)
        m0 = table.manifest()
        if batch_id <= m0.last_epoch:
            return  # replayed batch after restart — exactly-once skip
        eng._apply_events(table, m0, batch_df, batch_id, unordered=True)
        self.applied_batches.append(batch_id)

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
        self._engine._heal_views()

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

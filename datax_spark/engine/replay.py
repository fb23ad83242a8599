"""Micro-batch CDC replay driver: the engine's JobContainer.

Lifecycle per epoch (the reference's fixed pipeline
``JobContainer.java:96-128`` init→prepare→split→schedule→post, recast
as a micro-batch loop):

    1. idempotence gate  — skip epochs <= the table's committed
       watermark (exactly-once; analog: otsstreamreader checkpoint
       recovery, ``OTSStreamReaderSlaveProxy.java:40-107``)
    2. read epoch slice  — parquet scan of ``events_root/epoch=N``
    3. LWW dedup + lineage stats — max-(commit,lsn) per (repo,path)
       with per-key offset/count/byte counters riding the SAME
       map-side-combined aggregation (operators.lww_dedup_stats); the
       salted two-stage variant for single-hot-key streams composes
       the same exact stats across its stages (sum/min/max of
       partials), so it rides the fused one-job epoch too
    4. vectorized transforms — Arrow UDF content transforms on
       the winning images only (never per-row Python; north_star
       requirement), computed lazily exactly once inside the merge
    5. MERGE              — per-bucket storage-partitioned merge into
       the lake table (lake.merge_into: copy-on-write "spj" or
       merge-on-read "mor"), fused with steps 3-4 into one Spark job;
       additive schema evolution
    6. two-phase commit   — atomic manifest swap carrying the epoch
       watermark (lake.LakeTable.commit)
    7. lineage metrics    — per-(epoch,bucket) offsets/rows/bytes/
       latency (engine.metrics), written idempotently

Crash-safety: a crash anywhere before step 6 leaves the previous
snapshot live; re-running the engine replays the epoch from scratch
and converges to the identical state (orphan data files are ignored,
``vacuum`` reclaims them). A crash after step 6 skips the epoch on
replay via the watermark. ``failpoints`` injects crashes between
phases for tests.

Steps 3-7 (plus compaction and view refresh) are one core,
``ReplayEngine._apply_events``: ``apply_epoch`` runs it after its
gates, and the streaming sink (``streaming/replay_stream.py``) runs it
per micro-batch with the batch id as the epoch.
"""

from __future__ import annotations

import glob
import os
import re
import time
from collections.abc import Callable, Sequence
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datax_spark.engine.metrics import write_epoch_metrics
from datax_spark.lake.merge import check_strategy, merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.operators.dedup import STAT_COLS, lww_dedup_stats


@contextmanager
def aligned_shuffle_confs(spark: SparkSession, num_buckets: int):
    """Pin the session confs that make the dedup aggregation's shuffle
    BE the bucket routing (``merge_into(aligned=True)``): exactly
    ``num_buckets`` shuffle partitions, and AQE partition coalescing
    off so the runtime cannot merge them (coalescing would break the
    ``partition_id == bucket`` identity; everything else about AQE is
    left on). Confs are restored on exit — lazily-built plans must
    execute INSIDE this context."""
    conf = spark.conf
    pins = {
        "spark.sql.shuffle.partitions": str(int(num_buckets)),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved: dict[str, str | None] = {}
    for k, v in pins.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


class ReplayCrash(RuntimeError):
    """Injected crash (tests only)."""


class DirtyDataError(RuntimeError):
    """Epoch exceeded the dirty-record limit (ErrorRecordChecker
    analog); raised BEFORE any table write, so replay is clean."""


class EpochAuditError(RuntimeError):
    """An audited epoch's candidate snapshot failed its audit_fn; the
    staged snapshot was dropped and the table is unchanged."""


class UnorderedFeedError(RuntimeError):
    """A micro-batch carries events older than an already-applied
    delete: a CoW merge would resurrect the deleted key (silently).
    Deliver event-order-contiguous batches or use merge_strategy='mor'
    (tombstone retention resolves any order at read time)."""


def audit_gated_commit(
    table: "LakeTable",
    pending,
    epoch: int,
    summary: dict,
    audit_fn: Callable[[DataFrame], bool] | None,
    failpoints: Sequence[str] = (),
) -> int:
    """Phase-2 commit of an epoch/batch, optionally write-audit-publish
    gated: stage the snapshot, run the audit on the candidate state
    while readers still see the pre-epoch table, publish on True, drop
    and raise EpochAuditError on False. Shared by every commit path of
    the engine: epochs and stream batches, bootstrap and chunks.
    Returns the published table version."""
    if audit_fn is None:
        return pending.commit(summary=summary)
    wid = f"epoch-{epoch}"
    if wid in table._wap_staged():
        # a prior attempt crashed between stage and publish: the
        # watermark never moved, so this retry owns the id — drop the
        # stale candidate and re-stage
        table.drop_wap(wid)
    table.wap_id = wid
    try:
        pending.commit(summary=summary)
    finally:
        table.wap_id = None
    if "after_stage" in failpoints:
        raise ReplayCrash("after_stage")
    if audit_fn(table.read(version=wid)):
        return table.publish_wap(wid)
    v = table.wap_version(wid)
    table.drop_wap(wid)
    raise EpochAuditError(
        f"epoch {epoch} failed audit; staged snapshot v{v} dropped, "
        f"table unchanged at v{table.current_version()}"
    )


@dataclass(frozen=True)
class ReplayConfig:
    keys: tuple[str, ...] = ("repo", "path")
    order_cols: tuple[str, ...] = ("commit", "lsn")
    op_col: str = "op"
    delete_op: str = "D"
    lsn_col: str = "lsn"
    num_buckets: int = 64
    # Salted two-stage dedup is OFF by default, deliberately: with
    # composite keys (repo, path), a hot *repo* does not produce a hot
    # *shuffle key* — its paths hash uniformly across reducers, so the
    # plain max_by hash-agg (map-side combined) already defeats
    # repo-level skew, and the salted path's extra shuffle measured
    # 2.4x slower at 4M events. Set salt_buckets when a SINGLE key
    # receives a pathological share of one epoch's events (e.g. keys
    # = (repo,) alone, or one file rewritten millions of times per
    # window) — then it bounds reducer fan-in at `salt_buckets`.
    salt_buckets: int | None = None
    # Arrow-vectorized content transforms, applied post-dedup to the
    # winning event images: each fn takes and returns a DataFrame.
    transforms: tuple[Callable[[DataFrame], DataFrame], ...] = ()
    # Merge physical plan, one per table mode (lake/merge.py); either
    # way an epoch fuses dedup+transforms+merge+lineage into ONE Spark
    # job. "spj" (default, copy-on-write): storage-partitioned merge —
    # only the epoch batch shuffles; each bucket task reads its own
    # current state directly, so no Exchange scales with TABLE size
    # (see lake.merge.spj_merge_frame). Memory per task is one bucket;
    # raise num_buckets (or set target_bucket_rows) when a bucket
    # outgrows task memory. "mor": merge-on-read — each epoch APPENDS
    # one delta file per touched bucket (tombstones for deletes) and
    # never reads or rewrites the current table: write cost O(batch)
    # instead of O(touched buckets), the Iceberg v2 equality-delete
    # shape. Reads pay a bucket-local LWW merge until compaction folds
    # deltas down; set compact_every to bound that read amplification.
    # The strategy for write-rate-bound ingest whose epochs are much
    # smaller than the key space they touch. Any other value raises
    # ValueError here, at construction.
    merge_strategy: str = "spj"
    # With merge_strategy="mor": fold pending deltas into fresh base
    # files (LakeTable.compact) after every N committed epochs — the
    # minor-compaction cadence that caps a reader's per-bucket merge at
    # N delta files. None = never (compaction left to a maintenance
    # job, Iceberg-style). The compaction is itself a snapshot commit,
    # so a crash between commit and compaction is harmless: the next
    # run simply compacts later.
    compact_every: int | None = None
    # Dirty-data policy (ErrorRecordChecker.java:18-82 analog): events
    # with NULL in any key or order column cannot be keyed or ordered —
    # they are quarantined under <metrics_root>/../quarantine/epoch=N,
    # counted in EpochResult.n_dirty, and the epoch FAILS (before any
    # table write) when count > dirty_record_limit (None = unlimited).
    dirty_record_limit: int | None = None
    # Percentage limit (errorLimit.percentage): the epoch fails when
    # n_dirty / n_total exceeds this fraction, checked per epoch (the
    # reference checks once at job end; an epoch is this engine's job
    # unit). Reference parity (ErrorRecordChecker.java:18-45): setting
    # the RECORD limit DISABLES the percentage limit — the constructor
    # nulls percentageLimit whenever recordLimit is present — and the
    # fraction must lie in [0.0, 1.0].
    dirty_pct_limit: float | None = None
    quarantine: bool = True
    # File-level min/max/null stats harvested at every commit for these
    # columns (LakeTable stats_cols): lets downstream filtered reads
    # skip whole data files via the manifest (Iceberg scan planning).
    # Natural picks for a CDC table are the order columns — a
    # time-ranged read then touches only files whose commit/lsn bounds
    # overlap the range. Empty = stats off (the default).
    stats_cols: tuple[str, ...] = ()
    # Per-file bloom filters on these columns (LakeTable bloom_cols):
    # equality/IN reads — every point lookup — skip files whose bloom
    # proves the key absent, the pruning min/max can't give on
    # high-cardinality keys. Building them re-reads those columns of
    # each epoch's new files at commit, so reserve it for tables that
    # SERVE point reads. Empty = off (the default).
    bloom_cols: tuple[str, ...] = ()
    # Write-audit-publish epoch commits: when set, every epoch is
    # first STAGED (LakeTable WAP — manifest written, pointer
    # unmoved), then audit_fn(candidate_state_df) runs against the
    # staged snapshot while readers still see the pre-epoch state; a
    # True verdict fast-forward-publishes the pointer, False drops the
    # candidate and raises EpochAuditError with the table unchanged.
    # The data-quality circuit breaker downstream of the dirty-data
    # gate: dirty limits reject malformed EVENTS pre-write, the audit
    # rejects bad RESULTING STATE pre-publish (row-count collapse,
    # invariant violations, a bad upstream backfill). Exactly-once is
    # preserved: a crash between stage and publish leaves the
    # watermark unmoved, and the epoch's retry drops the stale staged
    # snapshot and re-runs.
    audit_fn: Callable[[DataFrame], bool] | None = None
    # Adaptive bucket-count evolution: when set, the engine rebuckets
    # the table (LakeTable.rebucket — one full rewrite committed as a
    # layout-only snapshot) after any epoch whose committed state
    # exceeds ``target_bucket_rows`` rows per bucket, doubling the
    # bucket count until back under target (capped at ``max_buckets``).
    # This automates the num_buckets dial that bounds BOTH the CoW
    # blast radius and per-task MoR merge memory: a stream that starts
    # at 64 buckets and grows to 10^9 keys steps to O(10^3-10^4)
    # buckets without operator action or downtime — readers keep the
    # old snapshot until the atomic pointer swap, the epoch watermark
    # carries through the rebucket commit, and the change feed streams
    # a rebucket as a zero-row heartbeat (it is provably layout-only).
    # Growth is geometric (powers of two), so the rewrite cost
    # amortizes: total rebucket work over a table's life is O(final
    # table size), like vector doubling. A crash between the epoch
    # commit and the rebucket is harmless — the threshold re-triggers
    # on the next applied epoch. None = manual (call rebucket()
    # yourself, the pre-existing behavior).
    target_bucket_rows: int | None = None
    max_buckets: int = 1 << 16
    # Derived-table maintenance: roots of AggViews (lake/matview.py)
    # the engine refreshes to the table's new head after every
    # committed epoch (and again at the end of run(), which heals a
    # crash that landed between an epoch commit and its view refresh —
    # each view's own synced-version watermark makes every refresh
    # idempotent and convergent, so views lag the table by at most
    # one crash window and never diverge). Create the views first
    # (AggView.create against the table root); the engine only
    # advances them.
    materialized_views: tuple[str, ...] = ()
    # Join-view maintenance (lake/joinview.py): (view_root, dim_root)
    # pairs — each view is a fact ⋈ dim of THIS engine's table against
    # the dimension LakeTable at dim_root, advanced to both tables'
    # heads on the same cadence/heal contract as materialized_views.
    # Create the views first (JoinView.create); the engine only
    # advances them. The dim side is maintained by whoever owns it
    # (another engine, a jobspec, manual merges) — its change feed is
    # read here, never written.
    join_views: tuple[tuple[str, str], ...] = ()
    # Refresh cadence for the attached views: refresh after every Nth
    # committed epoch (1 = every epoch). A view refresh costs roughly
    # one extra read of the epoch's touched buckets per diff side (the
    # change feed is a snapshot diff) — measured comparable to the
    # epoch apply itself when epochs touch every bucket — so bulk
    # backfills should raise this and let the views catch up in one
    # multi-epoch window; run() always heals views to head at the end
    # regardless of cadence, and the feed window composes across any
    # number of skipped epochs (the refresh is version-ranged, not
    # epoch-ranged).
    view_refresh_every: int = 1
    # Sharded manifest storage for the created table (LakeTable
    # shard_buckets; see lake/table.py): per-bucket metadata lives in
    # content-addressed shard files of this many consecutive buckets,
    # so a commit writes O(touched shards) of metadata instead of
    # re-serializing the whole table's file lists — pair with large
    # num_buckets / adaptive growth at 10^9+ key scale. None = the
    # single-file manifest (default; right for small layouts).
    shard_manifest_buckets: int | None = None
    # Flow control (job.setting.speed.record/byte analog — the
    # reference paces each channel with a per-second statistics window
    # and sleeps off the excess, Channel.java:176-239): after each
    # committed epoch, the run loop sleeps until the run's CUMULATIVE
    # applied events/bytes no longer exceed the caps. Epoch
    # granularity is this engine's batch analog of the reference's
    # 1-second window; within an epoch Spark runs at full speed
    # (pacing a distributed job mid-flight would just idle executors —
    # the meaningful contract is the sustained rate a downstream
    # system sees between commits). Both caps may be set; the
    # stricter one governs. None = unthrottled.
    max_events_per_sec: float | None = None
    max_bytes_per_sec: float | None = None

    def __post_init__(self) -> None:
        check_strategy(self.merge_strategy)
        if self.dirty_pct_limit is not None and not (
            0.0 <= self.dirty_pct_limit <= 1.0
        ):
            raise ValueError(
                f"dirty_pct_limit must be within [0.0, 1.0], got "
                f"{self.dirty_pct_limit} (ErrorRecordChecker.java:34-38)"
            )
        for cap in (self.max_events_per_sec, self.max_bytes_per_sec):
            if cap is not None and cap <= 0:
                raise ValueError(f"speed caps must be positive, got {cap}")
        if self.target_bucket_rows is not None and self.target_bucket_rows < 1:
            raise ValueError(
                f"target_bucket_rows must be >= 1, got {self.target_bucket_rows}"
            )
        if self.max_buckets < 1:
            raise ValueError(f"max_buckets must be >= 1, got {self.max_buckets}")

    def throttle_wait(
        self, cum_events: int, cum_bytes: int, elapsed_sec: float
    ) -> float:
        """Seconds to sleep so cumulative throughput respects the
        caps: the earliest time the applied volume was ALLOWED to
        finish, minus the time it actually took (clamped at 0)."""
        target = 0.0
        if self.max_events_per_sec:
            target = max(target, cum_events / self.max_events_per_sec)
        if self.max_bytes_per_sec:
            target = max(target, cum_bytes / self.max_bytes_per_sec)
        return max(0.0, target - elapsed_sec)


def maybe_rebucket(table: "LakeTable", cfg: "ReplayConfig") -> int | None:
    """Post-commit adaptive bucket-count check (``ReplayConfig.
    target_bucket_rows``): when the committed state exceeds the
    per-bucket row target, rebucket to the smallest power-of-two
    multiple of the current count that gets back under target (capped
    at ``cfg.max_buckets``). Returns the new bucket count, or None if
    no rebucket was needed. Runs after every applied epoch or stream
    batch, and after a bootstrap.

    Table size comes from the just-committed manifest's row counts —
    manifest metadata, no data read. For a MoR table the pending delta
    rows are counted too: an UPPER bound on live rows (deltas may
    shadow base rows or be tombstones), so growth can trigger slightly
    early — the safe direction — and the rebucket itself folds the
    deltas into exact-count base files."""
    if not cfg.target_bucket_rows:
        return None
    m = table.manifest()
    rows = sum(m.row_counts.values()) + sum(m.delta_row_counts.values())
    cur = int(m.num_buckets)
    if rows <= 0 or cur >= cfg.max_buckets or rows <= cfg.target_bucket_rows * cur:
        return None
    nb = cur
    while nb < cfg.max_buckets and rows > cfg.target_bucket_rows * nb:
        nb <<= 1
    nb = min(nb, cfg.max_buckets)
    if nb <= cur:
        return None
    table.rebucket(nb)
    return nb


def _lineage_rows(slot: int, pending) -> list[dict]:
    """Per-(slot, bucket) lineage metrics rows from the merge's fused
    per-bucket stats; ``apply_ms`` is the bucket task's own read +
    merge + write time. Callers write them BEFORE the commit point, so
    a crash after commit leaves no metrics hole (write_epoch_metrics
    overwrites, so a pre-commit crash replays them cleanly)."""
    after = pending.stats.bucket_rows_after
    return [
        {
            "epoch": slot,
            "bucket": b,
            "n_events": li["n_events"],
            "n_deletes": li["n_deletes"],
            "min_lsn": li["min_lsn"],
            "max_lsn": li["max_lsn"],
            "bytes_in": li["bytes_in"],
            "n_keys_after_dedup": li["n_keys"],
            "rows_after_merge": after.get(b, 0),
            "apply_ms": li["kernel_ms"],
        }
        for b, li in sorted(pending.bucket_stats.items())
    ]


@dataclass
class EpochResult:
    epoch: int
    skipped: bool
    n_events: int = 0
    n_keys: int = 0
    n_deletes: int = 0
    rows_after: int = 0
    affected_buckets: int = 0
    apply_ms: float = 0.0
    version: int | None = None
    phase_ms: dict = field(default_factory=dict)
    n_dirty: int = 0
    bytes_in: int = 0
    throttle_ms: float = 0.0  # flow-control sleep after this epoch
    rebucketed_to: int | None = None  # adaptive bucket evolution fired


@dataclass
class BootstrapResult:
    """Outcome of ``ReplayEngine.bootstrap`` (initial-snapshot load)."""

    skipped: bool
    bootstrap_lsn: int | None = None
    n_rows: int = 0
    n_dirty: int = 0
    rows_after: int = 0
    version: int | None = None
    apply_ms: float = 0.0
    rebucketed_to: int | None = None


@dataclass
class ChunkResult:
    """Outcome of ``ReplayEngine.bootstrap_chunk`` (one incremental-
    snapshot chunk of the DBLog-style chunked bootstrap)."""

    chunk_id: str
    skipped: bool
    n_rows: int = 0          # chunk rows offered (incl. dirty)
    n_applied: int = 0       # rows that reached the merge (post window/dedup)
    n_superseded: int = 0    # rows dropped by the watermark-window anti-join
    n_dirty: int = 0
    rows_after: int = 0
    version: int | None = None
    apply_ms: float = 0.0
    watermark_mode: bool = False  # lsn was assigned from low_lsn


def discover_epochs(events_root: str) -> list[int]:
    """The epochs of a changelog, ascending: the N of every
    ``epoch=N`` directory under ``events_root`` (an unpublished
    ``epoch=N__tmp`` spool is not one)."""
    out = []
    for d in glob.glob(os.path.join(events_root, "epoch=*")):
        m = re.search(r"epoch=(\d+)$", d)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


@dataclass
class ReplayEngine:
    spark: SparkSession
    events_root: str
    table_root: str
    metrics_root: str
    config: ReplayConfig = field(default_factory=ReplayConfig)
    _views_cache: dict = field(default_factory=dict, repr=False)

    # ---------- discovery / resume ----------
    def discover_epochs(self) -> list[int]:
        return discover_epochs(self.events_root)

    def table(self) -> LakeTable:
        return LakeTable.load(self.spark, self.table_root)

    def _refresh_views(
        self,
        table: LakeTable,
        ph: dict | None = None,
        epoch: int | None = None,
    ) -> None:
        """Advance every registered materialized view to the table's
        current head. Idempotent per view (the synced-version
        watermark), so calling after every epoch AND once at run()'s
        end costs a manifest read when nothing changed. Views sitting
        at the SAME synced version (the steady state when they all
        ride every epoch) share ONE persisted change-feed read instead
        of one per view."""
        if not self.config.materialized_views and not self.config.join_views:
            return
        if (
            epoch is not None
            and self.config.view_refresh_every > 1
            and (epoch + 1) % self.config.view_refresh_every != 0
        ):
            return  # cadence skip; run()-end heal converges the tail
        import time as _time

        from collections import defaultdict

        from datax_spark.lake.matview import AggView

        tp = _time.monotonic()
        views = []
        for root in self.config.materialized_views:
            view = self._views_cache.get(root)
            if view is None:
                view = AggView.load(self.spark, root)
                self._views_cache[root] = view
            views.append(view)
        head = table.current_version()
        by_v0 = defaultdict(list)
        for v in views:
            by_v0[v.synced_version()].append(v)
        for v0, group in by_v0.items():
            if v0 == head:
                continue  # already synced
            if len(group) == 1:
                group[0].refresh(table, to_version=head)
                continue
            cdf = table.changes(v0, head, include_preimage=True).persist()
            try:
                for v in group:
                    v.refresh(table, to_version=head, shared_cdf=cdf)
            finally:
                cdf.unpersist()
        if self.config.join_views:
            from datax_spark.lake.joinview import JoinView

            for vroot, droot in self.config.join_views:
                view = self._views_cache.get(vroot)
                if view is None:
                    view = JoinView.load(self.spark, vroot)
                    self._views_cache[vroot] = view
                dim = self._views_cache.get(("dim", droot))
                if dim is None:
                    dim = LakeTable.load(self.spark, droot)
                    self._views_cache[("dim", droot)] = dim
                view.refresh(table, dim, left_to=head)
        if ph is not None:
            ph["views"] = (_time.monotonic() - tp) * 1000

    def quarantine_root(self) -> str:
        return os.path.join(os.path.dirname(self.metrics_root.rstrip("/")), "quarantine")

    def _ensure_table(
        self, first_epoch_df: DataFrame, unordered: bool = False
    ) -> LakeTable:
        """Load the table, or create it from the first events' schema;
        a MoR table fed ``unordered`` batches resolves reads by event
        order (see ``_apply_events``)."""
        if LakeTable.exists(self.table_root):
            return self.table()
        cfg = self.config
        schema = first_epoch_df.drop(cfg.op_col).schema
        return LakeTable.create(
            self.spark,
            self.table_root,
            schema=schema,
            key_cols=list(self.config.keys),
            num_buckets=self.config.num_buckets,
            resolve_order=(
                list(cfg.order_cols)
                if unordered and cfg.merge_strategy == "mor"
                else None
            ),
            stats_cols=list(self.config.stats_cols),
            bloom_cols=list(self.config.bloom_cols),
            shard_buckets=self.config.shard_manifest_buckets,
        )

    def resume_epoch(self) -> int:
        """Next epoch to apply (checkpoint = committed manifest watermark)."""
        if not LakeTable.exists(self.table_root):
            return 0
        return self.table().last_epoch + 1

    # ---------- initial snapshot (full load -> binlog handoff) ----------
    def bootstrap(
        self,
        snapshot_df: DataFrame,
        watermark_lsn: int,
        failpoints: Sequence[str] = (),
    ) -> "BootstrapResult":
        """Seed the table from a consistent SOURCE SNAPSHOT, then hand
        off to the log tail: the Debezium initial-snapshot / DMS
        full-load+CDC shape, and the batch analog of the reference's
        bounded stream-export window — otsstreamreader exports
        [startTimestampMillis, end] (OTSStreamReaderConfig.java:26-47)
        precisely because the change stream EXPIRES
        (OTSStreamReaderChecker.java:39-58): state older than the
        retained log must come from a snapshot, and the tail must
        resume from the snapshot's position, never before it.

        ``snapshot_df`` is the source's live state — one row per key,
        NO op column — captured at log position ``watermark_lsn`` (the
        highest LSN reflected in the snapshot). It is bulk-loaded
        through the same fused dedup+merge path as an epoch (dup keys
        resolve LWW on the order columns; dirty rows quarantine under
        ``<quarantine>/epoch=bootstrap``), committed exactly-once with
        ``bootstrap_lsn`` in the manifest summary, and every later
        epoch/stream batch keeps only events with lsn > bootstrap_lsn
        (see apply_epoch): replaying the overlap would resurrect rows
        whose deletes expired from the log.

        Idempotent: a bootstrapped table returns ``skipped=True``; a
        crash before the commit leaves only invisible orphans and the
        retry re-runs cleanly. Must precede replay — bootstrapping a
        table with committed epochs raises (the snapshot would clobber
        newer state).
        """
        cfg = self.config
        t0 = time.monotonic()
        wlsn = int(watermark_lsn)
        if LakeTable.exists(self.table_root):
            m = self.table().manifest()
            prior = m.summary.get("bootstrap_lsn")
            if prior is not None:
                return BootstrapResult(skipped=True, bootstrap_lsn=int(prior))
            if m.last_epoch >= 0:
                raise ValueError(
                    f"cannot bootstrap: table at {self.table_root} already has "
                    f"committed epochs through {m.last_epoch}; the snapshot "
                    "would clobber newer replayed state"
                )
        if cfg.op_col in snapshot_df.columns:
            raise ValueError(
                f"snapshot must be STATE (no {cfg.op_col!r} column); an "
                "op-typed frame is a changelog — replay it as epochs instead"
            )
        missing = [
            c for c in (*cfg.keys, *cfg.order_cols)
            if c not in snapshot_df.columns
        ]
        if missing:
            raise ValueError(f"snapshot lacks key/order columns: {missing}")

        ev = snapshot_df.withColumn(cfg.op_col, F.lit("I"))
        table = self._ensure_table(ev)
        ph: dict[str, float] = {}
        gate, ev_clean = self._dirty_split(ev, "dirty_bootstrap")
        deduped = self._dedup(ev_clean)
        tp = time.monotonic()
        pending = self._merge(
            table, deduped, cfg.merge_strategy,
            aligned=not table.manifest().bucket_cols,
        )
        ph["fused_dedup_merge"] = (time.monotonic() - tp) * 1000
        n_dirty = self._resolve_dirty("bootstrap", gate, ph)["n_dirty"]
        if "after_write" in failpoints:
            raise ReplayCrash("after_write")

        # lineage slot -1 is the initial load
        rows = _lineage_rows(-1, pending)
        write_epoch_metrics(self.metrics_root, -1, rows)
        tp = time.monotonic()
        version = audit_gated_commit(
            table, pending, -1,
            {
                "last_epoch": -1,
                "bootstrap_lsn": wlsn,
                "bootstrap_rows": pending.stats.rows_after,
            },
            cfg.audit_fn, failpoints,
        )
        ph["commit"] = (time.monotonic() - tp) * 1000
        if "after_commit" in failpoints:
            raise ReplayCrash("after_commit")
        rebucketed = maybe_rebucket(table, cfg)
        self._refresh_views(table)
        return BootstrapResult(
            skipped=False,
            bootstrap_lsn=wlsn,
            n_rows=sum(r["n_events"] for r in rows),
            n_dirty=n_dirty,
            rows_after=pending.stats.rows_after,
            version=version,
            apply_ms=(time.monotonic() - t0) * 1000.0,
            rebucketed_to=rebucketed,
        )

    # ---------- incremental (chunked) bootstrap: DBLog-style ----------
    def begin_incremental_bootstrap(
        self,
        like_df: DataFrame,
        watermark_lsn: int,
        failpoints: Sequence[str] = (),
    ) -> "BootstrapResult":
        """Open a CHUNKED bootstrap: create the (empty) table and pin
        the tail-start watermark, so the log tail can begin replaying
        immediately while ``bootstrap_chunk`` fills in pre-watermark
        state key-range by key-range — the DBLog / Debezium
        incremental-snapshot shape (Andreakis & Papapanagiotou, "DBLog: A
        Watermark Based Change-Data-Capture Framework", 2019): at
        10^10 source rows a single consistent snapshot frame is
        unrealistic, so chunks load WHILE changes apply.

        ``like_df`` supplies the table schema (a zero-row slice is
        taken; pass any STATE-shaped frame — key/order/payload
        columns, no op column). ``watermark_lsn`` is the log position
        the tail starts after: epochs keep only lsn > watermark, and
        every chunk must be captured at/after it."""
        return self.bootstrap(like_df.limit(0), watermark_lsn, failpoints)

    def bootstrap_chunk(
        self,
        chunk_df: DataFrame,
        chunk_id: str,
        low_lsn: int,
        failpoints: Sequence[str] = (),
    ) -> "ChunkResult":
        """Apply ONE incremental-snapshot chunk while the log tail is
        (or has been) replaying — the DBLog chunk step re-expressed
        set-wise. ``chunk_df`` is a key-range slice of the source's
        live state (no op column) whose SELECT began at log position
        ``low_lsn`` (the chunk's low watermark: every event with
        lsn <= low_lsn is reflected in the chunk; events after it may
        or may not be).

        Correctness under interleaving (why this is safe without
        tombstones in the CoW table):

        * **Window suppression** (the DBLog trick): chunk rows whose
          key has ANY already-applied event with lsn > low_lsn are
          dropped — for those keys the table state is at least as new
          as the chunk's, and critically a key DELETED in that window
          must not be resurrected by its (older) chunk image. The
          window key set is computed from the applied epochs only,
          pruned via the lineage metrics' per-epoch [min_lsn, max_lsn]
          (chunks applied promptly scan only the couple of epochs that
          overlap their window, independent of total log size).
        * **Order guard**: surviving chunk rows merge through the
          cross-batch LWW guard (``WHEN MATCHED AND s.(commit,lsn) >
          t.(commit,lsn)``), so a chunk captured later than another's
          overlap, or racing a concurrent re-apply, resolves by order.
        * **Future events win**: any event not yet applied has
          lsn > tail >= the chunk rows' order, so the normal replay
          supersedes chunk state — a delete the chunk preceded still
          lands.

        If ``chunk_df`` lacks the ``lsn`` column (a plain SELECT from
        a source with no per-row log position — the realistic DBLog
        case), rows are stamped with ``lsn = low_lsn``
        (``watermark_mode``): ordering vs future events still holds
        because every unapplied event has lsn > tail >= low_lsn.

        Idempotent per ``chunk_id`` (committed ids are recorded in the
        manifest summary); a crash before commit leaves only invisible
        orphans and the retry re-runs cleanly. Lineage rows land in
        the metrics table under a negative epoch slot (-2, -3, ... in
        apply order; -1 is the full-snapshot slot)."""
        cfg = self.config
        t0 = time.monotonic()
        wl = int(low_lsn)
        if not chunk_id:
            raise ValueError("chunk_id must be a non-empty string")
        if cfg.op_col in chunk_df.columns:
            raise ValueError(
                f"chunk must be STATE (no {cfg.op_col!r} column); an "
                "op-typed frame is a changelog — replay it as epochs instead"
            )
        watermark_mode = cfg.lsn_col not in chunk_df.columns
        if watermark_mode:
            chunk_df = chunk_df.withColumn(cfg.lsn_col, F.lit(wl).cast("long"))
        missing = [
            c for c in (*cfg.keys, *cfg.order_cols)
            if c not in chunk_df.columns
        ]
        if missing:
            raise ValueError(f"chunk lacks key/order columns: {missing}")

        ev = chunk_df.withColumn(cfg.op_col, F.lit("I"))
        table = self._ensure_table(ev)
        m = table.manifest()
        applied = list(m.summary.get("bootstrap_chunks", []))
        if chunk_id in applied:
            return ChunkResult(chunk_id=chunk_id, skipped=True,
                               watermark_mode=watermark_mode)
        wlsn = m.summary.get("bootstrap_lsn")
        if wlsn is not None and wl < int(wlsn):
            raise ValueError(
                f"chunk low watermark {wl} predates the tail-start "
                f"watermark {wlsn}: its suppression window would need "
                "log that was never applied (capture chunks while "
                "tailing, never before begin_incremental_bootstrap)"
            )
        slot = -(2 + len(applied))  # metrics slot; -1 = full snapshot
        label = f"chunk-{chunk_id}"
        ph: dict[str, float] = {}
        gate, ev_clean = self._dirty_split(ev, f"dirty_{label}")

        # --- DBLog window suppression: drop chunk keys touched by any
        # APPLIED event with lsn > low watermark. Epoch pruning is
        # driver-side over the (tiny) lineage metrics, so the raw-event
        # scan is bounded by the chunk's window, not the log ---
        tp = time.monotonic()
        win_dirs = []
        if m.last_epoch >= 0:
            import pyarrow.parquet as _pq

            for d in sorted(glob.glob(os.path.join(self.metrics_root, "epoch=*"))):
                em = re.search(r"epoch=(-?\d+)$", d)
                if not em:
                    continue
                e = int(em.group(1))
                if e < 0 or e > m.last_epoch:
                    continue  # bootstrap slots / uncommitted epochs
                mx = None
                for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                    col = _pq.read_table(p, columns=["max_lsn"])["max_lsn"]
                    for v in col.to_pylist():
                        if v is not None and (mx is None or v > mx):
                            mx = v
                if mx is not None and mx > wl:
                    win_dirs.append(os.path.join(self.events_root, f"epoch={e}"))
        if win_dirs:
            win_keys = (
                self.spark.read.parquet(*win_dirs)
                .filter(F.col(cfg.lsn_col) > F.lit(wl))
                .select(*cfg.keys)
                .dropDuplicates(list(cfg.keys))
            )
            ev_clean = ev_clean.join(win_keys, on=list(cfg.keys), how="left_anti")
        ph["window_prune"] = (time.monotonic() - tp) * 1000

        # --- fused dedup + order-guarded merge. Always the spj plan,
        # whatever the table mode: the guard needs the current rows'
        # order, which only a CoW merge reads (on a MoR table the spj
        # task resolves a delta-bearing bucket's state first). Never
        # aligned: the window anti-join may own the last exchange ---
        deduped = self._dedup(ev_clean)
        tp = time.monotonic()
        pending = self._merge(
            table, deduped, "spj", order_cols=list(cfg.order_cols),
            aligned=False,
        )
        ph["fused_dedup_merge"] = (time.monotonic() - tp) * 1000
        got = self._resolve_dirty(label, gate, ph)
        n_dirty, n_total = got["n_dirty"], got["n_total"]
        if "after_dedup" in failpoints:
            raise ReplayCrash("after_dedup")
        if "after_write" in failpoints:
            raise ReplayCrash("after_write")

        rows = _lineage_rows(slot, pending)
        write_epoch_metrics(self.metrics_root, slot, rows)
        tp = time.monotonic()
        version = audit_gated_commit(
            table, pending, slot,
            {
                "last_epoch": m.last_epoch,  # chunk commits never move the tail
                "bootstrap_chunks": applied + [chunk_id],
            },
            cfg.audit_fn, failpoints,
        )
        ph["commit"] = (time.monotonic() - tp) * 1000
        if "after_commit" in failpoints:
            raise ReplayCrash("after_commit")
        n_applied = sum(r["n_events"] for r in rows)
        maybe_rebucket(table, cfg)
        self._refresh_views(table)
        return ChunkResult(
            chunk_id=chunk_id,
            skipped=False,
            n_rows=n_total,
            n_applied=n_applied,
            n_superseded=max(n_total - n_dirty - n_applied, 0),
            n_dirty=n_dirty,
            rows_after=pending.stats.rows_after,
            version=version,
            apply_ms=(time.monotonic() - t0) * 1000.0,
            watermark_mode=watermark_mode,
        )

    # ---------- run ----------
    def run(
        self,
        through_epoch: int | None = None,
        failpoints: Sequence[str] = (),
    ) -> list[EpochResult]:
        cfg = self.config
        throttled = cfg.max_events_per_sec or cfg.max_bytes_per_sec
        t0 = time.monotonic()
        cum_ev = cum_b = 0
        results = []
        for e in self.discover_epochs():
            if through_epoch is not None and e > through_epoch:
                break
            r = self.apply_epoch(e, failpoints=failpoints)
            results.append(r)
            if throttled and not r.skipped:
                cum_ev += r.n_events
                cum_b += r.bytes_in
                wait = cfg.throttle_wait(cum_ev, cum_b, time.monotonic() - t0)
                if wait > 0:
                    r.throttle_ms = round(wait * 1000.0, 1)
                    time.sleep(wait)
        self._heal_views()
        return results

    def _heal_views(self) -> None:
        """Heal views skipped by the refresh cadence or stranded by a
        crash between a commit and its refresh (end of ``run()`` and
        of a stream drain)."""
        cfg = self.config
        if (cfg.materialized_views or cfg.join_views) and LakeTable.exists(
            self.table_root
        ):
            self._refresh_views(self.table())

    def _dirty_split(self, ev: DataFrame, name: str, order_guard: bool = False):
        """Split events on the dirty predicate: NULL in any key/order
        column means the event cannot be keyed or ordered. The
        dirty/total counts ride the merge job via an Observation (no
        extra scan); ``_resolve_dirty`` reads them afterwards. With
        ``order_guard`` the same Observation also takes the clean
        rows' min order key (``min_ord``) and max DELETE order key
        (``max_delete_ord``) for ``_check_feed_order``. Returns
        ``(gate, ev_clean)``; ``gate`` is opaque, for
        ``_resolve_dirty``."""
        cfg = self.config
        dirty_pred = None
        for c in (*cfg.keys, *cfg.order_cols):
            p = F.col(c).isNull()
            dirty_pred = p if dirty_pred is None else (dirty_pred | p)
        aggs = [
            F.sum(dirty_pred.cast("long")).alias("n_dirty"),
            F.count(F.lit(1)).alias("n_total"),
        ]
        if order_guard:
            clean_ord = F.when(
                ~dirty_pred, F.struct(*[F.col(c) for c in cfg.order_cols])
            )
            is_del = F.col(cfg.op_col) == cfg.delete_op
            aggs += [
                F.min(clean_ord).alias("min_ord"),
                F.max(F.when(is_del, clean_ord)).alias("max_delete_ord"),
            ]
        obs = Observation(name)
        ev_obs = ev.observe(obs, *aggs)
        return (ev, dirty_pred, aggs, obs, ev_obs), ev_obs.filter(~dirty_pred)

    def _dedup(self, ev_clean: DataFrame) -> DataFrame:
        """LWW dedup with the per-key lineage counters riding the same
        map-side-combined aggregation (operators.lww_dedup_stats; the
        salted two-stage form composes exact partials), then the
        configured transforms. Transforms see the ``__stat_*`` columns,
        which the merge tasks aggregate afterwards; column-additive
        transforms — the mandated Arrow withColumn form — are
        unaffected."""
        cfg = self.config
        deduped = lww_dedup_stats(
            ev_clean,
            keys=list(cfg.keys),
            order_cols=list(cfg.order_cols),
            op_col=cfg.op_col,
            delete_op=cfg.delete_op,
            lsn_col=cfg.lsn_col,
            content_col="content" if "content" in ev_clean.columns else None,
            salt_buckets=cfg.salt_buckets,
        )
        for fn in cfg.transforms:
            deduped = fn(deduped)
        return deduped

    def _merge(
        self,
        table: LakeTable,
        deduped: DataFrame,
        strategy: str,
        order_cols: list[str] | None = None,
        *,
        aligned: bool,
    ):
        """The one fused ``merge_into`` call of an epoch, bootstrap or
        chunk: dedup, transforms, merge and per-bucket lineage run as
        ONE Spark job. ``aligned`` makes it a ONE-shuffle job: the
        dedup agg's exchange, pinned to num_buckets partitions, IS the
        bucket routing, so the merge adds no exchange at all
        (mapInArrow over the agg output, asserted executor-side). It
        needs full-key routing — callers pass ``not m.bucket_cols`` —
        and no exchange after the dedup; otherwise ``merge_into``
        routes the frame itself. The conf pins must be live when
        merge_into's action runs, hence the context."""
        cfg = self.config
        # pinned on the events' own session: Structured Streaming
        # clones the session per query, and a micro-batch's plans
        # compile against the clone's SQLConf — confs set on the outer
        # session would silently not apply (measured: the agg exchange
        # coalesced to 1 partition and the executor-side assert fired)
        pins = (
            aligned_shuffle_confs(
                deduped.sparkSession, table.manifest().num_buckets
            )
            if aligned
            else nullcontext()
        )
        with pins:
            return merge_into(
                table,
                deduped,
                op_col=cfg.op_col,
                delete_op=cfg.delete_op,
                order_cols=order_cols,
                strategy=strategy,
                stat_cols=STAT_COLS,
                aligned=aligned,
            )

    def _resolve_dirty(self, epoch, gate, ph) -> dict:
        """Read the dirty/total counts off the epoch job's Observation,
        quarantine dirty rows, and enforce the error limits
        (ErrorRecordChecker.java:18-82 parity: record limit, when
        configured, is the only check). Raises DirtyDataError before
        the COMMIT point — nothing the epoch wrote is visible yet.
        Returns the observed metrics, ``n_dirty`` and ``n_total`` as
        ints."""
        cfg = self.config
        ev, dirty_pred, aggs, obs, ev_obs = gate
        try:
            got = dict(obs.get or {})
        except Exception:
            # degenerate plans (e.g. every row dirty) can leave the
            # observation row unreadable; fall back to one direct
            # aggregation of the same metrics. Logged + timed so the
            # extra full scan is attributable in the per-epoch phase
            # breakdown.
            import logging

            logging.getLogger(__name__).warning(
                "epoch %s: dirty-count observation unreadable; "
                "falling back to an extra event scan", epoch,
            )
            tf = time.monotonic()
            got = ev.agg(*aggs).first().asDict()
            ph["dirty_fallback_scans"] = (time.monotonic() - tf) * 1000
        n_dirty = got["n_dirty"] = int(got.get("n_dirty") or 0)
        n_total = got["n_total"] = int(got.get("n_total") or 0)
        if n_dirty and cfg.quarantine:
            ev_obs.filter(dirty_pred).write.mode("overwrite").parquet(
                os.path.join(self.quarantine_root(), f"epoch={epoch}")
            )
        # Reference parity (ErrorRecordChecker.java:18-45): when the
        # record limit is configured it is the ONLY check — the
        # reference's constructor nulls percentageLimit in that case.
        if cfg.dirty_record_limit is not None and n_dirty > cfg.dirty_record_limit:
            raise DirtyDataError(
                f"epoch {epoch}: {n_dirty} dirty records exceed limit "
                f"{cfg.dirty_record_limit} (quarantined under "
                f"{self.quarantine_root()})"
            )
        if (
            cfg.dirty_record_limit is None
            and cfg.dirty_pct_limit is not None
            and n_total > 0
            and (n_dirty / n_total) > cfg.dirty_pct_limit
        ):
            raise DirtyDataError(
                f"epoch {epoch}: dirty fraction {n_dirty / n_total:.4f} "
                f"exceeds percentage limit {cfg.dirty_pct_limit} "
                f"(quarantined under {self.quarantine_root()})"
            )
        return got

    def apply_epoch(self, epoch: int, failpoints: Sequence[str] = ()) -> EpochResult:
        """Apply ``events_root/epoch=N``: the exactly-once and
        contiguity gates, then the epoch core (``_apply_events``)."""
        t0 = time.monotonic()
        ev = self.spark.read.parquet(os.path.join(self.events_root, f"epoch={epoch}"))
        table = self._ensure_table(ev)

        m0 = table.manifest()
        last = m0.last_epoch
        if epoch <= last:
            return EpochResult(epoch=epoch, skipped=True)  # exactly-once gate
        if epoch != last + 1 and not (
            last == -1 and m0.summary.get("bootstrap_lsn") is not None
        ):
            # contiguity gate — EXCEPT the first epoch after a snapshot
            # bootstrap, which may start anywhere in the retained log
            # (the epochs before it expired; their effects are the
            # snapshot). From there on, contiguous as usual.
            raise ValueError(f"out-of-order epoch {epoch}; committed watermark is {last}")
        return self._apply_events(table, m0, ev, epoch, failpoints=failpoints, t0=t0)

    def _apply_events(
        self,
        table: LakeTable,
        m0,
        ev: DataFrame,
        slot: int,
        unordered: bool = False,
        failpoints: Sequence[str] = (),
        t0: float | None = None,
    ) -> EpochResult:
        """The epoch core of ``apply_epoch`` and the streaming sink:
        apply ``ev`` to ``table`` (at manifest ``m0``) and commit it as
        ``last_epoch = slot``, past the caller's exactly-once gate.

        ``unordered`` says the batch order is not proven (a stream's
        micro-batches come in file-discovery order). It turns on the
        cross-batch guards: the CoW merge is order-guarded against the
        current rows, MoR tables resolve reads by event order (set at
        ``_ensure_table``), and ``_check_feed_order`` rejects a batch
        reaching behind a delete. In-order epochs run the plain plan."""
        cfg = self.config
        t0 = time.monotonic() if t0 is None else t0

        # --- snapshot-handoff gate: a bootstrapped table already
        # reflects every event with lsn <= bootstrap_lsn (the snapshot
        # position), so epoch scans keep only the log tail past it — a
        # plain parquet-pushed range predicate, which with lsn in
        # stats_cols skips whole pre-watermark files. Replaying the
        # overlap would be both wasted work and WRONG under log
        # retention: expired pre-watermark deletes leave orphan inserts
        # that would resurrect rows the snapshot correctly lacks (why
        # the reference bounds its export window to the stream's
        # un-expired range, OTSStreamReaderChecker.java:39-58).
        # NULL-lsn rows stay: they are dirty data and must still hit
        # the quarantine accounting below.
        wlsn = m0.summary.get("bootstrap_lsn")
        if wlsn is not None:
            ev = ev.filter(
                (F.col(cfg.lsn_col) > F.lit(int(wlsn)))
                | F.col(cfg.lsn_col).isNull()
            )

        ph: dict[str, float] = {}
        gate, ev_clean = self._dirty_split(
            ev, f"dirty_epoch_{slot}", order_guard=unordered
        )
        # ONE Spark job: scan -> LWW dedup + per-key stats (one
        # shuffle, map-side combined) -> Arrow transforms -> per-bucket
        # Arrow merge WITH fused per-bucket lineage -> tiny stats
        # collect. The salted dedup rides it too: its stats compose
        # exactly across the two stages, and stage 2's exchange is on
        # the bare keys, so the aligned plan applies unchanged. The
        # dirty gate and the feed-order guard run after the job but
        # BEFORE the commit point: a failed epoch leaves only invisible
        # txn orphans (vacuum reclaims them).
        deduped = self._dedup(ev_clean)
        tp = time.monotonic()
        pending = self._merge(
            table, deduped, cfg.merge_strategy,
            # the MoR plan replaces the write-time guard with the
            # table's event-order READ resolution: stale batches land
            # as deltas that never win
            order_cols=(
                list(cfg.order_cols)
                if unordered and cfg.merge_strategy != "mor"
                else None
            ),
            aligned=not m0.bucket_cols,
        )
        ph["fused_dedup_merge"] = (time.monotonic() - tp) * 1000
        got = self._resolve_dirty(slot, gate, ph)
        summary = {"last_epoch": slot, "n_dirty": got["n_dirty"]}
        if unordered:
            self._check_feed_order(slot, m0, got, summary)
        if "after_dedup" in failpoints:
            raise ReplayCrash("after_dedup")
        if "after_write" in failpoints:
            raise ReplayCrash("after_write")

        apply_ms = (time.monotonic() - t0) * 1000.0
        rows = _lineage_rows(slot, pending)
        tp = time.monotonic()
        write_epoch_metrics(self.metrics_root, slot, rows)
        ph["metrics"] = (time.monotonic() - tp) * 1000
        tp = time.monotonic()
        version = audit_gated_commit(
            table, pending, slot, summary, cfg.audit_fn, failpoints
        )
        ph["commit"] = (time.monotonic() - tp) * 1000
        if "after_commit" in failpoints:
            raise ReplayCrash("after_commit")
        if (
            cfg.merge_strategy == "mor"
            and cfg.compact_every
            and (slot + 1) % cfg.compact_every == 0
        ):
            tp = time.monotonic()
            version = table.compact()
            ph["compact"] = (time.monotonic() - tp) * 1000
        tp = time.monotonic()
        rebucketed = maybe_rebucket(table, cfg)
        if rebucketed:
            ph["rebucket"] = (time.monotonic() - tp) * 1000
        self._refresh_views(table, ph, epoch=slot)
        return EpochResult(
            epoch=slot,
            skipped=False,
            n_events=sum(r["n_events"] for r in rows),
            n_keys=sum(r["n_keys_after_dedup"] for r in rows),
            n_deletes=sum(r["n_deletes"] for r in rows),
            rows_after=pending.stats.rows_after,
            affected_buckets=len(pending.stats.affected_buckets),
            apply_ms=apply_ms,
            version=version,
            phase_ms={k: round(v, 1) for k, v in ph.items()},
            n_dirty=got["n_dirty"],
            bytes_in=sum(r["bytes_in"] for r in rows),
            rebucketed_to=rebucketed,
        )

    def _check_feed_order(self, slot: int, m0, got: dict, summary: dict) -> None:
        """The delete-order guard of an unordered feed, on the clean
        rows' order keys the epoch job observed. An event OLDER than a
        delete that no longer shadows it — applied to a CoW table
        (``max_delete_ord``, kept in the summary here) or folded out
        of a MoR table by a compact/rebucket (``max_folded_delete_ord``,
        ``LakeTable._folded_delete_ord``) — would silently resurrect
        the key, so the batch raises UnorderedFeedError instead."""
        mor = self.config.merge_strategy == "mor"
        prev = m0.summary.get("max_folded_delete_ord" if mor else "max_delete_ord")
        lo = got.get("min_ord")
        if prev is not None and lo is not None and list(lo) < list(prev):
            what, fix = (
                ("a delete whose tombstone compaction already FOLDED",
                 "Widen the compaction cadence (retention window) past the "
                 "feed's max disorder, or deliver ordered batches")
                if mor else
                ("an already-applied delete",
                 "Feed event-order-contiguous batches or use "
                 "merge_strategy='mor'")
            )
            raise UnorderedFeedError(
                f"batch {slot} carries an event at order {list(lo)}, older "
                f"than {what} at {list(prev)}: the deleted key could "
                f"silently resurrect. {fix}."
            )
        seen = [list(o) for o in (got.get("max_delete_ord"), prev) if o is not None]
        if seen and not mor:
            summary["max_delete_ord"] = max(seen)

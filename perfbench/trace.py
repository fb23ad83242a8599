"""Tracing from outside the engine.

``Tracer`` records spans (name, start, end, parent, epoch) around the
benchmark's own calls and, while ``patched()`` is active, around the
module functions the engine calls internally. Spans are kept in memory
and written out when the run ends. Every top-level span also tags its
Spark jobs with ``setJobDescription`` so the event log can be folded
per call (``perfbench/eventlog.py``).

``split_epoch`` attributes one epoch's wall time to layers by prefix
difference, because the engine runs an epoch as one fused Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from datax_spark.engine import replay as replay_mod
from datax_spark.lake.matview import AggView
from datax_spark.lake.merge import PendingMerge
from datax_spark.lake.table import LakeTable


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, epoch: int | None = None):
        """Record one span; yields its dict (``None`` when disabled) so
        callers can attach counts."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "phase": self.phase,
            "epoch": epoch if epoch is not None else (parent or {}).get("epoch"),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans) + len(self._stack),
        }
        if parent is None:
            self.spark.sparkContext.setJobDescription(
                f"{name}|{self.phase}|epoch={rec['epoch']}"
            )
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.spans.append(rec)
            if parent is None:
                self.spark.sparkContext.setJobDescription(None)

    def select(self, name: str, phase: str = "window") -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["phase"] == phase]

    def durations(self, name: str, phase: str = "window") -> list[float]:
        return [s["end"] - s["start"] for s in self.select(name, phase)]

    @contextmanager
    def patched(self):
        """Wrap the engine's internal calls into the lake and metrics
        layers with spans; originals are restored on exit."""
        if not self.enabled:
            yield
            return
        tracer = self
        orig_merge = replay_mod.merge_into
        orig_metrics = replay_mod.write_epoch_metrics
        orig_commit = PendingMerge.commit
        orig_compact = LakeTable.compact
        orig_refresh = AggView.refresh

        def merge_into(table, updates, *a, **kw):
            with tracer.span("lake.merge.merge_into") as rec:
                pending = orig_merge(table, updates, *a, **kw)
                rec["files_written"] = pending.stats.files_written
                rec["bytes_written"] = sum(
                    os.path.getsize(f) for fs in pending.new_files.values() for f in fs
                )
                return pending

        def write_epoch_metrics(*a, **kw):
            with tracer.span("engine.metrics.write_epoch_metrics"):
                return orig_metrics(*a, **kw)

        def commit(self, *a, **kw):
            with tracer.span("lake.table.commit") as rec:
                version = orig_commit(self, *a, **kw)
            rec["manifest_bytes"] = manifest_bytes(self.table, version)
            return version

        def compact(self, *a, **kw):
            with tracer.span("lake.table.compact"):
                return orig_compact(self, *a, **kw)

        def refresh(self, *a, **kw):
            with tracer.span("lake.matview.refresh"):
                return orig_refresh(self, *a, **kw)

        replay_mod.merge_into = merge_into
        replay_mod.write_epoch_metrics = write_epoch_metrics
        PendingMerge.commit = commit
        LakeTable.compact = compact
        AggView.refresh = refresh
        try:
            yield
        finally:
            replay_mod.merge_into = orig_merge
            replay_mod.write_epoch_metrics = orig_metrics
            PendingMerge.commit = orig_commit
            LakeTable.compact = orig_compact
            AggView.refresh = orig_refresh

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def manifest_bytes(table: LakeTable, version: int) -> int:
    """Size of one snapshot's manifest file."""
    return os.path.getsize(os.path.join(table.root, "_manifests", f"v{version:08d}.json"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def split_epoch(tracer: Tracer, engine, epoch: int, pre_state: dict[str, str], work: str) -> dict:
    """Attribute one epoch to layers by prefix difference.

    ``pre_state`` maps each root the epoch writes (the table, and any
    attached view) to a copy taken just before the epoch was applied.
    On fresh copies of that state the epoch is run as growing prefixes,
    stages 1-3 into a noop sink:

    1. scan; 2. + ``lww_dedup_stats``; 3. + the transforms;
    4. + ``merge_into``; 5. + ``PendingMerge.commit`` (timed in the
    same run as 4);

    and once more as a full ``ReplayEngine.apply_epoch``, whose wall is
    the epoch wall. Layer time = difference of consecutive prefixes;
    the engine's own metrics/views/compact phases come from the full
    run's ``phase_ms``; what no layer accounts for is ``unattributed_s``,
    so the layers plus the remainder equal the wall exactly."""
    from datax_spark.engine.replay import ReplayEngine, aligned_shuffle_confs
    from datax_spark.lake.merge import merge_into
    from datax_spark.operators.dedup import STAT_COLS, lww_dedup_stats

    spark = engine.spark
    cfg = engine.config
    tracer.phase = "split"

    def fresh(tag: str) -> dict[str, str]:
        out = {}
        for root, copy in pre_state.items():
            dst = os.path.join(work, tag, os.path.basename(root))
            shutil.copytree(copy, dst)
            out[root] = dst
        return out

    def timed(name: str, fn) -> float:
        with tracer.span(f"split.{name}", epoch=epoch):
            t0 = time.monotonic()
            fn()
            return time.monotonic() - t0

    ev = spark.read.parquet(os.path.join(engine.events_root, f"epoch={epoch}"))
    stage = {}
    stage["scan"] = timed("scan", lambda: _noop(ev))
    nb = LakeTable.load(spark, pre_state[engine.table_root]).manifest().num_buckets
    with aligned_shuffle_confs(spark, nb):
        deduped = lww_dedup_stats(
            ev,
            keys=list(cfg.keys),
            order_cols=list(cfg.order_cols),
            op_col=cfg.op_col,
            delete_op=cfg.delete_op,
            lsn_col=cfg.lsn_col,
            content_col="content",
        )
        stage["dedup"] = timed("dedup", lambda: _noop(deduped))
        for fn in cfg.transforms:
            deduped = fn(deduped)
        stage["transforms"] = timed("transforms", lambda: _noop(deduped))
        roots = fresh("prefix")
        table = LakeTable.load(spark, roots[engine.table_root])
        pending = []
        stage["merge"] = timed(
            "merge",
            lambda: pending.append(
                merge_into(
                    table,
                    deduped,
                    op_col=cfg.op_col,
                    delete_op=cfg.delete_op,
                    strategy=cfg.merge_strategy,
                    stat_cols=STAT_COLS,
                    aligned=True,
                )
            ),
        )
        commit_s = timed("commit", lambda: pending[0].commit(summary={"last_epoch": epoch}))

    roots = fresh("full")
    full = ReplayEngine(
        spark,
        events_root=engine.events_root,
        table_root=roots[engine.table_root],
        metrics_root=os.path.join(work, "full", "metrics"),
        config=_remap_views(cfg, roots),
    )
    with tracer.span("split.full", epoch=epoch):
        t0 = time.monotonic()
        res = full.apply_epoch(epoch)
        wall = time.monotonic() - t0
    ph = res.phase_ms
    layers = {
        "scan_s": stage["scan"],
        "dedup_s": stage["dedup"] - stage["scan"],
        "transforms_s": stage["transforms"] - stage["dedup"],
        "merge_s": stage["merge"] - stage["transforms"],
        "commit_s": commit_s,
        "metrics_s": ph.get("metrics", 0.0) / 1000.0,
        "views_s": ph.get("views", 0.0) / 1000.0,
        "compact_s": ph.get("compact", 0.0) / 1000.0,
    }
    layers["unattributed_s"] = wall - sum(layers.values())
    layers["epoch_wall_s"] = wall
    layers["epoch"] = epoch
    return layers


def _remap_views(cfg, roots: dict[str, str]):
    from dataclasses import replace

    return replace(
        cfg, materialized_views=tuple(roots.get(v, v) for v in cfg.materialized_views)
    )

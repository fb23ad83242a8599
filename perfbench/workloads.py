"""The benchmark's workloads, each over one generated change log.

* ``bulk_backfill``: closed loop over large epochs into a fresh table,
  followed by keyed lookups and change-feed reads of the last epoch.
* ``serve_mor``: closed loop of small epochs on a merge-on-read table
  with an attached aggregate view; keyed lookups and a change-feed read
  of the epoch run between epochs.
* ``tail_small_epochs``: open loop of small epochs on a built table; a
  releaser thread makes each epoch arrive on a fixed schedule.

Every input comes from ``fixtures.changelog`` with the run's seed. Each
workload records what the run did (epochs, reads, failures); the
correctness gate checks it against ``perfbench.gate.Fold`` afterwards.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from datax_spark.engine.replay import EpochResult, ReplayConfig, ReplayEngine
from datax_spark.fixtures.changelog import ChangelogSpec, write_events
from datax_spark.functions.content import (
    normalize_trailing_ws,
    sha256_hex,
    token_count_bpeish,
)
from datax_spark.lake.matview import AggView, AggViewSpec
from datax_spark.lake.table import LakeTable

from perfbench import gate
from perfbench.trace import Tracer, split_epoch


@dataclass(frozen=True)
class Shape:
    events_per_epoch: int
    # bulk_backfill: fewest epochs generated; the others: epochs folded
    # into the table's first (base) epoch
    epochs: int
    n_repos: int
    paths_per_repo: int
    num_buckets: int


SHAPES = {
    "full": {
        "bulk_backfill": Shape(100_000, 2, 200, 400, 16),
        "serve_mor": Shape(10_000, 2, 200, 400, 8),
        "tail_small_epochs": Shape(10_000, 10, 200, 400, 16),
    },
    "tiny": {
        "bulk_backfill": Shape(3_000, 2, 20, 50, 4),
        "serve_mor": Shape(500, 3, 20, 50, 4),
        "tail_small_epochs": Shape(500, 3, 20, 50, 4),
    },
}
# Each run's work is fixed by --seconds: one window epoch (bulk) or one
# epoch-and-reads cycle (serve) per this many seconds, the time each
# takes on a 4-core host. A fixed amount of work per run, rather than a
# deadline, keeps the mix of epochs the same in every run.
BULK_EPOCH_S = 4.0
SERVE_CYCLE_S = 5.0
# serve_mor compacts and refreshes its view every third epoch; the first
# window epoch is one of them.
COMPACT_EVERY = 3
# tail_small_epochs releases one epoch per this many seconds, twice the
# median commit of its epochs (about 3 s) on a 4-core host: half
# utilisation.
TAIL_INTERVAL_S = 6.0
TAIL_MIN_EPOCHS = 4


def content_transforms(df):
    """The three Arrow content UDFs applied to each epoch's winners."""
    if "content" not in df.columns:
        return df
    return (
        df.withColumn("content", normalize_trailing_ws("content"))
        .withColumn("content_sha256", sha256_hex("content"))
        .withColumn("n_tokens", token_count_bpeish("content"))
    )


@dataclass
class EpochRecord:
    epoch: int
    start: float
    end: float
    v0: int | None  # table version before the epoch
    v1: int  # and after it
    result: EpochResult

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class ReadRecord:
    kind: str  # "lookup" or "changes"
    epoch: int
    seconds: float
    keys: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    count: int = 0


class Releaser(threading.Thread):
    """Open-loop arrivals: moves each staged ``epoch=N`` directory into
    the events root when it falls due, whether or not the engine has
    caught up. ``due`` and ``released`` map epochs to monotonic times;
    ``late_s`` says how late the releaser itself ran."""

    def __init__(self, staged: str, events_root: str, epochs: list[int], start: float,
                 interval: float):
        super().__init__(name="epoch-releaser", daemon=True)
        self.staged = staged
        self.events_root = events_root
        self.due = {e: start + i * interval for i, e in enumerate(epochs)}
        self.released: dict[int, float] = {}
        self._ready = {e: threading.Event() for e in epochs}
        self._halt = threading.Event()

    def run(self) -> None:
        try:
            for e, due in self.due.items():
                if self._halt.wait(max(0.0, due - time.monotonic())):
                    return
                os.rename(os.path.join(self.staged, f"epoch={e}"),
                          os.path.join(self.events_root, f"epoch={e}"))
                self.released[e] = time.monotonic()
                self._ready[e].set()
        finally:
            # an epoch never released must not block its waiter: the
            # apply then fails on the missing directory and is counted
            for ev in self._ready.values():
                ev.set()

    def wait(self, epoch: int, timeout: float | None = None) -> bool:
        """Block until ``epoch`` has arrived or the releaser stopped."""
        return self._ready[epoch].wait(timeout)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    @property
    def late_s(self) -> list[float]:
        return [self.released[e] - self.due[e] for e in sorted(self.released)]


def backlog_max(released: dict[int, float], committed: dict[int, float]) -> int:
    """The most epochs released but not yet committed at any instant."""
    steps = sorted([(t, 1) for t in released.values()] + [(t, -1) for t in committed.values()])
    depth = most = 0
    for _, d in steps:
        depth += d
        most = max(most, depth)
    return most


class Workload:
    name = ""
    strategy = "spj"
    serves_reads = True  # lookups and change reads in the window
    lookup_calls = 2  # per epoch they follow

    def __init__(self, spark, scratch: str, seed: int, seconds: float, scale: str, tracer: Tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.shape = SHAPES[scale][self.name]
        self.tracer = tracer
        self.events_root = os.path.join(scratch, "events")
        self.table_root = os.path.join(scratch, "table")
        self.staged = os.path.join(scratch, "staged")  # epochs not yet arrived
        self.releaser: Releaser | None = None
        self.records: list[EpochRecord] = []
        self.reads: list[ReadRecord] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.write_events_s = 0.0
        self.base_epochs = 1  # generated epochs folded into epoch 0
        self.last_epoch = -1  # last generated epoch
        self.engine: ReplayEngine | None = None
        self.pre_state: dict[str, str] = {}
        self.pre_epoch: int | None = None

    # ---- the log ------------------------------------------------------
    def lo_lsn(self, epoch: int) -> int:
        return 0 if epoch == 0 else (self.base_epochs + epoch - 1) * self.shape.events_per_epoch

    def hi_lsn(self, epoch: int) -> int:
        return (self.base_epochs + epoch) * self.shape.events_per_epoch

    def generate(self, epochs: int, evolve_from_epoch: int | None) -> None:
        """Write ``base_epochs + epochs`` epochs with ``write_events``
        and fold the first ``base_epochs`` of them into ``epoch=0``, so
        the events root holds epochs ``0..epochs``."""
        s = self.shape
        spec = ChangelogSpec(
            n_events=s.events_per_epoch * (self.base_epochs + epochs),
            n_repos=s.n_repos,
            paths_per_repo=s.paths_per_repo,
            events_per_epoch=s.events_per_epoch,
            evolve_from_epoch=evolve_from_epoch,
            seed=self.seed,
        )
        gen = os.path.join(self.scratch, "gen")
        with self.tracer.span("fixtures.changelog.write_events"):
            t0 = time.monotonic()
            write_events(self.spark, spec, gen)
            self.write_events_s += time.monotonic() - t0
        base = os.path.join(self.events_root, "epoch=0")
        os.makedirs(base)
        for e in range(self.base_epochs):
            src = os.path.join(gen, f"epoch={e}")
            for f in os.listdir(src):
                if f.endswith(".parquet"):  # part names repeat across epochs
                    os.rename(os.path.join(src, f), os.path.join(base, f"e{e:04d}-{f}"))
        for j in range(1, epochs + 1):
            os.rename(
                os.path.join(gen, f"epoch={self.base_epochs + j - 1}"),
                os.path.join(self.events_root, f"epoch={j}"),
            )
        shutil.rmtree(gen)
        self.last_epoch = epochs

    def config(self, views: tuple[str, ...] = (), every: int | None = None) -> ReplayConfig:
        return ReplayConfig(
            num_buckets=self.shape.num_buckets,
            transforms=(content_transforms,),
            merge_strategy=self.strategy,
            compact_every=every,
            materialized_views=views,
            view_refresh_every=every or 1,
        )

    def engine_for(self, cfg: ReplayConfig, events_root: str | None = None,
                   table_root: str | None = None) -> ReplayEngine:
        root = table_root or self.table_root
        return ReplayEngine(
            self.spark,
            events_root=events_root or self.events_root,
            table_root=root,
            metrics_root=root + "_metrics",
            config=cfg,
        )

    def view_roots(self) -> list[str]:
        return list(self.engine.config.materialized_views)

    # ---- operations ---------------------------------------------------
    def apply(self, epoch: int) -> EpochRecord | None:
        """Apply one epoch; a failure is recorded and returns None."""
        self.attempted += 1
        table = self.engine.table() if LakeTable.exists(self.table_root) else None
        if self.tracer.enabled and self.tracer.phase == "window" and table is not None:
            self._keep_pre_state(epoch)
        v0 = table.current_version() if table else None
        try:
            with self.tracer.span("engine.replay.apply_epoch", epoch=epoch):
                start = time.monotonic()
                res = self.engine.apply_epoch(epoch)
                end = time.monotonic()
        except Exception as e:  # a failed epoch is a counted, reported outcome
            self.failures.append(f"epoch {epoch}: {type(e).__name__}: {e}")
            return None
        rec = EpochRecord(epoch, start, end, v0, self.engine.table().current_version(), res)
        if self.tracer.phase == "window":
            self.records.append(rec)
        return rec

    def _keep_pre_state(self, epoch: int) -> None:
        """Traced runs copy the table (and views) before each window
        epoch, so the last one can be split afterwards."""
        pre = os.path.join(self.scratch, "pre")
        shutil.rmtree(pre, ignore_errors=True)
        self.pre_state = {}
        for root in [self.table_root, *self.view_roots()]:
            dst = os.path.join(pre, os.path.basename(root))
            shutil.copytree(root, dst)
            self.pre_state[root] = dst
        self.pre_epoch = epoch

    def lookup(self, epoch: int, keys: list[tuple[str, str]]) -> None:
        self.attempted += 1
        table = self.engine.table()
        try:
            with self.tracer.span("lake.table.lookup", epoch=epoch) as rec:
                t0 = time.monotonic()
                rows = table.lookup(keys).selectExpr(*gate_select(table)).collect()
                dt = time.monotonic() - t0
            if rec is not None:
                filters = [("repo", "in", sorted({k[0] for k in keys})),
                           ("path", "in", sorted({k[1] for k in keys}))]
                kept, skipped = table.plan_files(filters)
                m = table.manifest()
                rec["plan_files_kept_frac"] = len(kept) / max(1, len(kept) + len(skipped))
                rec["delta_files_per_bucket"] = sum(
                    len(v) for v in m.delta_files.values()
                ) / max(1, int(m.num_buckets))
        except Exception as e:
            self.failures.append(f"lookup at epoch {epoch}: {type(e).__name__}: {e}")
            return
        self.reads.append(ReadRecord("lookup", epoch, dt, keys=keys, rows=[tuple(r) for r in rows]))

    def changes(self, rec: EpochRecord) -> None:
        """Read the change feed of one applied epoch."""
        self.attempted += 1
        table = self.engine.table()
        try:
            with self.tracer.span("lake.table.changes", epoch=rec.epoch):
                t0 = time.monotonic()
                n = table.changes(rec.v0, rec.v1).count()
                dt = time.monotonic() - t0
        except Exception as e:
            self.failures.append(f"changes of epoch {rec.epoch}: {type(e).__name__}: {e}")
            return
        self.reads.append(ReadRecord("changes", rec.epoch, dt, count=n))

    def lookups(self, epoch: int, plan: dict[int, list]) -> None:
        """The seeded lookups planned for an epoch."""
        for keys in plan[epoch]:
            self.lookup(epoch, keys)

    def event_globs(self) -> list[str]:
        """Every generated event file, arrived or staged."""
        roots = [self.events_root] + ([self.staged] if os.path.isdir(self.staged) else [])
        return [os.path.join(r, "epoch=*", "*.parquet") for r in roots]

    def lookup_windows(self) -> dict[int, tuple[int, int]]:
        """Epoch -> its lsn range, for every epoch reads may follow."""
        return {e: (self.lo_lsn(e), self.hi_lsn(e)) for e in range(1, self.last_epoch + 1)}

    # ---- checking -----------------------------------------------------
    def check(self, fold: gate.Fold) -> None:
        """The correctness gate: every read answer, then the final table
        state, against the independent fold."""
        for r in self.reads:
            if r.kind == "lookup":
                problems = gate.compare(_frame(r.rows), fold.state(self.hi_lsn(r.epoch), r.keys))
            else:
                want = fold.changed_keys(self.lo_lsn(r.epoch), self.hi_lsn(r.epoch))
                problems = [] if r.count == want else [f"{r.count} changes read, fold has {want}"]
            if problems:
                self.failures.append(f"{r.kind} at epoch {r.epoch}: {problems}")
        self.attempted += 1
        if not LakeTable.exists(self.table_root):
            self.failures.append("no table was written")
            return
        table = self.engine.table()
        last = table.last_epoch
        got = table.read().selectExpr(*gate_select(table)).toPandas()
        want = fold.state(self.hi_lsn(last))
        problems = gate.compare(got, want)
        if problems:
            self.failures.append(f"final state after epoch {last}: {problems}")

    def split(self) -> dict:
        return split_epoch(
            self.tracer, self.engine, self.pre_epoch, self.pre_state,
            os.path.join(self.scratch, "split"),
        )


def gate_select(table: LakeTable) -> list[str]:
    """The gate's columns, with content as its sha256."""
    cols = {f.name for f in table.manifest().schema.fields}
    return [
        "repo", "path", "commit", "lsn", "lang",
        "lang_variant" if "lang_variant" in cols else "CAST(NULL AS STRING) AS lang_variant",
        "sha2(content, 256) AS content_sha256",
    ]


def _frame(rows: list[tuple]):
    import pandas as pd

    return pd.DataFrame(rows, columns=gate.GATE_COLS)


class BulkBackfill(Workload):
    name = "bulk_backfill"
    # all reads follow the last epoch: six of each kind, enough for
    # steady medians
    lookup_calls = 6
    # untimed reads of each kind before the timed ones: the JIT is still
    # compiling, and the first two of each kind run 15-50% slower
    warmups = 2

    def setup(self) -> None:
        n = max(self.shape.epochs, round(self.seconds / BULK_EPOCH_S))
        self.generate(n - 1, evolve_from_epoch=min(2, n - 1))
        # warm-up on one file of epoch 0 in a throwaway table, so the
        # window's first epoch and reads do not pay JIT and Python-worker
        # start-up
        warm_events = os.path.join(self.scratch, "warm_events", "epoch=0")
        os.makedirs(warm_events)
        first = sorted(os.listdir(os.path.join(self.events_root, "epoch=0")))[0]
        shutil.copy(os.path.join(self.events_root, "epoch=0", first), warm_events)
        warm = self.engine_for(
            self.config(),
            events_root=os.path.dirname(warm_events),
            table_root=os.path.join(self.scratch, "warm_table"),
        )
        warm.apply_epoch(0)
        table = warm.table()
        table.lookup([("repo_000", "warm")]).collect()
        table.changes(*table.versions()[-2:]).count()
        self.engine = self.engine_for(self.config())

    def measure(self, plan) -> None:
        self.tracer.phase = "window"
        for e in range(self.last_epoch + 1):
            if self.apply(e) is None:
                return
        # the reads: lookups on the final table and the change feed of
        # the last epoch, after untimed warm-up reads of each kind. The
        # timed reads alternate, so each kind's median spans the whole
        # read phase rather than a few seconds of it.
        self.tracer.phase = "reads"
        last = self.records[-1]
        table = self.engine.table()
        for keys in plan[last.epoch][:self.warmups]:
            table.lookup(keys).collect()
            table.changes(last.v0, last.v1).count()
        for keys in plan[last.epoch]:
            self.lookup(last.epoch, keys)
            self.changes(last)


class ServeMor(Workload):
    name = "serve_mor"
    strategy = "mor"

    def setup(self) -> None:
        self.base_epochs = self.shape.epochs
        # epoch 1 warms up; the window has at least three cycles, so it
        # holds one compacting epoch and two plain ones
        self.generate(1 + max(3, round(self.seconds / SERVE_CYCLE_S)), None)
        self.engine = self.engine_for(self.config())
        if self.apply(0) is None:
            raise RuntimeError(self.failures[-1])
        table = self.engine.table()
        view_root = os.path.join(self.scratch, "view_by_lang")
        view = AggView.create(
            self.spark, view_root, table,
            AggViewSpec(group_cols=("lang",), sum_cols=("n_tokens",),
                        group_fill=(("lang", "<null>"),)),
            num_buckets=4,
        )
        view.refresh(table)
        self.engine = self.engine_for(self.config(views=(view_root,), every=COMPACT_EVERY))
        warm = self.apply(1)  # warm-up: one epoch and its reads
        if warm is None:
            raise RuntimeError(self.failures[-1])
        self.engine.table().lookup([("repo_000", "warm")]).collect()
        self.engine.table().changes(warm.v0, warm.v1).count()

    def measure(self, plan) -> None:
        self.tracer.phase = "window"
        for e in range(2, self.last_epoch + 1):
            rec = self.apply(e)
            if rec is None:
                return
            self.lookups(e, plan)
            self.changes(rec)


class TailSmallEpochs(Workload):
    name = "tail_small_epochs"
    serves_reads = False

    def setup(self) -> None:
        self.base_epochs = self.shape.epochs
        # epoch 0 is the built table, epoch 1 warms up, the rest arrive
        # in the window
        self.generate(1 + max(TAIL_MIN_EPOCHS, round(self.seconds / TAIL_INTERVAL_S)), None)
        self.engine = self.engine_for(self.config())
        for e in (0, 1):
            if self.apply(e) is None:
                raise RuntimeError(self.failures[-1])
        os.makedirs(self.staged)
        for e in range(2, self.last_epoch + 1):
            os.rename(os.path.join(self.events_root, f"epoch={e}"),
                      os.path.join(self.staged, f"epoch={e}"))

    def measure(self, plan) -> None:
        self.tracer.phase = "window"
        epochs = list(range(2, self.last_epoch + 1))
        self.releaser = Releaser(self.staged, self.events_root, epochs, time.monotonic(),
                                 TAIL_INTERVAL_S)
        self.releaser.start()
        try:
            for e in epochs:
                self.releaser.wait(e)
                if self.apply(e) is None:
                    return
        finally:
            self.releaser.stop()

    def freshness_lag_s(self) -> list[float]:
        """Per window epoch: from its due time to the commit that makes
        it visible."""
        return [r.end - self.releaser.due[r.epoch] for r in self.records]

    def backlog_max_epochs(self) -> int:
        return backlog_max(self.releaser.released, {r.epoch: r.end for r in self.records})


WORKLOADS = {w.name: w for w in (BulkBackfill, ServeMor, TailSmallEpochs)}

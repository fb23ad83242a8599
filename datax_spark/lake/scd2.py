"""SCD Type-2 history target for the CDC replay stream.

LWW replay keeps each key's LAST version; an SCD2 (slowly-changing-
dimension type 2) target keeps EVERY version as a validity interval —
the warehouse shape for "what did this row look like at commit X".
Reference analog: the common DataX deployment pattern of landing
otsstreamreader's op-typed change records (MultiVerModeRecordSender
.java:83-121) into an append-only history table via a writer without
upsert keys (mysqlwriter writeMode=insert, mysqlwriter/doc/
mysqlwriter.md); there the warehouse closes intervals with follow-up
SQL — here the engine maintains the intervals itself, incrementally
and exactly-once.

Table shape — one row per (key, version interval):

    <key cols>  payload...  commit  lsn          <- the version's own
                                                    event = valid_from
    valid_to_commit  valid_to_lsn   (NULL = still open)
    is_current                      (valid_to IS NULL)

* identity key   = key_cols + (lsn,)  — ``lsn`` is the log's total
  order, so (key, lsn) names exactly one version interval;
* bucket routing = key_cols only (``LakeTable.create(bucket_cols=)``):
  a key's entire history co-locates in one bucket even though the
  identity key differs per version, so "the open rows of this epoch's
  keys" is a bucket-pruned read, never a table scan. With
  ``is_current`` in ``stats_cols``, files holding only closed history
  (max(is_current)=false — the steady state after compaction sorts)
  are skipped by file stats on top of the bucket pruning.

Epoch apply — the same exactly-once discipline as the LWW engine,
as ONE Spark job whose only exchange routes the epoch's events to
their buckets (``repartitionById(num_buckets, __b)``):

1. scan the epoch's events (op I/U/D, totally ordered by
   ``order_cols`` = (commit, lsn)) and route them;
2. per affected bucket, one task of the bucket kernel drops
   re-delivered events (a repeated (key, order) pair) and takes, from
   the bucket's OPEN file, the open rows of the keys the epoch
   touches;
3. the task sorts those open rows (each at its own (commit, lsn) =
   valid_from) together with the events by key + order and stitches
   the intervals: ``valid_to`` = the next row of the same key; a
   delete event closes its predecessor and emits no row; the last
   non-delete version stays open (``is_current``);
4. the task writes the bucket's new open file (the untouched open
   rows + the epoch's open rows) and APPENDS one closed file. Open
   and closed rows live in SEPARATE per-bucket files (the tiered
   layout): a history table grows monotonically, so any plan that
   re-reads or rewrites closed history pays more every epoch; closed
   files are immutable instead, so epoch cost is O(batch + live keys
   of the affected buckets) however long the history grows, and
   current-state reads skip every closed file via is_current file
   stats;
5. two-phase commit with the ``last_epoch`` manifest watermark —
   crash replay / duplicate epochs are no-ops, same gate as replay.

Order guard: every new event must sort STRICTLY AFTER the affected
key's open row (the engine's epoch-contiguity gate guarantees this on
an in-order log); an event that ties the open row's order tuple sorts
before it. A violation would silently rewrite closed history, so each
bucket task counts the open rows that are not first in their key and
the driver aborts before the commit when any is; the written txn
files are orphans, exactly like any pre-commit crash.

Scale: the one exchange moves the epoch's events only — batch-sized,
never table-sized — and a task reads one open file, bounded by its
bucket's live keys. Every ``compact_every`` epochs ``compact_closed``
concatenates each bucket's small closed files. At 10^10 events the
table grows with TOTAL VERSIONS (that is what SCD2 stores), but an
epoch never pays for history it didn't touch.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datax_spark.engine.replay import discover_epochs
from datax_spark.lake.merge import (
    MergeStats,
    PendingMerge,
    _is_delete,
    aligned_bucket_apply,
)
from datax_spark.lake.table import (
    LakeTable,
    bucket_expr_for,
    composite_key_array,
    conform_arrow,
    spark_sort_indices,
    write_parquet_atomic,
)
from datax_spark.operators.schema_evolution import evolve_schema

VALID_TO_SUFFIX = "valid_to_"


class Scd2OrderError(RuntimeError):
    """An epoch carried an event at or before an affected key's open
    row — applying it would rewrite closed history."""


@dataclass(frozen=True)
class Scd2Config:
    keys: tuple[str, ...] = ("repo", "path")
    order_cols: tuple[str, ...] = ("commit", "lsn")
    op_col: str = "op"
    delete_op: str = "D"
    num_buckets: int = 32
    shard_manifest_buckets: int | None = None
    # after every N-th epoch, run compact_closed(min_files=2): each
    # bucket holding two or more closed files gets them concatenated
    # into one (no key resolution, open file untouched). None: never.
    compact_every: int | None = 8

    def __post_init__(self) -> None:
        if not self.keys or not self.order_cols:
            raise ValueError("keys and order_cols must be non-empty")
        overlap = set(self.keys) & set(self.order_cols)
        if overlap:
            raise ValueError(f"keys and order_cols overlap: {sorted(overlap)}")
        if self.compact_every is not None and self.compact_every < 1:
            raise ValueError(f"compact_every must be >= 1, got {self.compact_every}")

    @property
    def seq_col(self) -> str:
        """The totally-ordered column that extends the identity key
        (the last order col — the LSN)."""
        return self.order_cols[-1]


def _is_open_file(path: str) -> bool:
    return os.path.basename(path).split(".")[0].endswith("-open")


def _history_schema(events: T.StructType, cfg: Scd2Config) -> T.StructType:
    """The history table's columns for an events schema: the payload,
    one ``valid_to_`` column per order column, and ``is_current``."""
    base = [f for f in events.fields if f.name != cfg.op_col]
    return T.StructType([
        *base,
        *[
            T.StructField(VALID_TO_SUFFIX + c, events[c].dataType, True)
            for c in cfg.order_cols
        ],
        T.StructField("is_current", T.BooleanType(), True),
    ])


def _same_as_next(t: pa.Table, cols: list[str]) -> np.ndarray:
    """``num_rows - 1`` flags: row i equals row i+1 on every column of
    ``cols`` (NULL equals NULL, as in a Spark grouping)."""
    same = np.ones(t.num_rows - 1, dtype=bool)
    for c in cols:
        col = t.column(c)
        a, b = col.slice(0, t.num_rows - 1), col.slice(1)
        eq = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        same &= eq.to_numpy()
    return same


_TIERED_STATS_SCHEMA = (
    "bucket int, open_file string, open_rows long, closed_file string, "
    "closed_rows long, open_rows_before long, versions long, keys long, "
    "violations long"
)


def _tiered_merge(
    table: LakeTable, events: DataFrame, epoch: int, cfg: Scd2Config
) -> PendingMerge:
    """The write phase of one epoch: route ``events`` to their buckets
    and run the bucket kernel, one task per affected bucket. A task
    stitches the bucket's events onto the open rows of their keys (see
    the module docstring), writes the new open file and one new closed
    file, and returns one stats row: the interval rows the epoch added
    (``versions``, its non-delete events after de-duplication), the
    distinct keys with an event (``keys``) and the open rows that are
    not first in their key (``violations``) —
    ``PendingMerge.bucket_stats``. Closed files are never read."""
    m = table.manifest()
    root = table.root
    keys = list(cfg.keys)
    order = list(cfg.order_cols)
    evolved = evolve_schema(
        m.schema, _history_schema(events.schema, cfg),
        frozen_cols=set(m.key_cols) | set(m.bucket_cols or ()),
    )
    schema_pa = to_arrow_schema(evolved)

    def refuse(why: str):
        return ValueError(
            f"{root}: {why}; the SCD2 apply extends only its tiered layout "
            f"(one '-open' and any '-closed' files per bucket) — replay the "
            f"changelog into a fresh table root"
        )

    open_file: dict[int, str] = {}
    closed_files: dict[int, list[str]] = {}
    for b, fs in m.files.items():
        bi = int(b)
        for p in fs:
            if _is_open_file(p):
                if bi in open_file:
                    raise refuse(f"bucket {b} has two open files")
                open_file[bi] = os.path.join(root, p)
            elif "-closed" in os.path.basename(p):
                closed_files.setdefault(bi, []).append(os.path.join(root, p))
            else:
                raise refuse(f"file {p!r} is neither an open nor a closed file")
    if m.delta_files:
        raise refuse("the table has merge-on-read delta files")

    txn = table.new_txn_dir()

    def apply_bucket(part: pa.Table) -> list[dict]:
        b = int(part.column("__b")[0].as_py())
        ev_keys = pc.unique(composite_key_array(part, keys))
        hits = schema_pa.empty_table()
        survivors = []
        open_before = 0
        if b in open_file:
            cur = pq.read_table(open_file[b])
            open_before = cur.num_rows
            hit = pc.is_in(composite_key_array(cur, keys), value_set=ev_keys)
            survivors = [conform_arrow(cur.filter(pc.invert(hit)), schema_pa)]
            hits = conform_arrow(cur.filter(hit), schema_pa)

        # one timeline per key; on an order tie the event sorts before
        # the open row, so the tie counts as a violation below
        is_del = np.append(
            _is_delete(part, cfg.op_col, cfg.delete_op).to_numpy(),
            np.zeros(hits.num_rows, dtype=bool),
        )
        tl = (
            pa.concat_tables([conform_arrow(part, schema_pa), hits])
            .append_column("__del", pa.array(is_del))
            .append_column("__open", pa.array(np.arange(len(is_del)) >= part.num_rows))
        )
        tl = tl.take(spark_sort_indices(tl, [*keys, *order, "__open"]))

        # a re-delivered event repeats the (key, order) of the row
        # before it; open rows sort last on a tie, so it is an event
        is_open = tl.column("__open").to_numpy(zero_copy_only=False)
        dup = np.zeros(tl.num_rows, dtype=bool)
        dup[1:] = _same_as_next(tl, [*keys, *order]) & ~is_open[1:]
        tl, is_open = tl.filter(pa.array(~dup)), is_open[~dup]

        # valid_to = the next row of the same key, delete events
        # included (a delete closes its predecessor)
        n = tl.num_rows
        same_key = _same_as_next(tl, keys)
        has_next = np.append(same_key, False)
        nxt = pa.array(np.append(np.arange(1, n), 0), mask=~has_next)
        for c in order:
            vt = VALID_TO_SUFFIX + c
            tl = tl.set_column(
                tl.schema.get_field_index(vt), vt,
                tl.column(c).take(nxt).cast(schema_pa.field(vt).type),
            )
        tl = tl.set_column(
            tl.schema.get_field_index("is_current"), "is_current",
            pa.array(~has_next),
        )
        is_del = tl.column("__del").to_numpy(zero_copy_only=False)
        rows = tl.filter(pa.array(~is_del)).drop_columns(["__del", "__open"])

        cur_mask = rows.column("is_current")
        new_open = pa.concat_tables([*survivors, rows.filter(cur_mask)])
        closed = rows.filter(pc.invert(cur_mask))
        out = {
            "bucket": b,
            "open_file": None,
            "open_rows": new_open.num_rows,
            "closed_file": None,
            "closed_rows": closed.num_rows,
            "open_rows_before": open_before,
            "versions": int((~is_del & ~is_open).sum()),
            "keys": len(ev_keys),
            "violations": int((is_open[1:] & same_key).sum()),
        }
        if new_open.num_rows:
            out["open_file"] = write_parquet_atomic(
                new_open, os.path.join(txn, f"b{b:05d}-open.parquet")
            )
        if closed.num_rows:
            out["closed_file"] = write_parquet_atomic(
                closed, os.path.join(txn, f"b{b:05d}-closed-e{epoch}.parquet")
            )
        return [out]

    # routed like every merge: partition b holds bucket b, one task per
    # bucket (a repartition by number is never coalesced by AQE)
    routed = events.withColumn("__b", bucket_expr_for(m)).repartitionById(
        int(m.num_buckets), "__b"
    )
    res = aligned_bucket_apply(
        routed, apply_bucket, int(m.num_buckets), schema=_TIERED_STATS_SCHEMA
    ).collect()  # bounded: one row per affected bucket

    new_files: dict[int, list[str]] = {}
    new_counts: dict[int, int] = {}
    for r in res:
        b = int(r["bucket"])
        fresh = [f for f in (r["open_file"], r["closed_file"]) if f]
        # carried closed files keep their place; only the open file is
        # replaced (its rows re-enter via the fresh open/closed files)
        new_files[b] = [*closed_files.get(b, []), *fresh]
        new_counts[b] = (
            int(m.row_counts.get(str(b), 0)) - r["open_rows_before"]
            + r["open_rows"] + r["closed_rows"]
        )
    affected = sorted(new_files)
    return PendingMerge(
        table=table,
        base_version=m.version,
        replaced_buckets=affected,
        new_files=new_files,
        new_row_counts=new_counts,
        schema=evolved,
        stats=MergeStats(
            affected_buckets=affected,
            rows_before=sum(int(m.row_counts.get(str(b), 0)) for b in affected),
            rows_after=sum(new_counts.values()),
            files_written=sum(
                (r["open_file"] is not None) + (r["closed_file"] is not None)
                for r in res
            ),
            bucket_rows_after=dict(new_counts),
        ),
        bucket_stats={
            int(r["bucket"]): {
                k: int(r[k]) for k in ("versions", "keys", "violations")
            }
            for r in res
        },
    )


def compact_closed(table: LakeTable, min_files: int = 2) -> int:
    """Tiered-layout maintenance: concatenate each bucket's small
    per-epoch closed files into one (pure file concatenation — closed
    intervals never conflict, so no key resolution happens and the
    open file is untouched). Returns the number of buckets rewritten.
    Layout-only: the readable state is provably unchanged.
    """
    m = table.manifest()
    root = table.root
    schema_pa = to_arrow_schema(m.schema)
    todo: dict[int, list[str]] = {}
    keep: dict[int, list[str]] = {}
    for b, fs in m.files.items():
        cl = [os.path.join(root, p) for p in fs if not _is_open_file(p)]
        op = [os.path.join(root, p) for p in fs if _is_open_file(p)]
        if len(cl) >= min_files:
            todo[int(b)] = cl
            keep[int(b)] = op
    if not todo:
        return 0
    txn = table.new_txn_dir()

    def fold(b: int) -> pa.Table:
        parts = [
            conform_arrow(pq.read_table(f), schema_pa) for f in todo[b]
        ]
        t = pa.concat_tables(parts)
        final = write_parquet_atomic(
            t, os.path.join(txn, f"b{b:05d}-closed-fold.parquet")
        )
        return pa.table({
            "b": pa.array([b], pa.int32()),
            "file": [final],
            "rows": pa.array([t.num_rows], pa.int64()),
        })

    out = T.StructType([
        T.StructField("b", T.IntegerType()),
        T.StructField("file", T.StringType()),
        T.StructField("rows", T.LongType()),
    ])
    res = table._map_units(sorted(todo), fold, out).collect()
    new_files = {}
    new_counts = {}
    for r in res:
        b = int(r["b"])
        new_files[b] = [*keep[b], r["file"]]
        new_counts[b] = int(m.row_counts.get(str(b), 0))
    table.commit(
        sorted(todo), new_files, new_counts, operation="compact",
        base_version=m.version,
    )
    return len(todo)


@dataclass
class Scd2EpochResult:
    epoch: int
    skipped: bool = False
    versions_written: int = 0  # interval rows the epoch added
    keys_touched: int = 0  # distinct keys with an event
    phase_ms: dict = field(default_factory=dict)


@dataclass
class Scd2Engine:
    """Replays an ``epoch=N``-partitioned changelog into an SCD2
    history table, one exactly-once epoch at a time."""

    spark: SparkSession
    events_root: str
    table_root: str
    config: Scd2Config = field(default_factory=Scd2Config)

    # ---------- discovery / resume ----------
    def discover_epochs(self) -> list[int]:
        return discover_epochs(self.events_root)

    def table(self) -> LakeTable:
        return LakeTable.load(self.spark, self.table_root)

    def resume_epoch(self) -> int:
        if not LakeTable.exists(self.table_root):
            return 0
        return self.table().last_epoch + 1

    def _ensure_table(self, ev: DataFrame) -> LakeTable:
        if LakeTable.exists(self.table_root):
            return self.table()
        cfg = self.config
        return LakeTable.create(
            self.spark,
            self.table_root,
            schema=_history_schema(ev.schema, cfg),
            key_cols=[*cfg.keys, cfg.seq_col],
            bucket_cols=list(cfg.keys),
            num_buckets=cfg.num_buckets,
            # open-row reads filter is_current; range reads filter the
            # validity interval — both columns prune at file level
            stats_cols=["is_current", cfg.seq_col],
            shard_buckets=cfg.shard_manifest_buckets,
        )

    # ---------- epoch apply ----------
    def apply_epoch(self, epoch: int) -> Scd2EpochResult:
        cfg = self.config
        t0 = time.monotonic()
        ev = self.spark.read.parquet(
            os.path.join(self.events_root, f"epoch={epoch}")
        )
        table = self._ensure_table(ev)
        last = table.manifest().last_epoch
        if epoch <= last:
            return Scd2EpochResult(epoch=epoch, skipped=True)
        if epoch != last + 1:
            raise ValueError(
                f"out-of-order epoch {epoch}; committed watermark is {last}"
            )

        ph: dict[str, float] = {}
        tp = time.monotonic()
        pending = _tiered_merge(table, ev, epoch, cfg)
        ph["apply"] = (time.monotonic() - tp) * 1000

        def total(k: str) -> int:
            return sum(s[k] for s in pending.bucket_stats.values())

        n_viol = total("violations")
        if n_viol:
            # abort BEFORE the pointer swap: the txn files are orphans,
            # the table is untouched — same contract as a pre-commit crash
            raise Scd2OrderError(
                f"epoch {epoch}: {n_viol} event(s) at or before an "
                f"affected key's open row — closed history is immutable; "
                f"replay the log in order"
            )

        tp = time.monotonic()
        pending.commit(summary={"last_epoch": epoch})
        ph["commit"] = (time.monotonic() - tp) * 1000

        if cfg.compact_every and (epoch + 1) % cfg.compact_every == 0:
            tp = time.monotonic()
            if compact_closed(self.table(), min_files=2):
                ph["compact"] = (time.monotonic() - tp) * 1000

        ph["total"] = (time.monotonic() - t0) * 1000
        return Scd2EpochResult(
            epoch=epoch,
            versions_written=total("versions"),
            keys_touched=total("keys"),
            phase_ms=ph,
        )

    def run(self) -> list[Scd2EpochResult]:
        out = []
        for e in self.discover_epochs():
            if e < self.resume_epoch():
                out.append(Scd2EpochResult(epoch=e, skipped=True))
                continue
            out.append(self.apply_epoch(e))
        return out


def history_as_of(
    table: LakeTable, commit: str, lsn: int, cfg: Scd2Config | None = None
) -> DataFrame:
    """The table state AS OF a (commit, lsn) position, answered from
    the history alone: the version row whose validity interval covers
    the position. Closed intervals are [from, to); the open interval
    is [from, ∞)."""
    cfg = cfg or Scd2Config()
    order = list(cfg.order_cols)
    pos = F.struct(
        F.lit(commit).alias(order[0]), F.lit(lsn).alias(order[1])
    )
    frm = F.struct(*[F.col(c).alias(c) for c in order])
    to = F.struct(
        *[F.col(VALID_TO_SUFFIX + c).alias(c) for c in order]
    )
    return table.read().filter(
        (frm <= pos) & (F.col("is_current") | (to > pos))
    )

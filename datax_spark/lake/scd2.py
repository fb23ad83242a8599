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

Epoch apply — the same exactly-once discipline as the LWW engine:

1. scan the epoch's events (op I/U/D, totally ordered by
   ``order_cols`` = (commit, lsn));
2. read the CURRENT open rows of exactly the affected keys
   (bucket-pruned + stats-pruned + broadcast-semi-joined);
3. union the open rows (each stamped at its own (commit, lsn) =
   valid_from) with the new events, and window per key ordered by
   (commit, lsn): ``valid_to = LEAD(commit, lsn)``; a delete event
   closes its predecessor and emits no row; the last non-delete
   version stays open (``is_current``);
4. write the rewritten + new interval rows. The default strategy is
   TIERED (``Scd2Config.strategy="tiered"``): each bucket keeps its
   OPEN rows and its CLOSED rows in separate files. A history table
   grows monotonically, so any plan that re-reads or rewrites closed
   history pays more every epoch; the tiered epoch instead reads
   ONLY the affected buckets' open files (bounded by live keys),
   rewrites them, and APPENDS one immutable closed file — epoch cost
   O(batch + live keys of affected buckets) forever, and
   current-state reads skip every closed file via is_current file
   stats. ``"mor"`` (generic delta appends + periodic fold) and
   ``"spj"`` (bucket CoW) remain as alternatives;
5. two-phase commit with the ``last_epoch`` manifest watermark —
   crash replay / duplicate epochs are no-ops, same gate as replay.

Order guard: every new event must sort STRICTLY AFTER the affected
key's open row (the engine's epoch-contiguity gate guarantees this on
an in-order log). A violation would silently rewrite closed history,
so it is detected IN the apply pass (an Observation on the same job —
no extra scan) and aborts before the commit; the written txn files
are orphans, exactly like any pre-commit crash.

Scale: step 3's window shuffles O(epoch events + affected open rows)
— batch-sized, never table-sized; step 4's default MoR write is
O(batch) regardless of table size, and the periodic compaction is
the only table-sized job (amortized over ``compact_every`` epochs,
the same trade merge-on-read ingest makes everywhere). At 10^10
events the table grows with TOTAL VERSIONS (that is what SCD2
stores), but an epoch never pays for history it didn't touch.
"""

from __future__ import annotations

import glob
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import aligned_bucket_apply, merge_into
from datax_spark.lake.table import LakeTable, bucket_expr_for, write_parquet_atomic

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
    # "tiered" (default): open and closed rows live in SEPARATE
    # per-bucket files. Closed history is physically immutable — an
    # epoch reads ONLY the affected buckets' open files (bounded by
    # live keys), rewrites them, and APPENDS one closed file; cost is
    # O(batch + live keys of affected buckets) no matter how long the
    # history grows, and current-state reads skip every closed file
    # via is_current file stats. "mor": generic delta appends +
    # periodic fold (reads pay a merged view until compaction).
    # "spj": bucket-local CoW, one file per bucket — simplest layout
    # for small/cold tables, but rewrites the whole bucket's history
    # every epoch.
    strategy: str = "tiered"
    # mor: fold the delta stack every N epochs. tiered: concatenate a
    # bucket's small per-epoch closed files once it has accumulated N
    # of them (pure concatenation — no key resolution, open file
    # untouched). Ignored by spj.
    compact_every: int | None = 8

    def __post_init__(self) -> None:
        if not self.keys or not self.order_cols:
            raise ValueError("keys and order_cols must be non-empty")
        overlap = set(self.keys) & set(self.order_cols)
        if overlap:
            raise ValueError(f"keys and order_cols overlap: {sorted(overlap)}")
        if self.strategy not in ("tiered", "mor", "spj"):
            raise ValueError(
                f"strategy must be 'tiered', 'mor' or 'spj', got {self.strategy!r}"
            )
        if self.compact_every is not None and self.compact_every < 1:
            raise ValueError(f"compact_every must be >= 1, got {self.compact_every}")

    @property
    def seq_col(self) -> str:
        """The totally-ordered column that extends the identity key
        (the last order col — the LSN)."""
        return self.order_cols[-1]


def _is_open_file(path: str) -> bool:
    return os.path.basename(path).split(".")[0].endswith("-open")


@dataclass
class _PendingTiered:
    """Write phase done (txn files on disk); ``commit`` swaps the
    pointer. Mirrors merge.PendingMerge's two-phase contract: a crash
    before commit leaves orphans only."""

    table: "LakeTable"
    base_version: int
    replaced_buckets: list[int]
    new_files: dict[int, list[str]]  # ABS paths: kept closed + new
    new_row_counts: dict[int, int]
    schema: T.StructType
    versions_written: int

    def commit(self, summary: dict | None = None) -> int:
        return self.table.commit(
            self.replaced_buckets,
            self.new_files,
            self.new_row_counts,
            schema=self.schema,
            summary=summary,
            base_version=self.base_version,
        )


def _tiered_merge(
    table: "LakeTable", rows, epoch: int, cfg: Scd2Config
) -> _PendingTiered:
    """The tiered write phase: per affected bucket, ONE task reads the
    bucket's open file (never its closed files), evicts the keys this
    epoch re-emits, writes survivors + the epoch's open rows as the
    new open file and the epoch's closed rows as one appended closed
    file. Closed files are physically immutable from the moment they
    are written — the property that keeps epoch cost flat while the
    history grows without bound.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from datax_spark.lake.merge import evolve_schema
    from datax_spark.lake.table import (
        composite_key_array,
        conform_arrow,
        spark_sort_indices,
    )

    m = table.manifest()
    root = table.root
    keys = list(cfg.keys)
    incoming = rows.drop(cfg.op_col).schema
    evolved = evolve_schema(
        m.schema, incoming,
        frozen_cols=set(m.key_cols) | set(m.bucket_cols or ()),
    )
    evolved_pa = to_arrow_schema(evolved)

    open_file: dict[int, str] = {}
    closed_files: dict[int, list[str]] = {}
    old_counts: dict[int, int] = {}
    for b, fs in m.files.items():
        bi = int(b)
        old_counts[bi] = int(m.row_counts.get(b, 0))
        for p in fs:
            base = os.path.basename(p)
            if _is_open_file(p):
                if bi in open_file:
                    raise ValueError(
                        f"bucket {b} has two open files — corrupt tiered "
                        f"layout at {root}"
                    )
                open_file[bi] = os.path.join(root, p)
            elif "-closed" in base:
                closed_files.setdefault(bi, []).append(os.path.join(root, p))
            else:
                raise ValueError(
                    f"file {p!r} was not written by the tiered strategy "
                    f"(expected '-open'/'-closed' names); this table's "
                    f"layout mixes open and closed rows — use "
                    f"strategy='spj'/'mor' on it instead"
                )
    if m.delta_files:
        raise ValueError(
            "table has pending merge-on-read deltas; the tiered apply "
            "reads open files directly — compact() first"
        )

    txn = table.new_txn_dir()

    def apply_bucket(part: pa.Table) -> list[dict]:
        b = int(part.column("__b")[0].as_py())
        evicted = pc.unique(composite_key_array(part, keys))
        survivors = None
        open_rows_before = 0
        f = open_file.get(b)
        if f is not None:
            t = pq.read_table(f)
            open_rows_before = t.num_rows
            if t.num_rows:
                keep = pc.invert(
                    pc.is_in(composite_key_array(t, keys), value_set=evicted)
                )
                survivors = conform_arrow(t.filter(keep), evolved_pa)

        part = part.take(spark_sort_indices(part, [*keys, cfg.seq_col]))
        is_open = part.column("is_current")
        new_open = conform_arrow(part.filter(is_open), evolved_pa)
        if survivors is not None and survivors.num_rows:
            new_open = pa.concat_tables([survivors, new_open])
        closed = conform_arrow(part.filter(pc.invert(is_open)), evolved_pa)

        out = []
        if new_open.num_rows:
            fo = os.path.join(txn, f"b{b:05d}-open.parquet")
            write_parquet_atomic(new_open, fo)
            out.append({"bucket": b, "file": fo, "kind": "open",
                        "rows": new_open.num_rows})
        if closed.num_rows:
            fc = os.path.join(txn, f"b{b:05d}-closed-e{epoch}.parquet")
            write_parquet_atomic(closed, fc)
            out.append({"bucket": b, "file": fc, "kind": "closed",
                        "rows": closed.num_rows})
        if not out:  # all-delete epoch on an empty bucket
            out.append({"bucket": b, "file": None, "kind": "none", "rows": 0})
        for o in out:
            o["open_rows_before"] = open_rows_before
        return out

    # routed like every merge: partition b holds bucket b, one task per
    # bucket (a groupBy's exchange would follow shuffle.partitions and
    # AQE could coalesce several buckets into one serial task)
    nb = int(m.num_buckets)
    routed = (
        rows.drop(cfg.op_col)
        .withColumn("__b", bucket_expr_for(m))
        .repartitionById(nb, "__b")
    )
    res = aligned_bucket_apply(
        routed, apply_bucket, nb,
        schema="bucket int, file string, kind string, rows long, "
        "open_rows_before long",
    ).collect()  # bounded: ≤ 2 rows per affected bucket

    new_files: dict[int, list[str]] = {}
    new_counts: dict[int, int] = {}
    replaced: list[int] = []
    written = 0
    for b in {int(r["bucket"]) for r in res}:
        rows_b = [r for r in res if int(r["bucket"]) == b]
        fresh = [r["file"] for r in rows_b if r["file"]]
        open_before = int(rows_b[0]["open_rows_before"])
        fresh_rows = sum(int(r["rows"]) for r in rows_b)
        written += fresh_rows
        replaced.append(b)
        # carried closed files keep their place; only the open file is
        # replaced (its rows re-enter via the fresh open/closed files)
        new_files[b] = [*closed_files.get(b, []), *fresh]
        new_counts[b] = old_counts.get(b, 0) - open_before + fresh_rows
    return _PendingTiered(
        table=table,
        base_version=m.version,
        replaced_buckets=sorted(replaced),
        new_files=new_files,
        new_row_counts=new_counts,
        schema=evolved,
        versions_written=written,
    )


def compact_closed(
    table: "LakeTable", cfg: Scd2Config | None = None, min_files: int = 2
) -> int:
    """Tiered-layout maintenance: concatenate each bucket's small
    per-epoch closed files into one (pure file concatenation — closed
    intervals never conflict, so no key resolution happens and the
    open file is untouched). Returns the number of buckets rewritten.
    Layout-only: the readable state is provably unchanged.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from datax_spark.lake.table import conform_arrow

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
        import os as _os

        parts = [
            conform_arrow(pq.read_table(f), schema_pa) for f in todo[b]
        ]
        t = pa.concat_tables(parts)
        final = write_parquet_atomic(
            t, _os.path.join(txn, f"b{b:05d}-closed-fold.parquet")
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
    versions_written: int = 0
    keys_touched: int = 0
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
        out = []
        for d in glob.glob(os.path.join(self.events_root, "epoch=*")):
            m = re.search(r"epoch=(\d+)$", d)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

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
        base = ev.drop(cfg.op_col).schema
        fields = list(base.fields)
        for c in cfg.order_cols[:-1]:
            fields.append(
                T.StructField(VALID_TO_SUFFIX + c, base[c].dataType, True)
            )
        fields.append(
            T.StructField(
                VALID_TO_SUFFIX + cfg.seq_col, base[cfg.seq_col].dataType, True
            )
        )
        fields.append(T.StructField("is_current", T.BooleanType(), True))
        return LakeTable.create(
            self.spark,
            self.table_root,
            schema=T.StructType(fields),
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
        m = table.manifest()
        last = m.last_epoch
        if epoch <= last:
            return Scd2EpochResult(epoch=epoch, skipped=True)
        if epoch != last + 1:
            raise ValueError(
                f"out-of-order epoch {epoch}; committed watermark is {last}"
            )

        keys = list(cfg.keys)
        order = list(cfg.order_cols)
        ph: dict[str, float] = {}

        # defensive re-delivery dedup: identical (key, order) tuples are
        # the same event delivered twice — keep one
        ev = ev.dropDuplicates([*keys, *order])

        # --- open rows of the affected keys (bucket- + stats-pruned) ---
        tp = time.monotonic()
        kdf = ev.select(*keys).distinct()
        affected = sorted(
            r["__b"]
            for r in kdf.select(
                bucket_expr_for(m).alias("__b")
            ).distinct().collect()
        )  # ≤ num_buckets ints — the same tiny collect the CoW merge does
        cur_open = (
            table.read(buckets=affected, filters=[("is_current", "=", True)])
            .join(F.broadcast(kdf), on=keys, how="left_semi")
        )
        ph["open_read"] = (time.monotonic() - tp) * 1000

        # --- stitch intervals: open rows re-enter at their own
        # valid_from; new events extend the timeline ---
        tp = time.monotonic()
        open_as_events = (
            cur_open.drop(
                "is_current", *[VALID_TO_SUFFIX + c for c in order]
            )
            .withColumn(cfg.op_col, F.lit("U"))
            .withColumn("__from_table", F.lit(True))
        )
        combined = open_as_events.unionByName(
            ev.withColumn("__from_table", F.lit(False)),
            allowMissingColumns=True,  # additive schema evolution
        )

        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
        stitched = combined.withColumn("__rn", F.row_number().over(w))
        for c in order:
            stitched = stitched.withColumn(
                VALID_TO_SUFFIX + c, F.lead(c).over(w)
            )
        # an open row sorting anywhere but FIRST in its key's window
        # means the epoch carried an event at or before it — closed
        # history would be rewritten. Counted on the merge job itself.
        viol = (F.col("__from_table") & (F.col("__rn") > 1)).cast("long")
        obs = Observation(f"scd2-epoch-{epoch}")
        rows = (
            stitched.observe(
                obs,
                F.sum(viol).alias("n_viol"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .filter(F.col(cfg.op_col) != cfg.delete_op)
            .withColumn(
                "is_current",
                F.col(VALID_TO_SUFFIX + cfg.seq_col).isNull(),
            )
            .drop("__from_table", "__rn")
            .withColumn(cfg.op_col, F.lit("U"))
        )

        if cfg.strategy == "tiered":
            pending = _tiered_merge(table, rows, epoch, cfg)
        else:
            pending = merge_into(
                table,
                rows,
                op_col=cfg.op_col,
                delete_op=cfg.delete_op,  # never present — pure upsert
                strategy=cfg.strategy,
            )
        ph["stitch_merge"] = (time.monotonic() - tp) * 1000

        n_viol = int(obs.get.get("n_viol") or 0)
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
            if cfg.strategy == "mor" and self.table().manifest().delta_files:
                # fold the delta stack: the one table-sized job,
                # amortized over compact_every O(batch) epochs
                self.table().compact()
                ph["compact"] = (time.monotonic() - tp) * 1000
            elif cfg.strategy == "tiered":
                # concatenate small closed files; open files untouched
                if compact_closed(self.table(), cfg, min_files=2):
                    ph["compact"] = (time.monotonic() - tp) * 1000

        ph["total"] = (time.monotonic() - t0) * 1000
        if isinstance(pending, _PendingTiered):
            written = pending.versions_written
        elif pending.mode == "mor":
            # mor appends exactly the epoch's interval rows as deltas
            written = pending.stats.rows_after
        else:
            # spj rewrites buckets (delta = net new interval rows)
            written = pending.stats.rows_after - pending.stats.rows_before
        return Scd2EpochResult(
            epoch=epoch,
            versions_written=written,
            keys_touched=int(obs.get.get("n_rows") or 0),
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

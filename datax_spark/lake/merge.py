"""MERGE INTO for LakeTable.

Semantics — the SQL this implements (Iceberg-style):

    MERGE INTO target t USING deduped_updates s
    ON t.key = s.key
    WHEN MATCHED AND s.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

Reference analog: the RDBMS writer's last-writer-wins upsert
(``WriterUtil.java:150-170`` ON DUPLICATE KEY UPDATE) plus its
``deleteFlag`` pre-delete path (``CommonRdbmsWriter.java:322-362``),
executed set-wise instead of row-batch-wise.

Physical plans — one per table mode, same verified output, one shape:
the epoch batch is routed so that partition b holds exactly bucket b
(``merge_into`` repartitions on the routing columns, or the caller's
own shuffle already did), and a per-bucket Arrow kernel runs as
``mapInArrow`` over it (``aligned_bucket_apply``).

* **spj** (copy-on-write, the default): the storage-partitioned
  merge. The table is already bucket-hashed on its keys, so the
  current side needs no Exchange at all — the epoch batch shuffles
  once (routed to its buckets) and each bucket's task reads its own
  current state executor-side, filters evicted keys with Arrow
  kernels, and writes one new file. A bucket that carries pending
  merge-on-read deltas is read through the MoR read kernel
  (``bucket_state_arrow``), and the commit clears its deltas.
  Optionally fuses the per-bucket lineage aggregation into the same
  task (``stat_cols``), making a whole replay epoch one Spark job, and
  supports the cross-batch ``order_cols`` guard. Memory per task =
  one bucket; ``num_buckets`` is the dial. See ``spj_merge_frame``.
* **mor** (merge-on-read): the epoch batch is APPENDED as one delta
  file per touched bucket (tombstone rows for deletes) and no current
  data is read or rewritten — write cost O(batch), independent of
  table size (Iceberg v2 equality-delete shape). Readers pay a
  bucket-local LWW merge until ``LakeTable.compact()`` folds deltas
  into a fresh base. The strategy for write-rate-bound ingest where
  epochs are far smaller than the touched buckets' base rows; pair
  with a compaction cadence (``ReplayConfig.compact_every``) to bound
  read amplification. See ``mor_delta_frame``.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from datax_spark.lake.table import (
    CommitConflictError,
    LakeTable,
    Manifest,
    bucket_expr_for,
    bucket_state_arrow,
    composite_key_array,
    conform_arrow,
    spark_sort_indices,
    write_parquet_atomic,
)
from datax_spark.operators.schema_evolution import (
    SchemaEvolutionError,
    evolve_schema,
)


class DuplicateKeyError(ValueError):
    """An update batch held one key more than once. ``merge_into``
    needs one row per key (run ``operators.lww_dedup`` first); the
    bucket task raises this before it writes any file."""


_DUPLICATE_KEY_RE = re.compile(r"DuplicateKeyError: (.*)")


def _require_unique_keys(b: int, part, keys: list[str], kc, n_unique: int) -> None:
    """Raise ``DuplicateKeyError`` naming bucket ``b`` and one repeated
    key unless ``part`` holds ``n_unique`` (distinct composite keys
    ``kc``) rows."""
    if n_unique == part.num_rows:
        return
    counts = pc.value_counts(kc)
    first = counts.field("values").filter(pc.greater(counts.field("counts"), 1))[0]
    i = pc.index(kc, first).as_py()
    dup = {k: part.column(k)[i].as_py() for k in keys}
    raise DuplicateKeyError(
        f"bucket {b}: key {dup!r} occurs more than once in the update "
        f"batch; merge_into needs one row per key"
    )


@dataclass
class MergeStats:
    affected_buckets: list[int]
    rows_before: int
    rows_after: int
    files_written: int
    bucket_rows_after: dict[int, int] = field(default_factory=dict)


@dataclass
class PendingMerge:
    """Data files are written (phase 1); ``commit`` swaps the snapshot
    pointer (phase 2). A crash between the phases leaves only orphan
    files — the table state is unchanged and the epoch replays cleanly.

    ``bucket_stats`` holds one lineage row per affected bucket,
    computed inside the merge tasks themselves (see ``_bucket_stats``).
    """

    table: LakeTable
    base_version: int
    replaced_buckets: list[int]
    new_files: dict[int, list[str]]
    new_row_counts: dict[int, int]
    schema: T.StructType
    stats: MergeStats
    bucket_stats: dict[int, dict] | None = None
    # "cow": commit replaces the touched buckets' base files.
    # "mor": commit APPENDS the files as merge-on-read deltas instead —
    # base files untouched, readers merge until the next compact().
    mode: str = "cow"

    def commit(self, summary: dict | None = None, rebase: bool = False,
               max_retries: int = 5) -> int:
        """Swap the snapshot pointer. With ``rebase=False`` (default) a
        concurrent commit since ``base_version`` raises
        CommitConflictError — the single-writer engine's behavior.

        ``rebase=True`` is Iceberg's optimistic-concurrency retry: on
        conflict, re-validate this merge against the NEW current
        snapshot and re-commit on top of it when that is provably safe:

        * CoW: every bucket this merge REWRITES must be untouched
          between our base and the new current (buckets partition the
          key space identically across versions, so disjoint buckets =
          disjoint keys); untouched buckets carry over from the new
          parent, preserving the concurrent writer's work.
        * MoR: a delta append is computed from the batch alone, so it
          is valid over any base — only a concurrent ``rebucket``
          invalidates the bucket assignment.
        * Schemas merge additively (the union must evolve cleanly from
          the new current's schema), so neither writer's columns are
          lost.

        A genuine overlap still raises — recompute the merge then.
        """
        attempts = (max_retries if rebase else 0) + 1
        for attempt in range(attempts):
            try:
                if self.mode == "mor":
                    return self.table.commit_deltas(
                        self.new_files,
                        self.new_row_counts,
                        schema=self.schema,
                        summary=summary,
                        base_version=self.base_version,
                    )
                return self.table.commit(
                    self.replaced_buckets,
                    self.new_files,
                    self.new_row_counts,
                    schema=self.schema,
                    summary=summary,
                    base_version=self.base_version,
                )
            except CommitConflictError:
                if attempt == attempts - 1:
                    raise
                self._rebase_onto_current()
        raise AssertionError("unreachable")

    def _rebase_onto_current(self) -> None:
        """Point this pending merge at the current snapshot, raising
        CommitConflictError when the concurrent history makes that
        unsafe (overlapping bucket rewrite, rebucket, expired base,
        or an incompatible schema)."""
        cur = self.table.manifest()
        try:
            base = self.table.manifest(self.base_version)
        except FileNotFoundError as e:
            raise CommitConflictError(
                f"base snapshot v{self.base_version} expired; recompute the merge"
            ) from e
        if cur.num_buckets != base.num_buckets:
            raise CommitConflictError(
                "concurrent rebucket invalidated this merge's bucket "
                "assignment; recompute the merge"
            )
        if self.mode != "mor":
            changed = {
                b
                for b in (
                    set(cur.files) | set(base.files)
                    | set(cur.delta_files) | set(base.delta_files)
                )
                if cur.files.get(b) != base.files.get(b)
                or cur.delta_files.get(b) != base.delta_files.get(b)
            }
            overlap = changed & {str(b) for b in self.replaced_buckets}
            if overlap:
                raise CommitConflictError(
                    f"concurrent commit touched buckets "
                    f"{sorted(int(b) for b in overlap)} this merge rewrites; "
                    f"recompute the merge"
                )
        try:
            self.schema = evolve_schema(
                cur.schema, self.schema,
                frozen_cols=set(cur.key_cols) | set(cur.bucket_cols or ()),
            )
        except SchemaEvolutionError as e:
            raise CommitConflictError(
                f"concurrent schema change is incompatible: {e}"
            ) from e
        self.base_version = cur.version


def check_strategy(strategy: str) -> None:
    """Raise ValueError unless ``strategy`` names a merge plan."""
    if strategy not in ("spj", "mor"):
        raise ValueError(
            f"unknown merge strategy {strategy!r}: use 'spj' "
            f"(copy-on-write) or 'mor' (merge-on-read)"
        )


def merge_into(
    table: LakeTable,
    updates: DataFrame,
    op_col: str = "op",
    delete_op: str = "D",
    order_cols: list[str] | None = None,
    strategy: str = "spj",
    stat_cols: tuple[str, ...] | None = None,
    aligned: bool = False,
) -> PendingMerge:
    """Write phase of MERGE. ``updates`` must be deduplicated (one row
    per key — run ``operators.lww_dedup`` first; a repeated key raises
    ``DuplicateKeyError`` before any file is written) and contain the
    key columns, ``op_col``, and the payload columns.

    ``order_cols`` (e.g. ``["commit", "lsn"]``) enables the cross-batch
    LWW guard: an update only applies when its order tuple is strictly
    greater than the current table row's — the conditional-merge form
    ``WHEN MATCHED AND s.order > t.order THEN UPDATE`` that makes
    re-delivered or out-of-order micro-batches unable to regress a key
    (used by the streaming sink and chunked bootstrap; the in-order
    batch engine skips it because its epoch watermark already enforces
    order).

    ``strategy`` picks the physical plan:

    * ``"spj"`` (default): storage-partitioned copy-on-write merge —
      the analog of Spark's storage-partitioned joins (SPARK-37375)
      for this table format. The table is ALREADY bucket-hashed on the
      keys, so only the (small) update side shuffles, routed to its
      buckets; each bucket's task then reads its own current state
      directly (base files, plus pending MoR deltas when the bucket
      has any) and merges in Arrow — the current side never enters an
      Exchange. See ``spj_merge_frame`` for the memory model and
      crash-safety.
    * ``"mor"``: merge-on-read delta append — writes O(batch) delta
      files with tombstones and defers the merge to read/compact time.
      See ``mor_delta_frame``.

    ``stat_cols`` fuses the per-bucket lineage aggregation into the
    merge tasks (``PendingMerge.bucket_stats``). ``aligned`` says the
    caller's frame is already bucket-aligned (see ``merge_frame``).
    """
    m = table.manifest()
    frame, evolved = merge_frame(
        table, m, updates, op_col, delete_op, order_cols, strategy,
        stat_cols, aligned,
    )
    # affected buckets come back with the write result itself (one
    # stats row per bucket task) — no pre-pass needed
    try:
        res = frame.collect()  # bounded: one row per affected bucket
    except PythonException as e:
        dup = _DUPLICATE_KEY_RE.search(str(e))
        if dup is None:
            raise
        raise DuplicateKeyError(dup.group(1)) from e
    affected = sorted(int(r["bucket"]) for r in res)
    new_files = {int(r["bucket"]): [r["file"]] for r in res if r["rows"]}
    new_counts = {int(r["bucket"]): int(r["rows"]) for r in res if r["rows"]}
    stats = MergeStats(
        affected_buckets=affected,
        rows_before=sum(m.row_counts.get(str(b), 0) for b in affected),
        # for MoR this is DELTA rows appended (incl. tombstones) — the
        # merged table size is only known at read/compact time
        rows_after=sum(new_counts.values()),
        files_written=len(new_files),
        bucket_rows_after=dict(new_counts),
    )
    return PendingMerge(
        table=table,
        base_version=m.version,
        replaced_buckets=affected,
        new_files=new_files,
        new_row_counts=new_counts,
        schema=evolved,
        stats=stats,
        bucket_stats={
            int(r["bucket"]): {
                "n_keys": int(r["n_keys"]),
                "n_events": int(r["n_events"]),
                "n_deletes": int(r["n_deletes"]),
                "min_lsn": r["min_lsn"],
                "max_lsn": r["max_lsn"],
                "bytes_in": int(r["bytes_in"]),
                "kernel_ms": float(r["kernel_ms"]),
            }
            for r in res
        },
        mode="cow" if strategy == "spj" else "mor",
    )


def merge_frame(
    table: LakeTable,
    m: Manifest,
    updates: DataFrame,
    op_col: str = "op",
    delete_op: str = "D",
    order_cols: list[str] | None = None,
    strategy: str = "spj",
    stat_cols: tuple[str, ...] | None = None,
    aligned: bool = False,
) -> tuple[DataFrame, T.StructType]:
    """The write-phase plan ``merge_into`` collects, against snapshot
    ``m`` of ``table``: one stats row (``SPJ_STATS_SCHEMA``) per
    touched bucket, and the evolved table schema.

    Routing: by default the frame is ``repartitionById(num_buckets,
    __b)`` — partition id = bucket, by construction. Not
    ``repartition(num_buckets, *route_cols)``: that computes the same
    ids, but Spark drops it as redundant when the frame is already
    hash-partitioned on those columns with that count (a ``groupBy``
    under ``shuffle.partitions == num_buckets``), and AQE may then
    coalesce the upstream shuffle — seen in a replica's stream batch.
    A repartition by number is exempt from AQE coalescing, which
    matters at scale: a bucket task has a constant file-I/O term (open
    the bucket's files, write and rename one file) that byte-based
    coalescing would serialize into a few tasks whenever the batch is
    small.

    ``aligned=True`` skips that exchange for a frame whose LAST
    shuffle already was ``hashpartitioning(key_cols, num_buckets)``,
    uncoalesced (the engine's dedup aggregation under
    ``aligned_shuffle_confs``; murmur3 makes its partition id the
    bucket): Spark cannot see through the Arrow transforms in between,
    so it would shuffle the batch a second time. Either way the bucket
    kernel asserts ``partition == bucket`` per task before writing
    anything."""
    check_strategy(strategy)
    if strategy == "mor" and order_cols:
        # the cross-batch guard needs the CURRENT row's order tuple,
        # i.e. a read of the base — which is exactly what MoR's
        # O(batch) write refuses to pay. Out-of-order delivery needs
        # the spj guard; the batch engine's epoch watermark already
        # serializes epochs, so MoR epochs are in-order.
        raise ValueError(
            "order_cols (cross-batch LWW guard) is not supported "
            "with strategy='mor'; use 'spj'"
        )

    incoming = updates.drop(op_col, *(stat_cols or ())).schema
    evolved = evolve_schema(
        m.schema, incoming,
        frozen_cols=set(m.key_cols) | set(m.bucket_cols or ()),
    )
    upd = updates.withColumn("__b", bucket_expr_for(m))
    if not aligned:
        upd = upd.repartitionById(int(m.num_buckets), "__b")
    txn = table.new_txn_dir()
    if strategy == "spj":
        frame = spj_merge_frame(
            table, m, upd, op_col, delete_op, evolved, txn,
            stat_cols=stat_cols, order_cols=order_cols,
        )
    else:
        frame = mor_delta_frame(
            m, upd, op_col, delete_op, evolved, txn, stat_cols=stat_cols,
        )
    return frame, evolved


SPJ_STATS_SCHEMA = (
    "bucket int, rows long, file string, n_keys long, n_events long, "
    "n_deletes long, min_lsn long, max_lsn long, bytes_in long, "
    "kernel_ms double"
)


def _bucket_stats(part, stat_cols: tuple[str, ...] | None) -> dict:
    """One bucket's lineage row (the ``SPJ_STATS_SCHEMA`` columns from
    ``n_keys`` to ``bytes_in``), computed inside the bucket task from
    the per-key counters ``stat_cols`` (``operators.dedup.STAT_COLS``
    order: n_events, n_deletes, min_lsn, max_lsn, bytes_in); without
    them only the key count is known."""
    st = {
        "n_keys": part.num_rows, "n_events": 0, "n_deletes": 0,
        "min_lsn": None, "max_lsn": None, "bytes_in": 0,
    }
    if stat_cols:
        n_events, n_deletes, min_lsn, max_lsn, bytes_in = stat_cols
        st.update(
            n_events=pc.sum(part.column(n_events)).as_py(),
            n_deletes=pc.sum(part.column(n_deletes)).as_py(),
            min_lsn=pc.min(part.column(min_lsn)).as_py(),
            max_lsn=pc.max(part.column(max_lsn)).as_py(),
            bytes_in=pc.sum(part.column(bytes_in)).as_py(),
        )
    return st


def _bucket_keys(part, keys: list[str], stat_cols: tuple[str, ...] | None):
    """The opening step of both merge kernels: the bucket id, the
    composite key of every update row and the set of them (raising
    ``DuplicateKeyError`` before anything is written when a key
    repeats), and the bucket's lineage stats."""
    b = int(part.column("__b")[0].as_py())
    kc = composite_key_array(part, keys)
    uniq = pc.unique(kc)
    _require_unique_keys(b, part, keys, kc, len(uniq))
    return b, kc, uniq, _bucket_stats(part, stat_cols)


def _is_delete(part, op_col: str, delete_op: str):
    """True where the row's op is ``delete_op``; a NULL op is an
    upsert."""
    return pc.fill_null(pc.equal(part.column(op_col), delete_op), False)


def _newer(upd, cur, cols: list[str]):
    """True where the order tuple ``upd[cols]`` is strictly greater
    than ``cur[cols]`` (row-aligned tables). A NULL on either side
    compares as neither greater nor equal."""
    gt = eq = None
    for c in cols:
        g = pc.fill_null(pc.greater(upd.column(c), cur.column(c)), False)
        e = pc.fill_null(pc.equal(upd.column(c), cur.column(c)), False)
        gt = g if gt is None else pc.or_(gt, pc.and_(eq, g))
        eq = e if eq is None else pc.and_(eq, e)
    return gt


def aligned_bucket_apply(
    upd: DataFrame, bucket_fn, nb: int, schema=SPJ_STATS_SCHEMA
) -> DataFrame:
    """Run a per-bucket kernel over a bucket-aligned frame — no
    exchange of its own, one ``mapInArrow`` task per bucket.
    ``bucket_fn`` takes the bucket's rows as one ``pa.Table`` (column
    types bit-exact, no host-language conversion) and returns its
    output rows as a list of dicts that follow ``schema``.

    Precondition: partition p holds exactly the rows of bucket p —
    a ``repartitionById(nb, __b)`` (``merge_frame``, the view refresh,
    the scd2 tiered apply, ``LakeTable.rebucket``), or the engine's
    dedup shuffle ``hashpartitioning(key_cols, nb)`` under
    ``aligned_shuffle_confs`` (murmur3 buckets make its partition id
    ``pmod(murmur3(key_cols), nb)`` the bucket).

    The contract is ASSERTED executor-side per partition (one vector
    compare of ``__b`` against TaskContext.partitionId), so a broken
    precondition — a transform that repartitioned, a stray conf — is a
    loud crash before any file is written, never silent misplacement.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    out_schema = to_arrow_schema(schema)

    def apply_partition(batches):
        from pyspark import TaskContext

        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        part = pa.Table.from_batches(chunks)
        bs = pc.unique(part.column("__b")).to_pylist()
        pid = int(TaskContext.get().partitionId())
        if len(bs) != 1 or int(bs[0]) != pid:
            raise RuntimeError(
                f"aligned merge precondition broken: partition {pid} of "
                f"{nb} holds bucket(s) {sorted(int(x) for x in bs)[:8]} — "
                f"the update frame's last exchange was not "
                f"hashpartitioning(key_cols, num_buckets). A transform "
                f"that repartitions/joins, or shuffle confs not pinned "
                f"(spark.sql.shuffle.partitions={nb}, AQE coalescing "
                f"off), breaks alignment; merge_into(aligned=False) "
                f"routes the frame itself."
            )
        yield from pa.Table.from_pylist(bucket_fn(part), schema=out_schema).to_batches()

    return upd.mapInArrow(apply_partition, schema=schema)


def spj_merge_frame(
    table: LakeTable,
    m: Manifest,
    upd: DataFrame,
    op_col: str,
    delete_op: str,
    evolved: T.StructType,
    txn: str,
    stat_cols: tuple[str, ...] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Storage-partitioned merge write phase (no Exchange on the
    current side) of snapshot ``m``, over a bucket-aligned ``upd``
    carrying ``__b`` (see ``merge_frame``).

    Physical shape — the ``zipPartitions`` the bucket layout earns:
    the updates frame arrives routed to its buckets — ONE exchange, of
    the small epoch batch only, and none at all in the engine's epoch,
    where the dedup aggregation's own shuffle is the routing (scan ->
    partial agg -> one shuffle that is both the dedup reduction AND
    the bucket routing -> per-bucket merge tasks). Each bucket's task
    then opens its own current data files straight from the snapshot
    manifest (an executor-side Arrow scan; the files of bucket b hold
    exactly the keys that hash to b, which is the same co-location
    guarantee Spark's storage-partitioned joins (SPARK-37375) exploit
    on Iceberg bucket tables), filters out
    keys the batch replaces, and streams survivors + sorted upserts
    into one new parquet file per bucket. Neither the rewritten table
    rows nor the current side ever pass through an exchange — the two
    terms that would grow with TABLE size rather than batch size.

    A bucket with pending merge-on-read deltas has no single base
    file set to stream: its current state is base ⊕ deltas, resolved
    by ``bucket_state_arrow`` (the kernel MoR reads use) before the
    merge, and the commit clears the bucket's deltas since the new
    file has them baked in.

    Memory model: one task holds one bucket's update batch plus ONE
    current data file at a time (Arrow streaming write), or for a
    delta-bearing bucket its whole resolved state (the MoR read's
    bound) — bounded by ``num_buckets``, the same dial as the CoW
    blast radius. Crash-safety: files land under a fresh txn dir via
    write-to-tmp + atomic rename (task retries are idempotent:
    deterministic final name, last rename wins); nothing is visible
    until the manifest swap.

    ``stat_cols`` (the per-key lineage counters ``operators.dedup.
    STAT_COLS``, in order: n_events, n_deletes, min_lsn, max_lsn,
    bytes_in) fuses the per-BUCKET lineage aggregation into the merge
    task itself: the whole epoch — dedup, transforms, merge, lineage —
    becomes ONE Spark job with no intermediate persist/collect barrier
    (previously a separate bucket-stats job cost ~1s of fixed overhead
    per epoch on small epochs). Each stats row also carries the task's
    own read + merge + write time (``kernel_ms``).

    ``order_cols`` enables the cross-batch LWW guard (``WHEN MATCHED
    AND s.order > t.order``) inside the bucket task: matched current
    rows are only evicted when the update's order tuple is strictly
    greater, and stale upserts are dropped. Update and current order
    tuples are aligned by ``pc.index_in`` on the composite key and
    compared column by column in Arrow, never per-row Python; the keys
    whose update lost are then left out of the upserts. Used by
    the streaming sink, where re-delivered or out-of-order
    micro-batches must not regress a key.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    keys = list(m.key_cols)
    root = table.root
    bucket_files = {
        int(b): [os.path.join(root, p) for p in fs] for b, fs in m.files.items()
    }
    bucket_deltas = {
        int(b): [os.path.join(root, p) for p in fs]
        for b, fs in m.delta_files.items()
    }
    resolve = list(m.resolve_order)
    evolved_pa = to_arrow_schema(evolved)
    guard = list(order_cols or ())
    guard_pa = pa.schema([evolved_pa.field(c) for c in guard])

    def merge_bucket(part: pa.Table) -> list[dict]:
        t0 = time.perf_counter()
        b, ukeys, evicted, st = _bucket_keys(part, keys, stat_cols)
        upd_order = conform_arrow(part, guard_pa) if guard else None
        stale = []  # composite keys whose current row beat the update

        final = os.path.join(txn, f"b{b:05d}.parquet")
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        if b in bucket_deltas:
            current = [
                bucket_state_arrow(
                    bucket_files.get(b, []), bucket_deltas[b], keys, resolve,
                    evolved_pa,
                )
            ]
        else:
            current = (pq.read_table(f) for f in bucket_files.get(b, ()))
        writer = None
        rows = 0

        def write(t):
            nonlocal writer, rows
            if t.num_rows:
                writer = writer or pq.ParquetWriter(tmp, evolved_pa)
                writer.write_table(conform_arrow(t, evolved_pa))
                rows += t.num_rows

        try:
            for t in current:
                if not t.num_rows:
                    continue
                ck = composite_key_array(t, keys)
                in_upd = pc.is_in(ck, value_set=evicted)
                write(t.filter(pc.invert(in_upd)))
                if guard:
                    hit, mk = t.filter(in_upd), ck.filter(in_upd)
                    upd_m = upd_order.take(pc.index_in(mk, value_set=ukeys))
                    old = pc.invert(_newer(upd_m, conform_arrow(hit, guard_pa), guard))
                    # the update is stale: the current row stays and
                    # the update's upsert is dropped
                    write(hit.filter(old))
                    stale.extend(mk.filter(old).chunks)
            keep = pc.invert(_is_delete(part, op_col, delete_op))
            if stale:
                lost = pc.is_in(ukeys, value_set=pa.chunked_array(stale, pa.binary()))
                keep = pc.and_(keep, pc.invert(lost))
            ups = part.filter(keep)
            write(ups.take(spark_sort_indices(ups, keys)))
        finally:
            if writer is not None:
                writer.close()
        if rows:
            os.rename(tmp, final)
        elif os.path.exists(tmp):
            os.remove(tmp)
        return [{
            "bucket": b, "rows": rows, "file": final if rows else None, **st,
            "kernel_ms": (time.perf_counter() - t0) * 1000,
        }]

    return aligned_bucket_apply(upd, merge_bucket, int(m.num_buckets))


def mor_delta_frame(
    m: Manifest,
    upd: DataFrame,
    op_col: str,
    delete_op: str,
    evolved: T.StructType,
    txn: str,
    stat_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Merge-on-read write phase: the epoch batch becomes one DELTA
    file per touched bucket — upserts carry the new image, deletes
    become tombstone rows (``__op='D'``) — and NOTHING of the current
    table is read or rewritten. This is the Iceberg v2 equality-delete
    write shape: an epoch's write cost is O(batch), independent of
    table size, where CoW (spj) pays O(touched buckets of the table)
    per epoch. Readers resolve base ⊕ deltas with bucket-local
    LWW (``LakeTable._read_merged_buckets``) until ``compact()`` folds
    the deltas into a fresh base.

    Physical shape: the same bucket-aligned ``mapInArrow`` kernel as
    spj (see ``merge_frame``); each task sorts its bucket's rows by key
    in Arrow and writes them as one parquet file under the txn dir
    (tmp + atomic rename; deterministic name makes task retries
    idempotent). ``stat_cols`` fuses the per-bucket lineage
    aggregation exactly as the spj plan does, so a whole MoR epoch is
    ONE Spark job.

    Within a delta file keys are unique (the epoch batch is LWW-
    deduplicated upstream, and a repeated key raises
    ``DuplicateKeyError`` before the file is written); across files the
    manifest's delta order is the apply order, and the engine's epoch
    watermark guarantees that order matches event time for the batch
    engine.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    evolved_pa = to_arrow_schema(evolved)
    keys = list(m.key_cols)

    def write_bucket(part: pa.Table) -> list[dict]:
        t0 = time.perf_counter()
        b, _, _, st = _bucket_keys(part, keys, stat_cols)
        part = part.take(spark_sort_indices(part, keys))
        # normalized tombstone marker, independent of the caller's
        # delete_op token — the read path only ever checks 'D'
        op = pc.if_else(_is_delete(part, op_col, delete_op), "D", "U")
        t = conform_arrow(part, evolved_pa).append_column("__op", op)
        final = write_parquet_atomic(t, os.path.join(txn, f"b{b:05d}.parquet"))
        return [{
            "bucket": b, "rows": t.num_rows, "file": final, **st,
            "kernel_ms": (time.perf_counter() - t0) * 1000,
        }]

    return aligned_bucket_apply(upd, write_bucket, int(m.num_buckets))

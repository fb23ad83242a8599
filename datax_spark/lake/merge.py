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
own shuffle already did), and a per-bucket pandas kernel runs as
``mapInPandas`` over it (``aligned_bucket_apply``).

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
from dataclasses import dataclass, field

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


def _require_unique_keys(b: int, pdf, keys: list[str], n_unique: int) -> None:
    """Raise ``DuplicateKeyError`` naming bucket ``b`` and one repeated
    key unless ``pdf`` holds ``n_unique`` (distinct composite keys) rows."""
    if n_unique == len(pdf):
        return
    dup = pdf.loc[pdf.duplicated(keys), keys].iloc[0].to_dict()
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


_conform_arrow = conform_arrow  # shared with the table's MoR read path


SPJ_STATS_SCHEMA = (
    "bucket int, rows long, file string, n_keys long, n_events long, "
    "n_deletes long, min_lsn long, max_lsn long, bytes_in long"
)


def _bucket_stats(pdf, stat_cols: tuple[str, ...] | None) -> dict:
    """One bucket's lineage row (the non-key columns of
    ``SPJ_STATS_SCHEMA``), computed inside the bucket task from the
    per-key counters ``stat_cols`` (``operators.dedup.STAT_COLS``
    order: n_events, n_deletes, min_lsn, max_lsn, bytes_in); without
    them only the key count is known."""
    if not stat_cols:
        return {
            "n_keys": len(pdf), "n_events": 0, "n_deletes": 0,
            "min_lsn": None, "max_lsn": None, "bytes_in": 0,
        }
    n_events, n_deletes, min_lsn, max_lsn, bytes_in = stat_cols
    return {
        "n_keys": len(pdf),
        "n_events": int(pdf[n_events].sum()),
        "n_deletes": int(pdf[n_deletes].sum()),
        "min_lsn": int(pdf[min_lsn].min()),
        "max_lsn": int(pdf[max_lsn].max()),
        "bytes_in": int(pdf[bytes_in].sum()),
    }


def aligned_bucket_apply(
    upd: DataFrame, bucket_fn, nb: int, schema=SPJ_STATS_SCHEMA, arrow: bool = False
) -> DataFrame:
    """Run a per-bucket kernel over a bucket-aligned frame — no
    exchange of its own, one task per bucket. ``bucket_fn`` takes the
    bucket's rows as one pandas frame and returns a pandas frame
    (``mapInPandas``), or with ``arrow=True`` takes and returns
    ``pa.Table`` s (``mapInArrow``, column types bit-exact); its
    output rows follow ``schema``.

    Precondition: partition p holds exactly the rows of bucket p —
    a ``repartitionById(nb, __b)`` (``merge_frame``, the view refresh,
    the scd2 tiered apply), or the engine's dedup shuffle
    ``hashpartitioning(key_cols, nb)`` under ``aligned_shuffle_confs``
    (murmur3 buckets make its partition id ``pmod(murmur3(key_cols),
    nb)`` the bucket).

    The contract is ASSERTED executor-side per partition (one vector
    compare of ``__b`` against TaskContext.partitionId), so a broken
    precondition — a transform that repartitioned, a stray conf — is a
    loud crash before any file is written, never silent misplacement.
    """

    def apply_partition(batches):
        from pyspark import TaskContext

        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        if arrow:
            import pyarrow as pa
            import pyarrow.compute as pc

            part = pa.Table.from_batches(chunks)
            bs = pc.unique(part.column("__b")).to_pylist()
        else:
            import pandas as pd

            part = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            bs = part["__b"].unique()
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
        out = bucket_fn(part)
        if arrow:
            yield from out.to_batches()
        else:
            yield out

    if arrow:
        return upd.mapInArrow(apply_partition, schema=schema)
    return upd.mapInPandas(apply_partition, schema=schema)


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

    Memory model: one task holds one bucket's update batch (pandas)
    plus ONE current data file at a time (Arrow streaming write), or
    for a delta-bearing bucket its whole resolved state (the MoR
    read's bound) — bounded by ``num_buckets``, the same dial as the
    CoW blast radius. Crash-safety: files land under a fresh txn dir
    via write-to-tmp + atomic rename (task retries are idempotent:
    deterministic final name, last rename wins); nothing is visible
    until the manifest swap.

    ``stat_cols`` (the per-key lineage counters ``operators.dedup.
    STAT_COLS``, in order: n_events, n_deletes, min_lsn, max_lsn,
    bytes_in) fuses the per-BUCKET lineage aggregation into the merge
    task itself: the whole epoch — dedup, transforms, merge, lineage —
    becomes ONE Spark job with no intermediate persist/collect barrier
    (previously a separate bucket-stats job cost ~1s of fixed overhead
    per epoch on small epochs).

    ``order_cols`` enables the cross-batch LWW guard (``WHEN MATCHED
    AND s.order > t.order``) inside the bucket task: matched current
    rows are only evicted when the update's order tuple is strictly
    greater, and stale upserts are dropped — all via vectorized pandas
    merges on the (bounded) matched subset, never per-row Python. Used
    by the streaming sink, where re-delivered or out-of-order
    micro-batches must not regress a key.
    """
    import pandas as pd

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
    out_cols = [f.name for f in evolved.fields]

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import os as _os
        import uuid as _uuid

        import pyarrow as _pa
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        b = int(pdf["__b"].iloc[0])
        st = _bucket_stats(pdf, stat_cols)

        def composite(tbl):
            # One kernel for BOTH sides — the shared length-prefixed
            # injective encoding (see table.composite_key_array for why
            # pandas elementwise concat must never build these keys).
            return composite_key_array(tbl, keys)

        evicted = _pc.unique(
            composite(_pa.Table.from_pandas(pdf[keys], preserve_index=False))
        )
        _require_unique_keys(b, pdf, keys, len(evicted))

        guard = list(order_cols or ())

        def lex_gt(dfm, pairs):
            """Vectorized lexicographic compare over column pairs:
            True where tuple(left cols) > tuple(right cols)."""
            import numpy as np

            gt = np.zeros(len(dfm), dtype=bool)
            eq = np.ones(len(dfm), dtype=bool)
            for lcol, rcol in pairs:
                lv, rv = dfm[lcol], dfm[rcol]
                gt |= eq & (lv > rv).fillna(False).to_numpy(dtype=bool)
                eq &= (lv == rv).fillna(False).to_numpy(dtype=bool)
            return gt

        def pd_to_arrow(dfp):
            dfp = dfp.copy()
            for c in out_cols:
                if c not in dfp.columns:
                    dfp[c] = None
            return _pa.Table.from_pandas(
                dfp[out_cols], schema=evolved_pa, preserve_index=False
            )

        upd_ko = pdf[keys + guard] if guard else None
        cur_seen = []  # matched current (keys + order), for stale-upsert drop

        final = _os.path.join(txn, f"b{b:05d}.parquet")
        tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
        if b in bucket_deltas:
            current = [
                bucket_state_arrow(
                    bucket_files.get(b, []), bucket_deltas[b], keys, resolve,
                    evolved_pa,
                )
            ]
        else:
            current = (_pq.read_table(f) for f in bucket_files.get(b, ()))
        writer = None
        rows = 0
        try:
            for t in current:
                if not t.num_rows:
                    continue
                in_upd = _pc.is_in(composite(t), value_set=evicted)
                surv = t.filter(_pc.invert(in_upd))
                if surv.num_rows:
                    surv = _conform_arrow(surv, evolved_pa)
                    writer = writer or _pq.ParquetWriter(tmp, evolved_pa)
                    writer.write_table(surv)
                    rows += surv.num_rows
                if guard:
                    matched = t.filter(in_upd)
                    if matched.num_rows:
                        mp = matched.to_pandas()
                        cur_seen.append(mp[keys + guard])
                        mm = mp.merge(
                            upd_ko, on=keys, how="left", suffixes=("", "__u")
                        )
                        newer = lex_gt(mm, [(c + "__u", c) for c in guard])
                        keep = mp[~newer]  # update is stale: current row stays
                        if len(keep):
                            writer = writer or _pq.ParquetWriter(tmp, evolved_pa)
                            kt = pd_to_arrow(keep)
                            writer.write_table(kt)
                            rows += kt.num_rows
            ups = pdf[pdf[op_col] != delete_op]
            if guard and len(ups) and cur_seen:
                cur_ord = pd.concat(cur_seen, ignore_index=True)
                mm = ups.merge(
                    cur_ord, on=keys, how="left",
                    suffixes=("", "__c"), indicator=True,
                )
                newer = lex_gt(mm, [(c, c + "__c") for c in guard])
                keep_mask = (mm["_merge"] == "left_only").to_numpy() | newer
                ups = ups[keep_mask]
            ups = ups.sort_values(keys)
            if len(ups):
                ut = pd_to_arrow(ups)
                writer = writer or _pq.ParquetWriter(tmp, evolved_pa)
                writer.write_table(ut)
                rows += ut.num_rows
        finally:
            if writer is not None:
                writer.close()
        if rows:
            _os.rename(tmp, final)
            return pd.DataFrame([{"bucket": b, "rows": rows, "file": final, **st}])
        if _os.path.exists(tmp):
            _os.remove(tmp)
        return pd.DataFrame([{"bucket": b, "rows": 0, "file": None, **st}])

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

    Physical shape: the same bucket-aligned ``mapInPandas`` as spj
    (see ``merge_frame``); each task sorts its bucket's rows by key and
    streams them into one parquet file under the txn dir (tmp +
    atomic rename; deterministic name makes task retries idempotent).
    ``stat_cols`` fuses the per-bucket lineage aggregation exactly as
    the spj plan does, so a whole MoR epoch is ONE Spark job.

    Within a delta file keys are unique (the epoch batch is LWW-
    deduplicated upstream, and a repeated key raises
    ``DuplicateKeyError`` before the file is written); across files the
    manifest's delta order is the apply order, and the engine's epoch
    watermark guarantees that order matches event time for the batch
    engine.
    """
    import pandas as pd

    from pyspark.sql.pandas.types import to_arrow_schema

    evolved_pa = to_arrow_schema(evolved)
    out_cols = [f.name for f in evolved.fields]
    keys_b = list(m.key_cols)

    def write_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import os as _os

        import pyarrow as _pa
        import pyarrow.compute as _pc

        b = int(pdf["__b"].iloc[0])
        kt = _pa.Table.from_pandas(pdf[keys_b], preserve_index=False)
        _require_unique_keys(b, pdf, keys_b, len(_pc.unique(composite_key_array(kt, keys_b))))
        st = _bucket_stats(pdf, stat_cols)
        pdf = pdf.sort_values(keys_b)
        dfp = pdf.copy()
        for c in out_cols:
            if c not in dfp.columns:
                dfp[c] = None
        t = _pa.Table.from_pandas(
            dfp[out_cols], schema=evolved_pa, preserve_index=False
        )
        # normalized tombstone marker, independent of the caller's
        # delete_op token — the read path only ever checks 'D'
        op_norm = _pa.array(
            [("D" if v == delete_op else "U") for v in pdf[op_col]],
            type=_pa.string(),
        )
        t = t.append_column("__op", op_norm)
        final = write_parquet_atomic(t, _os.path.join(txn, f"b{b:05d}.parquet"))
        return pd.DataFrame(
            [{"bucket": b, "rows": t.num_rows, "file": final, **st}]
        )

    return aligned_bucket_apply(upd, write_bucket, int(m.num_buckets))

"""Incrementally-maintained aggregate views over a LakeTable — the
materialized-view half of a CDC engine: a groupBy/agg derived table
kept in sync from the change feed, never recomputed from scratch.

The reference ships no derived-table maintenance at all — its closest
shape is a full re-extract per job run (a reader → writer copy of the
aggregation query's result). At 10^10 rows that recompute is the whole
table scan per sync; this module's refresh costs O(changed groups):

* the source diff is the bucket-pruned change feed
  (``LakeTable.changes(include_preimage=True)``), reading only buckets
  the manifests prove touched;
* count/sum aggregates are exactly decomposable, so they advance by
  the signed delta (+1 for insert/update_postimage, -1 for
  delete/update_preimage) — one hash aggregate over the feed, routed
  to the view buckets its groups live in, where one Arrow task per
  touched view bucket applies it to that bucket's current rows
  (``view_bucket_apply``) and writes the bucket's new file. No join
  plan, no persist, no second pass over the delta;
* min/max are NOT decomposable under retraction: a group goes "dirty"
  only when a retraction reaches its stored extreme AND no incoming
  value dominates every retracted one (if ``add_max >= del_max``,
  every survivor <= stored max <= del_max <= add_max, so
  ``greatest(stored, add)`` is exact — and symmetrically for min).
  The bucket task leaves dirty groups out of its file and lists
  their keys in a side file; only then — so never for a count/sum
  view — are those groups recomputed from the source through a
  semi-join on their keys (AQE broadcasts the key set while small,
  shuffle semi-join otherwise; rows outside the dirty groups are
  dropped at the scan — FILE skipping additionally applies only when
  a group column is in the source's stats_cols, since group columns
  are generally not the table's bucketing keys) and written as a
  second file of the same buckets. Inserting rows never dirties a
  group, and a MONOTONE feed (CDC lsn/commit always rising) never
  dirties its max at all — only its min, only when the min-holder
  itself changes;
* the view is itself a LakeTable keyed on the group columns, and the
  synced-to source version rides the view's atomic snapshot commit —
  a crashed refresh either fully applied (summary says so; re-run is
  a no-op) or left the view untouched (re-run replays the same feed
  window). Exactly-once by the same argument as the replay engine's
  epochs.

Null semantics match SQL aggregation exactly: per sum column a
non-null count is maintained alongside, and the emitted sum is NULL
when that count is zero (a signed running sum alone cannot tell "all
NULL" from "sums to 0"). Groups whose row count reaches zero are
DELETED from the view, matching what re-running the group-by would
return. NULL values inside group KEY columns are rejected at refresh,
before anything commits (a keyed table cannot address a NULL key) —
coalesce keys to a sentinel upstream if needed.

Float caveat: double-typed sums drift from a recompute by float
associativity, exactly as any two differently-ordered Spark
aggregations of the same data do; integer and decimal sums are exact
and raise on overflow rather than wrapping.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import aligned_bucket_apply, merge_into
from datax_spark.lake.table import (
    LakeTable,
    Manifest,
    bucket_expr_for,
    bucket_state_arrow,
    composite_key_array,
    conform_arrow,
    unit_files,
    write_parquet_atomic,
)

_VIEW_SPEC_FILE = "_view.json"
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# one row per touched view bucket, returned by its apply task
_APPLY_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("rows", T.LongType()),
    T.StructField("file", T.StringType()),
    T.StructField("n_changed", T.LongType()),
    T.StructField("n_dirty", T.LongType()),
    T.StructField("n_deleted", T.LongType()),
    T.StructField("has_null", T.BooleanType()),
    T.StructField("dirty_file", T.StringType()),
])


@dataclass(frozen=True)
class AggViewSpec:
    """What the view computes: ``GROUP BY group_cols`` with
    ``count(*) AS n_rows`` always, plus ``sum(c)``/``min(c)``/
    ``max(c)`` per listed column. ``avg`` is derivable at read time
    (``sum/n``) and deliberately not stored.

    ``group_fill`` opts a (string) group column into NULL-group
    support by sentinel encoding: NULLs in that key column are
    coalesced to the given sentinel on every maintenance path (feed,
    dirty recompute, rebuild), so the NULL group is maintained like
    any other and reads back AS the sentinel. This is the standard
    encoding for key-joined storage of NULL groups — SQL-equality key
    joins (the lake merge's) cannot address a NULL key directly.
    Unfilled NULL group keys are rejected at refresh."""

    group_cols: tuple[str, ...]
    sum_cols: tuple[str, ...] = ()
    min_cols: tuple[str, ...] = ()
    max_cols: tuple[str, ...] = ()
    group_fill: tuple[tuple[str, str], ...] = ()

    def to_json(self) -> str:
        return json.dumps(
            {
                "group_cols": list(self.group_cols),
                "sum_cols": list(self.sum_cols),
                "min_cols": list(self.min_cols),
                "max_cols": list(self.max_cols),
                "group_fill": [list(p) for p in self.group_fill],
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "AggViewSpec":
        d = json.loads(s)
        return cls(
            group_cols=tuple(d["group_cols"]),
            sum_cols=tuple(d["sum_cols"]),
            min_cols=tuple(d["min_cols"]),
            max_cols=tuple(d["max_cols"]),
            group_fill=tuple(tuple(p) for p in d.get("group_fill", [])),
        )

    def fill(self, df: DataFrame) -> DataFrame:
        for c, s in self.group_fill:
            df = df.withColumn(c, F.coalesce(F.col(c), F.lit(s)))
        return df


@dataclass
class RefreshResult:
    synced_from: int
    synced_to: int
    groups_changed: int
    groups_recomputed: int
    groups_deleted: int
    skipped: bool = False
    # "apply_ms": feed + signed delta + the per-bucket apply (one job
    # chain); "recompute_ms": the dirty-group recompute, present only
    # when a min/max group went dirty; "commit_ms": the view commit
    phase_ms: dict = field(default_factory=dict)


def signed_delta(cdf: DataFrame, spec: AggViewSpec) -> DataFrame:
    """One hash aggregate over the preimage change feed: per group,
    the signed row/sum/count deltas plus the added/retracted extremes.
    Every aggregate here is decomposable, so Spark plans it with a
    map-side partial — the exchange carries at most |groups touched
    per map task| rows, never the feed."""
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    aggs = [F.sum(w).alias("__d_rows")]
    for c in spec.sum_cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), w * F.col(c))).alias(f"__d_sum_{c}")
        )
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), w).otherwise(0)).alias(f"__d_cnt_{c}")
        )
    for c in spec.min_cols:
        aggs.append(F.min(F.when(w > 0, F.col(c))).alias(f"__add_min_{c}"))
        aggs.append(F.min(F.when(w < 0, F.col(c))).alias(f"__del_min_{c}"))
    for c in spec.max_cols:
        aggs.append(F.max(F.when(w > 0, F.col(c))).alias(f"__add_max_{c}"))
        aggs.append(F.max(F.when(w < 0, F.col(c))).alias(f"__del_max_{c}"))
    return cdf.groupBy(*spec.group_cols).agg(*aggs)


def _sum_type(src: T.DataType) -> T.DataType:
    """Spark's own sum() result typing, so the maintained column's
    type equals what a recompute would produce."""
    if isinstance(src, _INTEGRAL):
        return T.LongType()
    if isinstance(src, T.DecimalType):
        return T.DecimalType(min(src.precision + 10, 38), src.scale)
    return T.DoubleType()


def _recompute_aggs(spec: AggViewSpec) -> list:
    """The view's columns as plain aggregates over source rows (a
    recompute, as opposed to the signed-delta advance)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in spec.sum_cols:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
        aggs.append(F.count(c).alias(f"cnt_{c}"))
    for c in spec.min_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
    for c in spec.max_cols:
        aggs.append(F.max(c).alias(f"max_{c}"))
    return aggs


def _spark_le(a, b):
    """``a <= b`` elementwise under Spark's ordering, where NaN is
    larger than every other number (Arrow compares NaN as unordered)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    le = pc.less_equal(a, b)
    if pa.types.is_floating(a.type):
        le = pc.or_kleene(le, pc.is_nan(b))
    return le


def view_bucket_apply(d, cur, spec: AggViewSpec, pa_schema):
    """One view bucket's refresh, in Arrow: ``d`` is the bucket's
    signed-delta rows (``signed_delta`` output), ``cur`` its current
    rows (view schema ``pa_schema``). Returns ``(rows, dirty_keys,
    n_deleted)`` — the bucket's new rows, the group keys of the
    groups that went dirty (left out of ``rows``, to be recomputed
    from the source), and how many delta groups reached
    ``n_rows <= 0`` (dropped) — or None when a group key of ``d`` is
    NULL.

    The delta left-joins the current rows on the composite group key
    (view keys are unique, so an ``index_in`` + ``take``). Integer and
    decimal adds are checked: an overflow raises instead of wrapping.
    min/max take ``least``/``greatest`` of the stored and added
    extremes (nulls skipped, as Spark's), and a group goes dirty when
    a retraction reaches its stored extreme and no added value
    dominates every retracted one (see the module docstring)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    gcols = list(spec.group_cols)
    if any(d.column(g).null_count for g in gcols):
        return None
    typ = lambda name: pa_schema.field(name).type  # noqa: E731
    g = pa.table({c: d.column(c).cast(typ(c)) for c in gcols})
    kd = composite_key_array(g, gcols)
    kc = composite_key_array(cur, gcols)
    stored = cur.take(pc.index_in(kd, value_set=kc))

    def plus(a, b, t):
        zero = pa.array([0], pa.int64()).cast(t)[0]
        s = pc.add_checked(pc.fill_null(a, zero), pc.fill_null(b.cast(t), zero))
        return s.cast(t)  # a decimal sum that outgrew its type raises

    out = {c: g.column(c) for c in gcols}
    n = plus(stored.column("n_rows"), d.column("__d_rows"), pa.int64())
    out["n_rows"] = n
    for c in spec.sum_cols:
        out[f"sum_{c}"] = plus(
            stored.column(f"sum_{c}"), d.column(f"__d_sum_{c}"), typ(f"sum_{c}")
        )
        out[f"cnt_{c}"] = plus(
            stored.column(f"cnt_{c}"), d.column(f"__d_cnt_{c}"), pa.int64()
        )
    dirty = pa.array([False] * d.num_rows)
    for kind, cols in (("min", spec.min_cols), ("max", spec.max_cols)):
        # beyond(x, y): x is at y or past it on this extreme's side
        if kind == "min":
            beyond = _spark_le
        else:
            beyond = lambda x, y: _spark_le(y, x)  # noqa: E731
        for c in cols:
            t = typ(f"{kind}_{c}")
            held = stored.column(f"{kind}_{c}")
            add = d.column(f"__add_{kind}_{c}").cast(t)
            gone = d.column(f"__del_{kind}_{c}").cast(t)
            reached = pc.and_kleene(pc.is_valid(gone), beyond(gone, held))
            undominated = pc.or_kleene(pc.is_null(add), pc.invert(beyond(add, gone)))
            dirty = pc.or_(
                dirty, pc.fill_null(pc.and_kleene(reached, undominated), False)
            )
            out[f"{kind}_{c}"] = pc.if_else(
                pc.is_null(held), add,
                pc.if_else(pc.is_null(add), held, pc.if_else(beyond(held, add), held, add)),
            )
    live = pc.greater(n, 0)
    dirty = pc.and_(dirty, live)
    upd = pa.Table.from_arrays([out[f.name] for f in pa_schema], schema=pa_schema)
    rows = pa.concat_tables([
        cur.filter(pc.invert(pc.is_in(kc, value_set=kd))),
        upd.filter(pc.and_(live, pc.invert(dirty))),
    ])
    n_live = pc.sum(live.cast(pa.int64())).as_py() or 0
    return rows, g.filter(dirty), d.num_rows - n_live


class AggView:
    """A persisted, incrementally-maintained ``GROUP BY`` aggregate of
    a source LakeTable. Create once, then ``refresh(source)`` after
    any number of source commits; ``read()`` returns exactly what
    re-running the group-by over the source's current state would.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, _VIEW_SPEC_FILE)) as f:
            self.spec = AggViewSpec.from_json(f.read())
        self.table = LakeTable.load(spark, root)

    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source: LakeTable,
        spec: AggViewSpec,
        num_buckets: int = 16,
    ) -> "AggView":
        src_schema = {f.name: f.dataType for f in source.manifest().schema.fields}
        for c in spec.group_cols + spec.sum_cols + spec.min_cols + spec.max_cols:
            if c not in src_schema:
                raise ValueError(f"view column {c!r} not in source schema")
        for c in spec.sum_cols:
            if not isinstance(src_schema[c], (T.NumericType,)):
                raise ValueError(f"sum column {c!r} is not numeric")
        for c, _ in spec.group_fill:
            if c not in spec.group_cols:
                raise ValueError(f"group_fill column {c!r} not a group column")
            if not isinstance(src_schema[c], T.StringType):
                raise ValueError(
                    f"group_fill column {c!r} must be string-typed "
                    "(sentinel encoding)"
                )
        fields = [T.StructField(g, src_schema[g]) for g in spec.group_cols]
        fields.append(T.StructField("n_rows", T.LongType()))
        for c in spec.sum_cols:
            fields.append(T.StructField(f"sum_{c}", _sum_type(src_schema[c])))
            fields.append(T.StructField(f"cnt_{c}", T.LongType()))
        for c in spec.min_cols:
            fields.append(T.StructField(f"min_{c}", src_schema[c]))
        for c in spec.max_cols:
            fields.append(T.StructField(f"max_{c}", src_schema[c]))
        LakeTable.create(
            spark,
            root,
            schema=T.StructType(fields),
            key_cols=list(spec.group_cols),
            num_buckets=num_buckets,
        )
        with open(os.path.join(root, _VIEW_SPEC_FILE), "w") as f:
            f.write(spec.to_json())
        v = cls(spark, root)
        # synced to the source's EMPTY v0 snapshot; the first refresh
        # replays the whole history as inserts through the same path
        v.table.commit(
            replaced_buckets=[],
            new_files={},
            new_row_counts={},
            summary={"synced_version": 0},
            base_version=v.table.manifest().version,
        )
        return v

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "AggView":
        return cls(spark, root)

    # ------------------------------------------------------------------
    def synced_version(self) -> int:
        sv = self.table.manifest().summary.get("synced_version")
        if sv is None:
            raise RuntimeError(
                f"view at {self.root} has no synced_version marker — "
                "not created through AggView.create?"
            )
        return int(sv)

    def read(self) -> DataFrame:
        """The view's user-facing state: group cols, n_rows, and the
        aggregates with SQL null semantics (sum over an all-NULL group
        is NULL; the internal non-null counts are hidden)."""
        df = self.table.read()
        cols = [F.col(g) for g in self.spec.group_cols] + [F.col("n_rows")]
        for c in self.spec.sum_cols:
            cols.append(
                F.when(F.col(f"cnt_{c}") > 0, F.col(f"sum_{c}")).alias(f"sum_{c}")
            )
        for c in self.spec.min_cols:
            cols.append(F.col(f"min_{c}"))
        for c in self.spec.max_cols:
            cols.append(F.col(f"max_{c}"))
        return df.select(*cols)

    # ------------------------------------------------------------------
    def refresh(
        self,
        source: LakeTable,
        to_version: int | None = None,
        shared_cdf: DataFrame | None = None,
    ) -> RefreshResult:
        """Advance the view to the source's current snapshot (or a
        pinned ``to_version``, for deterministic stepping / bounded
        per-refresh feed windows) by applying the change feed since
        the last refresh. Idempotent: already-synced → no-op; crash
        anywhere → rerunnable (the synced marker commits atomically
        WITH the view data).

        ``shared_cdf``: a caller-provided (ideally persisted)
        ``source.changes(v0, v1, include_preimage=True)`` frame for
        EXACTLY this refresh's window — lets a driver maintaining
        several views over one table read the feed once per sync
        instead of once per view (see ReplayEngine._refresh_views).
        The caller owns the window match; this method still validates
        v0/v1 bookkeeping.

        Physical shape: the feed's signed delta (``signed_delta``) is
        routed to its view bucket and one Arrow task per touched bucket
        applies it (:meth:`apply_frame`); the driver raises on a NULL
        group key before anything commits, recomputes dirty min/max
        groups if there are any (:meth:`_recompute_dirty`) and commits
        the new files with ``synced_version``. A count/sum view
        refreshes in one job chain with no join and no persist."""
        import time

        t0 = time.monotonic()
        spec = self.spec
        v0 = self.synced_version()
        v1 = source.current_version() if to_version is None else to_version
        if v1 == v0:
            return RefreshResult(v0, v1, 0, 0, 0, skipped=True)
        if v1 < v0:
            raise ValueError(
                f"view is synced to source v{v0} but source is at v{v1} "
                "— refreshed against the wrong source, or the source "
                "was rolled back (rebuild() the view)"
            )
        try:
            cdf = spec.fill(
                shared_cdf
                if shared_cdf is not None
                else source.changes(v0, v1, include_preimage=True)
            )
        except FileNotFoundError as e:
            raise RuntimeError(
                f"source snapshot v{v0} has been expired; the feed "
                "window is gone — AggView.rebuild(source) recomputes "
                "from the current snapshot"
            ) from e

        vm = self.table.manifest()
        delta = signed_delta(cdf, spec).withColumn("__b", bucket_expr_for(vm))
        gcols = list(spec.group_cols)
        phase: dict = {}
        txn = self.table.new_txn_dir()
        # bounded: one row per touched view bucket
        res = self.apply_frame(delta, vm, txn).collect()
        phase["apply_ms"] = round((time.monotonic() - t0) * 1000, 1)
        if any(r["has_null"] for r in res):
            raise ValueError(
                "change feed contains NULL in a group key column "
                f"({gcols}); a keyed view cannot maintain such a group "
                "— coalesce the key to a sentinel in the source "
                "(AggViewSpec.group_fill), or exclude NULL-keyed rows "
                "from the view"
            )
        new_files = {r["bucket"]: [r["file"]] for r in res if r["rows"]}
        new_counts = {r["bucket"]: r["rows"] for r in res if r["rows"]}
        dirty_files = [r["dirty_file"] for r in res if r["dirty_file"]]
        if dirty_files:
            t1 = time.monotonic()
            for r in self._recompute_dirty(source, v1, vm, dirty_files, txn):
                new_files.setdefault(r["bucket"], []).append(r["file"])
                new_counts[r["bucket"]] = new_counts.get(r["bucket"], 0) + r["rows"]
            phase["recompute_ms"] = round((time.monotonic() - t1) * 1000, 1)
        t2 = time.monotonic()
        self.table.commit(
            replaced_buckets=[r["bucket"] for r in res],
            new_files=new_files,
            new_row_counts=new_counts,
            summary={"synced_version": v1},
            base_version=vm.version,
        )
        phase["commit_ms"] = round((time.monotonic() - t2) * 1000, 1)
        return RefreshResult(
            v0, v1,
            sum(r["n_changed"] for r in res),
            sum(r["n_dirty"] for r in res),
            sum(r["n_deleted"] for r in res),
            phase_ms=phase,
        )

    def apply_frame(self, delta: DataFrame, vm: Manifest, txn: str) -> DataFrame:
        """The plan :meth:`refresh` collects: the signed delta
        routed by ``repartitionById(num_buckets, __b)``, then one Arrow
        task per touched bucket of view snapshot ``vm`` that reads the
        bucket's current rows, runs :func:`view_bucket_apply`, writes
        the new file (and the dirty-key side file) under ``txn`` and
        returns one ``_APPLY_SCHEMA`` row."""
        from pyspark.sql.pandas.types import to_arrow_schema

        spec = self.spec
        keys = list(vm.key_cols)
        pa_schema = to_arrow_schema(vm.schema)
        files = {
            int(b): unit_files(self.root, vm, vm.num_buckets, int(b))
            for b in set(vm.files) | set(vm.delta_files)
        }

        def apply_bucket(d):
            b = int(d.column("__b")[0].as_py())
            row = {
                "bucket": b, "rows": 0, "file": None, "n_changed": d.num_rows,
                "n_dirty": 0, "n_deleted": 0, "has_null": False, "dirty_file": None,
            }
            base, deltas = files.get(b, ([], []))
            cur = bucket_state_arrow(base, deltas, keys, [], pa_schema)
            out = view_bucket_apply(d, cur, spec, pa_schema)
            if out is None:
                row["has_null"] = True  # the driver raises; nothing written
            else:
                rows, dirty, row["n_deleted"] = out
                if rows.num_rows:
                    row["rows"] = rows.num_rows
                    row["file"] = write_parquet_atomic(
                        rows, os.path.join(txn, f"b{b:05d}.parquet")
                    )
                if dirty.num_rows:
                    row["n_dirty"] = dirty.num_rows
                    row["dirty_file"] = write_parquet_atomic(
                        dirty, os.path.join(txn, f"b{b:05d}-dirty-keys.parquet")
                    )
            return [row]

        nb = int(vm.num_buckets)
        return aligned_bucket_apply(
            delta.repartitionById(nb, "__b"), apply_bucket, nb,
            schema=_APPLY_SCHEMA,
        )

    def _recompute_dirty(
        self, source: LakeTable, v1: int, vm: Manifest, dirty_files: list[str],
        txn: str,
    ) -> list:
        """Recompute ONLY the dirty groups (keys listed in
        ``dirty_files``) from source snapshot ``v1`` and write them as a
        second file of their view buckets under ``txn``. No broadcast
        hint: AQE broadcasts the key set while it is small and falls
        back to a shuffle semi-join when a churn-heavy window dirties
        millions of groups (a forced broadcast would cap dirty-set size
        at the driver). The bucket kernel left these groups out of its
        own file, so the two files of a bucket hold disjoint keys.
        Returns one ``(bucket, rows, file)`` row per bucket."""
        from pyspark.sql.pandas.types import to_arrow_schema

        spec = self.spec
        gcols = list(spec.group_cols)
        by_name = {f.name: f for f in vm.schema.fields}
        dirty_keys = self.spark.read.schema(
            T.StructType([by_name[g] for g in gcols])
        ).parquet(*dirty_files)
        src = spec.fill(source.read(version=v1)).join(
            dirty_keys, on=gcols, how="left_semi"
        )
        fresh = (
            src.groupBy(*gcols)
            .agg(*_recompute_aggs(spec))
            .select(*vm.schema.names)
            .withColumn("__b", bucket_expr_for(vm))
        )
        pa_schema = to_arrow_schema(vm.schema)

        def write_bucket(t):
            b = int(t.column("__b")[0].as_py())
            final = write_parquet_atomic(
                conform_arrow(t, pa_schema),
                os.path.join(txn, f"b{b:05d}-recomputed.parquet"),
            )
            return [{"bucket": b, "rows": t.num_rows, "file": final}]

        nb = int(vm.num_buckets)
        return aligned_bucket_apply(
            fresh.repartitionById(nb, "__b"), write_bucket, nb,
            schema="bucket int, rows long, file string",
        ).collect()

    # ------------------------------------------------------------------
    def rebuild(self, source: LakeTable) -> RefreshResult:
        """Full recompute fallback (expired feed window / rolled-back
        source): recompute every group from the source's current
        snapshot and write the difference through the same merge."""
        spec = self.spec
        gcols = list(spec.group_cols)
        v0 = self.synced_version()
        v1 = source.current_version()
        fresh = spec.fill(source.read(version=v1)).groupBy(*gcols).agg(
            *_recompute_aggs(spec)
        )
        stale = self.table.read().select(*gcols).join(
            fresh.select(*gcols), on=gcols, how="left_anti"
        )
        view_cols = [f.name for f in self.table.manifest().schema.fields]
        up = fresh.select(*view_cols, F.lit("U").alias("__op")).unionByName(
            stale.select(
                *gcols,
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in self.table.manifest().schema.fields
                    if f.name not in gcols
                ],
                F.lit("D").alias("__op"),
            )
        )
        pm = merge_into(self.table, up, op_col="__op", delete_op="D")
        pm.commit(summary={"synced_version": v1})
        return RefreshResult(v0, v1, -1, -1, -1)

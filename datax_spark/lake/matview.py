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
  delete/update_preimage) — one hash aggregate over the feed, one
  keyed join against only the view buckets those groups live in;
* min/max are NOT decomposable under retraction: a group goes "dirty"
  only when a retraction reaches its stored extreme AND no incoming
  value dominates every retracted one (if ``add_max >= del_max``,
  every survivor <= stored max <= del_max <= add_max, so
  ``greatest(stored, add)`` is exact — and symmetrically for min).
  Dirty groups — and only dirty groups — are recomputed from the
  source through a semi-join on their keys (AQE broadcasts the key set
  while small, shuffle semi-join otherwise; rows outside the dirty
  groups are dropped at the scan — FILE skipping additionally applies
  only when a group column is in the source's stats_cols, since group
  columns are generally not the table's bucketing keys). Inserting
  rows never dirties a group, and a MONOTONE feed (CDC lsn/commit
  always rising) never dirties its max at all — only its min, only
  when the min-holder itself changes;
* the view is itself a LakeTable keyed on the group columns, so the
  apply is the engine's own bucketed MERGE and the synced-to source
  version rides the view's atomic snapshot commit — a crashed refresh
  either fully applied (summary says so; re-run is a no-op) or left
  the view untouched (re-run replays the same feed window).
  Exactly-once by the same argument as the replay engine's epochs.

Null semantics match SQL aggregation exactly: per sum column a
non-null count is maintained alongside, and the emitted sum is NULL
when that count is zero (a signed running sum alone cannot tell "all
NULL" from "sums to 0"). Groups whose row count reaches zero are
DELETED from the view, matching what re-running the group-by would
return. NULL values inside group KEY columns are rejected at refresh
(the lake merge's key joins use SQL equality, under which NULL never
matches) — coalesce keys to a sentinel upstream if needed.

Float caveat: double-typed sums drift from a recompute by float
associativity, exactly as any two differently-ordered Spark
aggregations of the same data do; integer sums are exact (ANSI mode
raises on overflow rather than wrapping).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable, bucket_expr_for

_VIEW_SPEC_FILE = "_view.json"
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


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
        v0/v1 bookkeeping."""
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

        gcols = list(spec.group_cols)
        vm = self.table.manifest()
        delta = (
            signed_delta(cdf, spec)
            .withColumn("__b", bucket_expr_for(vm))
            .persist()
        )
        try:
            return self._apply_delta(source, delta, v0, v1, t0)
        finally:
            delta.unpersist()

    def _apply_delta(
        self, source: LakeTable, delta: DataFrame, v0: int, v1: int, t0: float
    ) -> RefreshResult:
        import time

        spec = self.spec
        gcols = list(spec.group_cols)
        phase: dict = {}

        # the lake merge joins on SQL equality, under which NULL never
        # matches — a null-keyed group would silently never update
        null_key = F.lit(False)
        for g in gcols:
            null_key = null_key | F.col(g).isNull()
        # one small collect, bounded by the view's bucket count, doing
        # double duty: affected-bucket list + null-key validation
        probe = (
            delta.groupBy("__b")
            .agg(F.max(null_key).alias("has_null"))
            .collect()
        )
        phase["delta_ms"] = round((time.monotonic() - t0) * 1000, 1)
        if any(r["has_null"] for r in probe):
            raise ValueError(
                "change feed contains NULL in a group key column "
                f"({gcols}); SQL-equality key joins cannot maintain "
                "such a group — coalesce the key to a sentinel in the "
                "source, or exclude NULL-keyed rows from the view"
            )
        affected = sorted(int(r["__b"]) for r in probe)
        if not affected:  # window had commits but zero net key changes
            self.table.commit(
                replaced_buckets=[], new_files={}, new_row_counts={},
                summary={"synced_version": v1},
                base_version=self.table.manifest().version,
            )
            return RefreshResult(v0, v1, 0, 0, 0, phase_ms=phase)

        # current view state for ONLY the touched buckets, joined to
        # the delta on the group key (both sides bucket-colocatable)
        t1 = time.monotonic()
        cur = self.table.read(buckets=affected)
        j = delta.join(cur, on=gcols, how="left")

        vtypes = {f.name: f.dataType for f in self.table.manifest().schema.fields}
        new_n = (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("__d_rows")).cast(
            "long"
        )
        out_cols = [F.col(g) for g in gcols] + [new_n.alias("n_rows")]
        dirty = F.lit(False)
        for c in spec.sum_cols:
            st = vtypes[f"sum_{c}"]
            s = (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0).cast(st))
                + F.coalesce(F.col(f"__d_sum_{c}").cast(st), F.lit(0).cast(st))
            ).cast(st)
            out_cols.append(s.alias(f"sum_{c}"))
            out_cols.append(
                (
                    F.coalesce(F.col(f"cnt_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_cnt_{c}"), F.lit(0))
                ).alias(f"cnt_{c}")
            )
        # Extreme dirtiness, refined: a group needs recompute only when
        # a retraction reaches the stored extreme AND no incoming value
        # dominates every retracted one. If add_max >= del_max, then
        # even a retracted stored max is safe: every survivor <= stored
        # max <= del_max <= add_max, so greatest(stored, add) is exact.
        # Consequence: a monotone feed (CDC lsn/commit always rising)
        # NEVER dirties its max — only its min, and only when the
        # min-holder itself changes.
        for c in spec.min_cols:
            dirty = dirty | F.coalesce(
                F.col(f"__del_min_{c}").isNotNull()
                & (F.col(f"__del_min_{c}") <= F.col(f"min_{c}"))
                & (
                    F.col(f"__add_min_{c}").isNull()
                    | (F.col(f"__add_min_{c}") > F.col(f"__del_min_{c}"))
                ),
                F.lit(False),
            )
            out_cols.append(
                F.least(F.col(f"min_{c}"), F.col(f"__add_min_{c}")).alias(f"min_{c}")
            )
        for c in spec.max_cols:
            dirty = dirty | F.coalesce(
                F.col(f"__del_max_{c}").isNotNull()
                & (F.col(f"__del_max_{c}") >= F.col(f"max_{c}"))
                & (
                    F.col(f"__add_max_{c}").isNull()
                    | (F.col(f"__add_max_{c}") < F.col(f"__del_max_{c}"))
                ),
                F.lit(False),
            )
            out_cols.append(
                F.greatest(F.col(f"max_{c}"), F.col(f"__add_max_{c}")).alias(
                    f"max_{c}"
                )
            )
        arith = j.select(
            *out_cols,
            (new_n > 0).alias("__live"),
            (dirty & (new_n > 0)).alias("__dirty"),
        ).persist()
        try:
            counts = arith.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__dirty").cast("int")).alias("d"),
                F.sum((~F.col("__live")).cast("int")).alias("x"),
            ).first()
            n_changed, n_dirty, n_deleted = (
                int(counts["n"]),
                int(counts["d"] or 0),
                int(counts["x"] or 0),
            )
            recomputed = None
            if n_dirty:
                # recompute ONLY the dirty groups from the source. No
                # broadcast hint: AQE broadcasts the key set while it
                # is small and falls back to a shuffle semi-join when a
                # churn-heavy window dirties millions of groups (a
                # forced broadcast would cap dirty-set size at the
                # driver)
                dirty_keys = arith.filter("__dirty").select(*gcols)
                src = spec.fill(source.read(version=v1)).join(
                    dirty_keys, on=gcols, how="left_semi"
                )
                r_aggs = [F.count(F.lit(1)).alias("n_rows")]
                for c in spec.sum_cols:
                    r_aggs.append(F.sum(c).alias(f"sum_{c}"))
                    r_aggs.append(F.count(c).alias(f"cnt_{c}"))
                for c in spec.min_cols:
                    r_aggs.append(F.min(c).alias(f"min_{c}"))
                for c in spec.max_cols:
                    r_aggs.append(F.max(c).alias(f"max_{c}"))
                recomputed = src.groupBy(*gcols).agg(*r_aggs)

            view_cols = [f.name for f in self.table.manifest().schema.fields]
            up_clean = arith.filter(~F.col("__dirty")).select(
                *view_cols,
                F.when(F.col("__live"), F.lit("U")).otherwise(F.lit("D")).alias(
                    "__op"
                ),
            )
            # a dirty group is live by definition; null-correct sums
            # come from count() directly, so cnt/sum are already exact
            if recomputed is not None:
                up = up_clean.unionByName(
                    recomputed.select(*view_cols, F.lit("U").alias("__op"))
                )
            else:
                up = up_clean
            phase["plan_ms"] = round((time.monotonic() - t1) * 1000, 1)

            t2 = time.monotonic()
            pm = merge_into(self.table, up, op_col="__op", delete_op="D")
            pm.commit(summary={"synced_version": v1})
            phase["merge_ms"] = round((time.monotonic() - t2) * 1000, 1)
            return RefreshResult(
                v0, v1, n_changed, n_dirty, n_deleted, phase_ms=phase
            )
        finally:
            arith.unpersist()

    # ------------------------------------------------------------------
    def rebuild(self, source: LakeTable) -> RefreshResult:
        """Full recompute fallback (expired feed window / rolled-back
        source): recompute every group from the source's current
        snapshot and write the difference through the same merge."""
        spec = self.spec
        gcols = list(spec.group_cols)
        v0 = self.synced_version()
        v1 = source.current_version()
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in spec.sum_cols:
            aggs.append(F.sum(c).alias(f"sum_{c}"))
            aggs.append(F.count(c).alias(f"cnt_{c}"))
        for c in spec.min_cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
        for c in spec.max_cols:
            aggs.append(F.max(c).alias(f"max_{c}"))
        fresh = spec.fill(source.read(version=v1)).groupBy(*gcols).agg(*aggs)
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

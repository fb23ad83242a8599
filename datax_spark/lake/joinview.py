"""Incrementally-maintained JOIN views over two LakeTables — the
delta-join half of derived-table maintenance (lake/matview.py is the
aggregate half): a materialized ``fact ⋈ dim`` equi-join kept in sync
from BOTH tables' change feeds, never recomputed from scratch.

The reference ships no derived-table maintenance at all — its closest
shape is a full re-extract per job run (a reader → writer copy of a
join query's result, e.g. the multi-table SELECT jobs its rdbms
readers run; HiveReader.java:58-74 concatenates exactly such SQL). At
10^10 rows that recompute is a full two-table join per sync; this
module's refresh costs O(changed rows):

* the join is constrained to n:1 at create time — the right-side join
  columns must be exactly the right table's key columns, so every
  left (fact) row matches at most one right (dim) row and the view is
  keyed on the LEFT table's keys. This is the star-schema dimension
  join, the join shape CDC-fed serving tables actually are; a
  many-to-many join view is a different (weighted-multiset) problem
  and deliberately out of scope;
* a refresh window (left v0→v1, right r0→r1) touches exactly
  (a) left keys in the left feed — their post-images ARE the v1 rows,
  so the fact side of the rejoin is free (no fact-table scan) — plus
  (b) left rows whose foreign key is in the right feed's changed key
  set, found by a semi-join of the v1 fact against that (usually
  tiny) key set — AQE broadcasts it while small and falls back to a
  shuffle semi-join under dimension-mass churn. Completeness: a view
  row for left key k differs between the windows iff the left row k
  changed (case a) or its dim row changed (case b — the fk is the
  same in both versions precisely when the left row did NOT change);
* touched rows re-join only the dim's CURRENT snapshot; inner-join
  misses become view deletes, left-join misses null-fill — so dim
  deletes retract (inner) or null out (left) exactly the fact rows
  they should;
* the view is itself a LakeTable keyed on the fact keys, so the apply
  is the engine's own bucketed MERGE, and the (synced_left,
  synced_right) watermark pair rides the view's atomic snapshot
  commit. Crash anywhere → re-run replays the same window onto the
  same base state; already-synced → no-op. Exactly-once by the same
  argument as the replay engine's epochs.

NULL foreign keys follow SQL join semantics exactly: equality never
matches NULL, so an inner view drops the row and a left view stores
it with NULL dim columns; the dim-side semi-join can never touch a
NULL-fk row (its join result cannot change while the fact row is
unchanged).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

_JOIN_SPEC_FILE = "_join_view.json"


@dataclass(frozen=True)
class JoinViewSpec:
    """What the view computes: ``left JOIN right ON`` the ``on``
    equi-pairs, projecting ``left_cols`` (fact keys always included)
    and ``right_cols`` renamed with ``right_prefix``.

    ``on`` is a tuple of ``(left_col, right_col)`` pairs whose
    right-side names must be exactly the right table's key columns
    (the n:1 guarantee). ``how`` is ``"inner"`` or ``"left"``.
    ``right_cols`` must not repeat the right join columns — their
    values are the fact's own fk columns (inner) and are never needed
    for the null-extended rows (left). ``create()`` persists a
    NORMALIZED spec: both projections materialized to explicit,
    ordered column lists."""

    on: tuple[tuple[str, str], ...]
    how: str = "inner"
    left_cols: tuple[str, ...] | None = None
    right_cols: tuple[str, ...] | None = None
    right_prefix: str = ""

    def to_json(self) -> str:
        return json.dumps(
            {
                "on": [list(p) for p in self.on],
                "how": self.how,
                "left_cols": None if self.left_cols is None else list(self.left_cols),
                "right_cols": None
                if self.right_cols is None
                else list(self.right_cols),
                "right_prefix": self.right_prefix,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "JoinViewSpec":
        d = json.loads(s)
        return cls(
            on=tuple(tuple(p) for p in d["on"]),
            how=d["how"],
            left_cols=None if d["left_cols"] is None else tuple(d["left_cols"]),
            right_cols=None if d["right_cols"] is None else tuple(d["right_cols"]),
            right_prefix=d.get("right_prefix", ""),
        )


@dataclass
class JoinRefreshResult:
    synced_left: tuple[int, int]
    synced_right: tuple[int, int]
    rows_upserted: int
    rows_deleted: int
    skipped: bool = False
    phase_ms: dict = field(default_factory=dict)


class JoinView:
    """A persisted, incrementally-maintained equi-join of two
    LakeTables. Create once, then ``refresh(left, right)`` after any
    number of commits on either side; ``read()`` returns exactly what
    re-running the join over both tables' synced snapshots would."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, _JOIN_SPEC_FILE)) as f:
            self.spec = JoinViewSpec.from_json(f.read())
        if self.spec.left_cols is None or self.spec.right_cols is None:
            raise RuntimeError(
                f"persisted spec at {self.root} is not normalized — "
                "not written by JoinView.create?"
            )
        self.table = LakeTable.load(spark, root)

    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        left: LakeTable,
        right: LakeTable,
        spec: JoinViewSpec,
        num_buckets: int = 16,
    ) -> "JoinView":
        if spec.how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {spec.how!r}")
        if not spec.on:
            raise ValueError("need at least one (left_col, right_col) join pair")
        lm, rm = left.manifest(), right.manifest()
        lschema = {f.name: f.dataType for f in lm.schema.fields}
        rschema = {f.name: f.dataType for f in rm.schema.fields}
        lon = [p[0] for p in spec.on]
        ron = [p[1] for p in spec.on]
        for c in lon:
            if c not in lschema:
                raise ValueError(f"left join column {c!r} not in left schema")
        for c in ron:
            if c not in rschema:
                raise ValueError(f"right join column {c!r} not in right schema")
        if sorted(ron) != sorted(rm.key_cols):
            raise ValueError(
                f"right join columns {ron} must be exactly the right "
                f"table's key columns {rm.key_cols} — the n:1 guarantee "
                "that keys the view on the left table's keys"
            )
        for lc, rc in spec.on:
            if lschema[lc] != rschema[rc]:
                raise ValueError(
                    f"join pair ({lc!r}, {rc!r}) types differ: "
                    f"{lschema[lc]} vs {rschema[rc]}"
                )
        lcols = (
            [f.name for f in lm.schema.fields]
            if spec.left_cols is None
            # keys key the view; join cols drive the refresh rejoin —
            # both are always projected whatever the caller listed
            else list(dict.fromkeys(list(lm.key_cols) + lon + list(spec.left_cols)))
        )
        for c in lcols:
            if c not in lschema:
                raise ValueError(f"left column {c!r} not in left schema")
        rcols = (
            [f.name for f in rm.schema.fields if f.name not in ron]
            if spec.right_cols is None
            else list(spec.right_cols)
        )
        for c in rcols:
            if c not in rschema:
                raise ValueError(f"right column {c!r} not in right schema")
            if c in ron:
                raise ValueError(
                    f"right column {c!r} is a join column — its value is "
                    "the fact's own fk column; project that instead"
                )
        out_r = [spec.right_prefix + c for c in rcols]
        collisions = set(lcols) & set(out_r)
        if collisions:
            raise ValueError(
                f"column collision(s) {sorted(collisions)} between the "
                "left projection and the (prefixed) right projection — "
                "set right_prefix"
            )
        norm = JoinViewSpec(
            on=spec.on,
            how=spec.how,
            left_cols=tuple(lcols),
            right_cols=tuple(rcols),
            right_prefix=spec.right_prefix,
        )
        fields = [T.StructField(c, lschema[c]) for c in lcols]
        # left-join null extension makes every dim column nullable in
        # the view regardless of its source nullability
        fields += [T.StructField(o, rschema[c]) for o, c in zip(out_r, rcols)]
        LakeTable.create(
            spark,
            root,
            schema=T.StructType(fields),
            key_cols=list(lm.key_cols),
            num_buckets=num_buckets,
        )
        with open(os.path.join(root, _JOIN_SPEC_FILE), "w") as f:
            f.write(norm.to_json())
        v = cls(spark, root)
        # synced to BOTH sources' empty v0 snapshots; the first
        # refresh replays both histories through the same path
        v.table.commit(
            replaced_buckets=[],
            new_files={},
            new_row_counts={},
            summary={"synced_left": 0, "synced_right": 0},
            base_version=v.table.manifest().version,
        )
        return v

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "JoinView":
        return cls(spark, root)

    # ------------------------------------------------------------------
    def synced_versions(self) -> tuple[int, int]:
        s = self.table.manifest().summary
        if "synced_left" not in s or "synced_right" not in s:
            raise RuntimeError(
                f"view at {self.root} has no synced watermark pair — "
                "not created through JoinView.create?"
            )
        return int(s["synced_left"]), int(s["synced_right"])

    def read(self) -> DataFrame:
        return self.table.read()

    # ------------------------------------------------------------------
    def _right_dim(self, right: LakeTable, rv1: int, with_flag: bool) -> DataFrame:
        """The dim lookup side: join keys renamed to unambiguous
        ``__jk_i`` slots, payload renamed to the view's prefixed
        names (collision-free by create()'s check)."""
        spec = self.spec
        ron = [p[1] for p in spec.on]
        cols = [F.col(rc).alias(f"__jk_{i}") for i, rc in enumerate(ron)]
        cols += [
            F.col(c).alias(spec.right_prefix + c) for c in spec.right_cols
        ]
        if with_flag:
            cols.append(F.lit(True).alias("__matched"))
        return right.read(version=rv1).select(*cols)

    def refresh(
        self,
        left: LakeTable,
        right: LakeTable,
        left_to: int | None = None,
        right_to: int | None = None,
    ) -> JoinRefreshResult:
        """Advance the view to (left_to, right_to) — defaulting to
        both sources' current snapshots — by the delta-join plan in
        the module docstring. Idempotent; crash-rerunnable (the
        watermark pair commits atomically with the view data)."""
        t0 = time.monotonic()
        spec = self.spec
        lv0, rv0 = self.synced_versions()
        lv1 = left.current_version() if left_to is None else left_to
        rv1 = right.current_version() if right_to is None else right_to
        if (lv1, rv1) == (lv0, rv0):
            return JoinRefreshResult((lv0, lv1), (rv0, rv1), 0, 0, skipped=True)
        if lv1 < lv0 or rv1 < rv0:
            raise ValueError(
                f"view is synced to (left v{lv0}, right v{rv0}) but asked "
                f"to refresh to (v{lv1}, v{rv1}) — refreshed against the "
                "wrong sources, or a source was rolled back (rebuild())"
            )
        lkeys = list(left.manifest(lv1).key_cols)
        lon = [p[0] for p in spec.on]
        vm = self.table.manifest()
        vtypes = {f.name: f.dataType for f in vm.schema.fields}
        view_cols = [f.name for f in vm.schema.fields]
        lcols_view = list(spec.left_cols)
        phase: dict = {}

        try:
            dl = (
                left.changes(lv0, lv1) if lv1 > lv0 else None
            )  # one row per changed left key; post-image = the v1 row
            dr = right.changes(rv0, rv1) if rv1 > rv0 else None
        except FileNotFoundError as e:
            raise RuntimeError(
                "a source snapshot in the feed window has been expired "
                "— JoinView.rebuild(left, right) recomputes from the "
                "current snapshots"
            ) from e

        touched_parts: list[DataFrame] = []
        if dl is not None:
            touched_parts.append(
                dl.filter(F.col("_change_type") != "delete").select(*lcols_view)
            )
        if dr is not None:
            # changed dim keys, renamed to the fact's fk column names;
            # the semi-join below is the only fact-scan-shaped cost of
            # the dim side — AQE broadcasts the key set while small
            dr_keys = dr.select(
                *[F.col(rc).alias(lc) for lc, rc in spec.on]
            ).dropDuplicates()
            touched_parts.append(
                left.read(version=lv1)
                .select(*lcols_view)
                .join(dr_keys, on=lon, how="left_semi")
            )
        touched = touched_parts[0]
        for p in touched_parts[1:]:
            touched = touched.unionByName(p)
        # a key changed on the left AND referencing a changed dim key
        # appears in both parts with an IDENTICAL v1 image — keep one
        if len(touched_parts) > 1:
            touched = touched.dropDuplicates(lkeys)
        phase["delta_ms"] = round((time.monotonic() - t0) * 1000, 1)

        t1 = time.monotonic()
        r1 = self._right_dim(right, rv1, with_flag=True)
        cond = [F.col(lc) == F.col(f"__jk_{i}") for i, lc in enumerate(lon)]
        j = touched.join(r1, on=cond, how="left")
        if spec.how == "inner":
            op = F.when(F.col("__matched"), F.lit("U")).otherwise(F.lit("D"))
        else:
            op = F.lit("U")
        upserts = j.select(*view_cols, op.alias("__op"))
        parts = [upserts]
        if dl is not None:
            null_payload = [
                F.lit(None).cast(vtypes[c]).alias(c)
                for c in view_cols
                if c not in lkeys
            ]
            parts.append(
                dl.filter(F.col("_change_type") == "delete").select(
                    *lkeys, *null_payload, F.lit("D").alias("__op")
                )
            )
        up = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        up = up.persist()
        try:
            counts = up.agg(
                F.sum((F.col("__op") == "U").cast("int")).alias("u"),
                F.sum((F.col("__op") == "D").cast("int")).alias("d"),
            ).first()
            n_up, n_del = int(counts["u"] or 0), int(counts["d"] or 0)
            phase["plan_ms"] = round((time.monotonic() - t1) * 1000, 1)
            t2 = time.monotonic()
            summary = {"synced_left": lv1, "synced_right": rv1}
            if n_up + n_del == 0:
                # window had commits but zero net joined-row changes —
                # advance the watermark pair alone
                self.table.commit(
                    replaced_buckets=[], new_files={}, new_row_counts={},
                    summary=summary,
                    base_version=self.table.manifest().version,
                )
            else:
                pm = merge_into(self.table, up, op_col="__op", delete_op="D")
                pm.commit(summary=summary)
            phase["merge_ms"] = round((time.monotonic() - t2) * 1000, 1)
            return JoinRefreshResult(
                (lv0, lv1), (rv0, rv1), n_up, n_del, phase_ms=phase
            )
        finally:
            up.unpersist()

    # ------------------------------------------------------------------
    def rebuild(self, left: LakeTable, right: LakeTable) -> JoinRefreshResult:
        """Full recompute fallback (expired feed window / rolled-back
        source): re-join both current snapshots and write the result
        through the same merge, deleting vanished keys."""
        t0 = time.monotonic()
        spec = self.spec
        lv1, rv1 = left.current_version(), right.current_version()
        lv0, rv0 = self.synced_versions()
        lkeys = list(left.manifest(lv1).key_cols)
        vm = self.table.manifest()
        view_cols = [f.name for f in vm.schema.fields]
        vtypes = {f.name: f.dataType for f in vm.schema.fields}
        lon = [p[0] for p in spec.on]
        lf = left.read(version=lv1).select(*spec.left_cols)
        r1 = self._right_dim(right, rv1, with_flag=False)
        cond = [F.col(lc) == F.col(f"__jk_{i}") for i, lc in enumerate(lon)]
        fresh = lf.join(r1, on=cond, how=spec.how).select(*view_cols)
        gone = (
            self.table.read()
            .select(*lkeys)
            .join(fresh.select(*lkeys), on=lkeys, how="left_anti")
        )
        null_payload = [
            F.lit(None).cast(vtypes[c]).alias(c) for c in view_cols if c not in lkeys
        ]
        up = fresh.withColumn("__op", F.lit("U")).unionByName(
            gone.select(*lkeys, *null_payload, F.lit("D").alias("__op"))
        )
        pm = merge_into(self.table, up, op_col="__op", delete_op="D")
        pm.commit(summary={"synced_left": lv1, "synced_right": rv1})
        return JoinRefreshResult(
            (lv0, lv1),
            (rv0, rv1),
            0,
            0,
            phase_ms={"rebuild_ms": round((time.monotonic() - t0) * 1000, 1)},
        )

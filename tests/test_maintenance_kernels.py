"""The two per-bucket maintenance kernels: MoR compaction
(``LakeTable.compact``) and aggregate-view refresh (``AggView.refresh``).
Each runs one Arrow task per bucket that reads the bucket's files,
writes its new file and returns a stats row; the driver commits.

Checked here: view state equals a recompute over every supported
aggregate type and through the dirty min/max path; failures leave the
view where it was; Spark job counts; compaction layouts."""

import datetime as dt
import decimal
import math
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake import LakeTable, merge_into
from datax_spark.lake.matview import AggView, AggViewSpec

SRC = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("g", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DecimalType(12, 2)),
    T.StructField("x", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
])
EVENTS = T.StructType([*SRC.fields, T.StructField("op", T.StringType())])
SPEC = AggViewSpec(
    group_cols=("g",),
    sum_cols=("i", "l", "d", "x"),
    min_cols=("l", "s", "dt", "ts"),
    max_cols=("l", "s", "dt", "ts"),
    group_fill=(("g", "<null>"),),
)
GROUPS = [f"g{j}" for j in range(6)] + [None]


def _row(n: int, g, scale: int = 1, key: str | None = None):
    """Source row for key ``k{n}`` (or ``key``) in group ``g``: every
    measure is a function of (n, scale), and one row in five has
    NULL measures."""
    v = n * scale
    null = n % 5 == 3
    return (
        key or f"k{n}", g,
        None if null else v % 1000,
        None if null else v * 1_000_003,
        None if null else decimal.Decimal(v % 100_000) / 100,
        None if null else v / 8,
        None if null else f"s{v % 97:03d}",
        None if null else dt.date(2020, 1, 1) + dt.timedelta(days=v % 400),
        None if null else dt.datetime(2021, 1, 1) + dt.timedelta(seconds=v * 37),
    )


def _write(spark, table, rows=(), deletes=()):
    data = [(*r, "U") for r in rows] + [
        (f"k{n}", *([None] * (len(SRC) - 1)), "D") for n in deletes
    ]
    merge_into(table, spark.createDataFrame(data, EVENTS), op_col="op").commit()


def _recompute(spark, source, spec):
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in spec.sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in spec.min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in spec.max_cols]
    return spec.fill(source.read()).groupBy(*spec.group_cols).agg(*aggs)


def _assert_view_equals_recompute(spark, view, source):
    def rows(df):
        out = {}
        for r in df.collect():
            d = r.asDict()
            out[tuple(d[g] for g in view.spec.group_cols)] = d
        return out

    got, want = rows(view.read()), rows(_recompute(spark, source, view.spec))
    assert got.keys() == want.keys()
    for key, w in want.items():
        for col, wv in w.items():
            gv = got[key][col]
            if isinstance(wv, float):
                assert math.isclose(gv, wv, rel_tol=1e-12), (key, col, gv, wv)
            else:
                assert gv == wv, (key, col, gv, wv)


def _source(spark, tmp_path, n=120):
    src = LakeTable.create(spark, str(tmp_path / "src"), SRC, ["k"], num_buckets=4)
    if n:
        _write(spark, src, [_row(j, GROUPS[j % len(GROUPS)]) for j in range(n)])
    return src


@pytest.mark.parametrize("mode", ["spj", "mor"])
def test_view_equals_recompute_through_churn(spark, tmp_path, mode):
    """Typed sums (int, bigint, decimal, double), typed extremes (bigint,
    string, date, timestamp), a filled NULL group, groups that move,
    groups emptied to zero rows and retracted extremes, refreshed after
    every source commit."""
    src = _source(spark, tmp_path)
    view = AggView.create(spark, str(tmp_path / "view"), src, SPEC, num_buckets=2)
    view.refresh(src)
    _assert_view_equals_recompute(spark, view, src)

    def write(rows=(), deletes=()):
        data = [(*r, "U") for r in rows] + [
            (f"k{n}", *([None] * (len(SRC) - 1)), "D") for n in deletes
        ]
        merge_into(src, spark.createDataFrame(data, EVENTS), op_col="op",
                   strategy=mode).commit()

    # updates in place (new measures), and moves between groups
    write([_row(j, GROUPS[j % len(GROUPS)], scale=3) for j in range(0, 120, 5)]
          + [_row(j, GROUPS[(j + 1) % len(GROUPS)]) for j in range(1, 120, 11) if j % 5])
    r = view.refresh(src)
    assert r.groups_changed > 0
    _assert_view_equals_recompute(spark, view, src)

    # retract the extreme holders of g1 only (its largest and smallest
    # keys by every measure), leaving the other groups untouched
    g1 = [j for j in range(120) if GROUPS[j % len(GROUPS)] == "g1"]
    write(deletes=g1[:2] + g1[-2:])
    r = view.refresh(src)
    assert r.groups_recomputed >= 1
    _assert_view_equals_recompute(spark, view, src)

    # empty a group entirely, and the NULL group too
    gone = src.read().filter(F.col("g").isNull() | (F.col("g") == "g2"))
    write(deletes=[int(r["k"][1:]) for r in gone.collect()])
    r = view.refresh(src)
    assert r.groups_deleted >= 2
    keys = {row["g"] for row in view.read().collect()}
    assert "g2" not in keys and "<null>" not in keys
    _assert_view_equals_recompute(spark, view, src)

    # the group comes back
    write([_row(500 + j, "g2") for j in range(4)])
    view.refresh(src)
    _assert_view_equals_recompute(spark, view, src)


def test_dirty_bucket_next_to_clean_bucket(spark, tmp_path):
    """A retracted extreme makes its group dirty: the bucket task leaves
    it out of its file and the recompute writes it as a second file of
    the same bucket, while a bucket without dirty groups keeps one
    file; the next refresh and a compaction read both files."""
    src = _source(spark, tmp_path)
    view = AggView.create(spark, str(tmp_path / "view"), src, SPEC, num_buckets=2)
    view.refresh(src)
    # every group gets a new row of small measures; g3 also loses its
    # max-l holder (l grows with the key number), which no new row
    # dominates
    g3 = [j for j in range(120) if GROUPS[j % len(GROUPS)] == "g3" and j % 5 != 3]
    _write(spark, src, [_row(j, g, key=f"new{j}") for j, g in enumerate(GROUPS)],
           deletes=[g3[-1]])
    r = view.refresh(src)
    assert r.groups_recomputed == 1
    files = view.table.manifest().files
    assert sorted(len(fs) for fs in files.values()) == [1, 2], files
    two = next(fs for fs in files.values() if len(fs) == 2)
    assert any(f.endswith("-recomputed.parquet") for f in two)
    _assert_view_equals_recompute(spark, view, src)

    _write(spark, src, [_row(2000 + j, g, scale=5) for j, g in enumerate(GROUPS)])
    view.refresh(src)
    _assert_view_equals_recompute(spark, view, src)
    view.table.compact()
    assert all(len(fs) == 1 for fs in view.table.manifest().files.values())
    _assert_view_equals_recompute(spark, view, src)


def test_shared_feed_refresh(spark, tmp_path):
    src = _source(spark, tmp_path)
    count_sum = AggViewSpec(group_cols=("g",), sum_cols=("l", "d"),
                            group_fill=(("g", "<null>"),))
    views = [
        AggView.create(spark, str(tmp_path / "v1"), src, SPEC, num_buckets=2),
        AggView.create(spark, str(tmp_path / "v2"), src, count_sum, num_buckets=3),
    ]
    for step in range(2):
        v0 = views[0].synced_version()
        _write(spark, src, [_row(j, GROUPS[(j + step) % len(GROUPS)], 2 + step)
                            for j in range(0, 120, 3)], deletes=[7 + 3 * step, 8 + 3 * step])
        cdf = src.changes(v0, src.current_version(), include_preimage=True).persist()
        try:
            for v in views:
                v.refresh(src, to_version=src.current_version(), shared_cdf=cdf)
        finally:
            cdf.unpersist()
        for v in views:
            _assert_view_equals_recompute(spark, v, src)


def test_bigint_overflow_raises_and_leaves_view_unchanged(spark, tmp_path):
    src = _source(spark, tmp_path, n=0)
    spec = AggViewSpec(group_cols=("g",), sum_cols=("l",))
    view = AggView.create(spark, str(tmp_path / "view"), src, spec, num_buckets=2)
    big = (2**63 - 10) // 2
    _write(spark, src, [("a", "g", 1, big, None, None, None, None, None),
                        ("b", "g", 1, big, None, None, None, None, None)])
    view.refresh(src)
    before = (view.synced_version(), view.table.current_version(), view.read().collect())
    _write(spark, src, [("c", "g", 1, 100, None, None, None, None, None)])
    with pytest.raises(Exception, match="(?i)overflow"):
        view.refresh(src)
    assert (view.synced_version(), view.table.current_version(),
            view.read().collect()) == before


def test_null_group_key_raises_before_commit(spark, tmp_path):
    src = _source(spark, tmp_path, n=0)
    spec = AggViewSpec(group_cols=("g",), sum_cols=("l",))
    view = AggView.create(spark, str(tmp_path / "view"), src, spec, num_buckets=2)
    _write(spark, src, [("a", "g", 1, 1, None, None, None, None, None)])
    view.refresh(src)
    before = (view.synced_version(), view.table.current_version())
    _write(spark, src, [("b", None, 1, 1, None, None, None, None, None)])
    with pytest.raises(ValueError, match="NULL in a group key"):
        view.refresh(src)
    assert (view.synced_version(), view.table.current_version()) == before


def _spark_work(spark, fn):
    """(jobs, stages, tasks) Spark ran for ``fn()``, by job group."""
    sc = spark.sparkContext
    group = f"count-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    infos = [st.getStageInfo(s) for s in stages]
    # a stage skipped because its shuffle output was reused never ran
    ran = [i for i in infos if i is not None and i.numCompletedTasks]
    return len(jobs), len(ran), sum(i.numTasks for i in ran)


def _mor_table(spark, tmp_path, nb=8, n=800):
    t = LakeTable.create(spark, str(tmp_path / "mor"), SRC, ["k"], num_buckets=nb)
    _write(spark, t, [_row(j, GROUPS[j % len(GROUPS)]) for j in range(n)])
    for step in range(2):
        data = [(*_row(j, GROUPS[j % 3], 2 + step), "U") for j in range(step, n, 2)]
        merge_into(t, spark.createDataFrame(data, EVENTS), op_col="op",
                   strategy="mor").commit()
    assert all(t.manifest().delta_files.get(str(b)) for b in range(nb))
    return t


def test_compaction_runs_one_job_one_stage_one_task_per_bucket(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    want = sorted(t.read().collect())
    assert _spark_work(spark, t.compact) == (1, 1, 8)
    assert not t.manifest().delta_files
    assert sorted(t.read().collect()) == want


def test_count_sum_refresh_runs_at_most_three_jobs(spark, tmp_path):
    t = _mor_table(spark, tmp_path)
    spec = AggViewSpec(group_cols=("g",), sum_cols=("l",),
                       group_fill=(("g", "<null>"),))
    view = AggView.create(spark, str(tmp_path / "view"), t, spec, num_buckets=4)
    view.refresh(t)
    data = [(*_row(j, GROUPS[j % 4], 9), "U") for j in range(0, 800, 7)]
    merge_into(t, spark.createDataFrame(data, EVENTS), op_col="op",
               strategy="mor").commit()
    jobs, _, _ = _spark_work(spark, lambda: view.refresh(t))
    assert jobs <= 3
    _assert_view_equals_recompute(spark, view, t)


def test_compaction_folds_multi_file_cow_bucket(spark, tmp_path):
    t = _source(spark, tmp_path)
    t.compact(target_file_rows=8)
    assert any(len(fs) > 1 for fs in t.manifest().files.values())
    want = sorted(t.read().collect())
    t.compact()
    files = t.manifest().files
    assert all(len(fs) == 1 for fs in files.values())
    assert sorted(t.read().collect()) == want
    # one file per bucket, key-sorted, with exactly the table's columns
    for (f,) in files.values():
        tbl = pq.read_table(os.path.join(t.root, f))
        assert tbl.column_names == SRC.names
        keys = tbl.column("k").to_pylist()
        assert keys == sorted(keys)


def test_compaction_drops_bucket_whose_keys_are_all_deleted(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SRC, ["k"], num_buckets=2)
    _write(spark, t, [_row(j, "g") for j in range(40)])
    data = [(f"k{j}", *([None] * (len(SRC) - 1)), "D") for j in range(40)]
    merge_into(t, spark.createDataFrame(data, EVENTS), op_col="op",
               strategy="mor").commit()
    assert t.read().count() == 0
    t.compact()
    m = t.manifest()
    assert not m.files and not m.delta_files and not m.row_counts
    assert t.read().count() == 0


def test_sorted_compaction_with_nulls_and_nan(spark, tmp_path):
    """Spark's ascending order: NULLs lead, NaN trails every number, so
    ``target_file_rows`` files still carry disjoint ranges."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SRC, ["k"], num_buckets=1)
    rows = [_row(j, "g") for j in range(60)]
    rows = [
        (*r[:5], float("nan") if j % 9 == 0 else r[5], *r[6:])
        for j, r in enumerate(rows)
    ]
    _write(spark, t, rows)
    t.compact(target_file_rows=10, sort_cols=["x"])
    files = [os.path.join(t.root, f) for f in t.manifest().files["0"]]
    assert len(files) == 6
    xs = [pq.read_table(f).column("x").to_pylist() for f in files]
    flat = [v for part in xs for v in part]
    n_null = sum(v is None for v in flat)
    assert all(v is None for v in flat[:n_null])
    numbers = [v for v in flat[n_null:] if not math.isnan(v)]
    assert numbers == sorted(numbers)
    assert all(math.isnan(v) for v in flat[n_null + len(numbers):])
    assert len(flat) == 60

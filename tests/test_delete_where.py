"""Row-level predicate deletes (LakeTable.delete_where): the DELETE
FROM ... WHERE surface — a first-class snapshot commit that rides the
change feed, incremental views, time travel and MoR, with stats-pruned
scans for the conjunct-tuple predicate form."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.cli import main
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ]
)

ROWS = [
    ("r1", "a", "py", 1),
    ("r1", "b", "rs", 2),
    ("r2", "c", "py", 3),
    ("r2", "d", None, 4),
    ("r3", "e", "go", 5),
]


def _mk(spark, root, **kw):
    t = LakeTable.create(spark, str(root), SCHEMA, ["repo", "path"],
                         num_buckets=4, **kw)
    ev = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])
    merge_into(
        t, spark.createDataFrame([(*r, "U") for r in ROWS], ev)
    ).commit()
    return t


def _keys(t):
    return sorted((r["repo"], r["path"]) for r in t.read().collect())


def test_delete_where_filters_and_null_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v0 = t.current_version()
    n = t.delete_where(filters=[("lang", "=", "py")])
    assert n == 2
    # NULL lang never equals 'py' — SQL semantics keep it
    assert _keys(t) == [("r1", "b"), ("r2", "d"), ("r3", "e")]
    # first-class commit: summary recorded, time travel intact
    assert t.manifest().summary["rows_deleted"] == 2
    assert t.read(version=v0).count() == 5
    # change feed shows exactly the two deletes
    cf = t.changes(v0, t.current_version())
    assert sorted(
        (r["repo"], r["path"], r["_change_type"]) for r in cf.collect()
    ) == [("r1", "a", "delete"), ("r2", "c", "delete")]


def test_delete_where_condition_and_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v0 = t.current_version()
    assert t.delete_where(condition="lsn > 100") == 0
    assert t.current_version() == v0  # no commit for a no-match delete
    n = t.delete_where(condition=(F.col("lsn") >= 4) & F.col("lang").isNull())
    assert n == 1
    assert ("r2", "d") not in _keys(t)
    with pytest.raises(ValueError, match="exactly one"):
        t.delete_where()
    with pytest.raises(ValueError, match="exactly one"):
        t.delete_where(filters=[("lsn", ">", 1)], condition="lsn > 1")


def test_delete_where_mor_defers_rewrite(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    base_files = dict(t.manifest().files)
    n = t.delete_where(filters=[("repo", "=", "r1")], strategy="mor")
    assert n == 2
    m = t.manifest()
    # MoR: tombstone deltas appended, base files untouched
    assert m.files == base_files
    assert any(m.delta_files.get(b) for b in m.delta_files)
    assert _keys(t) == [("r2", "c"), ("r2", "d"), ("r3", "e")]
    t.compact()
    assert _keys(t) == [("r2", "c"), ("r2", "d"), ("r3", "e")]


def test_delete_where_views_retract(spark, tmp_path):
    """An attached incremental agg view retracts the deleted rows on
    its next refresh — deletion is just CDC."""
    from datax_spark.lake.matview import AggView, AggViewSpec

    t = _mk(spark, tmp_path / "t")
    view = AggView.create(
        spark, str(tmp_path / "v"), t,
        AggViewSpec(group_cols=("repo",), sum_cols=("lsn",)),
        num_buckets=2,
    )
    view.refresh(t)
    t.delete_where(filters=[("repo", "=", "r1")])
    view.refresh(t)
    got = {r["repo"]: (r["n_rows"], r["sum_lsn"]) for r in view.read().collect()}
    assert got == {"r2": (2, 7), "r3": (1, 5)}  # r1 group died


def test_delete_where_cli_kind(spark, tmp_path, capsys):
    t = _mk(spark, tmp_path / "t")
    spec = tmp_path / "job.json"
    spec.write_text(json.dumps({
        "maintenance": {
            "table_root": str(tmp_path / "t"),
            "actions": [
                {"delete_where": {"filters": [["lang", "=", "go"]]}},
                {"delete_where": {"where": "lsn = 1", "strategy": "mor"}},
            ],
        }
    }))
    assert main(["--job", str(spec)]) == 0
    assert _keys(t) == [("r1", "b"), ("r2", "c"), ("r2", "d")]


def test_update_where_sql_semantics(spark, tmp_path):
    """assignments see OLD values; key columns refuse; change feed
    reports updates; no-match -> no commit."""
    t = _mk(spark, tmp_path / "t")
    v0 = t.current_version()
    n = t.update_where(
        {"lsn": "lsn + 100", "lang": F.upper(F.col("lang"))},
        filters=[("repo", "=", "r1")],
    )
    assert n == 2
    got = {(r["repo"], r["path"]): (r["lsn"], r["lang"])
           for r in t.read().collect()}
    assert got[("r1", "a")] == (101, "PY")
    assert got[("r1", "b")] == (102, "RS")
    assert got[("r2", "c")] == (3, "py")  # untouched
    cf = t.changes(v0, t.current_version())
    assert sorted(
        (r["repo"], r["path"], r["_change_type"]) for r in cf.collect()
    ) == [("r1", "a", "update"), ("r1", "b", "update")]
    assert t.update_where({"lsn": 0}, condition="lsn > 10000") == 0
    with pytest.raises(ValueError, match="key column"):
        t.update_where({"repo": "x"}, condition="lsn = 1")
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"nope": 1}, condition="lsn = 1")


def test_update_where_cli_kind(spark, tmp_path, capsys):
    t = _mk(spark, tmp_path / "t")
    spec = tmp_path / "job.json"
    spec.write_text(json.dumps({
        "maintenance": {
            "table_root": str(tmp_path / "t"),
            "actions": [
                {"update_where": {"set": {"lsn": "lsn * 10"},
                                  "filters": [["lang", "=", "go"]]}},
            ],
        }
    }))
    assert main(["--job", str(spec)]) == 0
    got = {(r["repo"], r["path"]): r["lsn"] for r in t.read().collect()}
    assert got[("r3", "e")] == 50


def test_delete_where_mor_on_resolve_order_table(spark, tmp_path):
    """Review finding: tombstones on a resolve_order table must carry
    the matched row's own order values, or the MoR LWW read resolves
    the live base row as the winner and the delete silently no-ops."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
        num_buckets=2, resolve_order=["lsn"],
    )
    ev = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])
    merge_into(
        t, spark.createDataFrame([(*r, "U") for r in ROWS], ev)
    ).commit()
    n = t.delete_where(filters=[("lang", "=", "py")], strategy="mor")
    assert n == 2
    assert _keys(t) == [("r1", "b"), ("r2", "d"), ("r3", "e")]
    t.compact()
    assert _keys(t) == [("r1", "b"), ("r2", "d"), ("r3", "e")]


def test_delete_and_update_where_on_delta_bearing_table(spark, tmp_path):
    """The default (spj) strategy on a MoR table with pending deltas:
    matches come from the merged read, each touched bucket is
    rewritten from its merged state, and its deltas are cleared."""
    t = _mk(spark, tmp_path / "t")
    ev = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])
    merge_into(
        t,
        spark.createDataFrame(
            [("r1", "a", "kt", 10, "U"), ("r4", "f", "py", 11, "U"),
             ("r3", "e", None, None, "D")],
            ev,
        ),
        strategy="mor",
    ).commit()

    def n_deltas():
        return sum(len(v) for v in t.manifest().delta_files.values())

    before = n_deltas()
    assert before
    # r2/c lives in a base file, r4/f only in a delta; r1/a's base row
    # said py but its delta image says kt
    assert t.delete_where(filters=[("lang", "=", "py")]) == 2
    assert _keys(t) == [("r1", "a"), ("r1", "b"), ("r2", "d")]
    assert n_deltas() < before  # rewritten buckets dropped their deltas
    assert t.update_where({"lsn": "lsn + 100"}, condition="lang = 'kt'") == 1
    got = {(r["repo"], r["path"]): (r["lang"], r["lsn"]) for r in t.read().collect()}
    assert got == {("r1", "a"): ("kt", 110), ("r1", "b"): ("rs", 2),
                   ("r2", "d"): (None, 4)}
    t.compact()
    assert {(r["repo"], r["path"]): (r["lang"], r["lsn"])
            for r in t.read().collect()} == got


def test_update_where_bad_cast_fails_loudly(spark, tmp_path):
    """r3 ADVICE: an assignment whose value cannot be represented in
    the column's type fails the statement (SQL UPDATE semantics) —
    never a silent NULL across every matched row."""
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(Exception) as ei:
        t.update_where({"lsn": "'not-a-number'"}, filters=[("repo", "=", "r1")])
    assert "does not cast to bigint" in str(ei.value)
    # nothing committed, table unchanged
    assert _keys(t) == sorted((r[0], r[1]) for r in ROWS)
    # NULL-producing expressions on a nullable column are still fine
    assert t.update_where({"lang": "NULL"}, filters=[("repo", "=", "r3")]) == 1
    assert [r["lang"] for r in t.read(filters=[("repo", "=", "r3")]).collect()] == [None]

"""LakeTable format: create/commit/read, bucket pruning, schema
evolution on read, commit conflicts, vacuum."""

import contextlib
import os
import re

import pyspark.sql.functions as F
import pytest

from datax_spark.lake import LakeTable, merge_into
from datax_spark.lake.merge import DuplicateKeyError
from datax_spark.lake.table import CommitConflictError
from datax_spark.operators.schema_evolution import SchemaEvolutionError, evolve_schema
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)


def _upserts(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1], "U", r[2], r[3]) for r in rows],
        "repo string, path string, op string, lsn long, content string",
    ).select("repo", "path", "op", "lsn", "content")


def test_create_merge_read(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=8)
    pend = merge_into(t, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")]))
    v = pend.commit(summary={"last_epoch": 0})
    assert v == 1 and t.last_epoch == 0 and t.total_rows() == 2

    # update one key, delete the other
    upd = spark.createDataFrame(
        [("r1", "a", "U", 3, "x2"), ("r2", "b", "D", 4, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd).commit(summary={"last_epoch": 1})
    rows = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert rows == {("r1", "a"): "x2"}

    # time travel: previous snapshot still readable
    old = {(r.repo, r.path) for r in t.read(version=1).collect()}
    assert old == {("r1", "a"), ("r2", "b")}


def _parquet_files(root):
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_duplicate_key_batch_raises_and_writes_nothing(spark, tmp_path, strategy):
    root = str(tmp_path / strategy)
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")]),
               strategy=strategy).commit()
    version, files = t.manifest().version, _parquet_files(root)
    before = sorted(t.read().collect())
    dup = _upserts(spark, [("r1", "a", 3, "x2"), ("r3", "c", 4, "z"), ("r1", "a", 5, "x3")])
    with pytest.raises(DuplicateKeyError, match=r"bucket \d+: key .*'r1'.*'a'") as err:
        merge_into(t, dup, strategy=strategy)
    assert t.manifest().version == version
    assert sorted(t.read().collect()) == before
    # the failing bucket's task wrote nothing; other buckets' tasks of
    # the aborted job may leave uncommitted files in the new txn dir
    b = int(re.search(r"bucket (\d+)", str(err.value)).group(1))
    new = set(_parquet_files(root)) - set(files)
    assert set(files) <= set(_parquet_files(root))
    assert not [f for f in new if f.endswith(f"b{b:05d}.parquet")]


def test_bucket_pruning(spark, tmp_path):
    root = str(tmp_path / "t2")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=16)
    rows = [(f"r{i}", f"p{i}", i, f"c{i}") for i in range(200)]
    merge_into(t, _upserts(spark, rows)).commit()
    m = t.manifest()
    some_bucket = int(next(iter(m.files)))
    pruned = t.read(buckets=[some_bucket])
    full = t.read()
    assert 0 < pruned.count() < full.count() == 200
    # merging a single key must replace only its bucket
    one = merge_into(t, _upserts(spark, [("r5", "p5", 999, "new")]))
    assert len(one.replaced_buckets) == 1


def test_schema_evolution_merge(spark, tmp_path):
    root = str(tmp_path / "t3")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    upd = spark.createDataFrame(
        [("r2", "b", "U", 2, "y", "py-v1")],
        "repo string, path string, op string, lsn long, content string, lang_variant string",
    )
    merge_into(t, upd).commit()
    got = {(r.repo, r.path): r.lang_variant for r in t.read().collect()}
    assert got == {("r1", "a"): None, ("r2", "b"): "py-v1"}  # old rows null-filled

    # non-additive change rejected
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(
            t.manifest().schema,
            T.StructType([T.StructField("lsn", T.StringType())]),
        )


def test_commit_conflict_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t4")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=4)
    p1 = merge_into(t, _upserts(spark, [("r1", "a", 1, "x")]))
    p2 = merge_into(t, _upserts(spark, [("r1", "a", 2, "y")]))
    p1.commit()
    with pytest.raises(CommitConflictError):
        p2.commit()  # stale parent — optimistic concurrency
    removed = t.vacuum()
    assert removed  # p2's orphan files reclaimed
    assert {r.content for r in t.read().collect()} == {"x"}


def test_compact_preserves_state(spark, tmp_path):
    """The CoW merge always leaves one file per bucket, so fragmentation
    comes from append-style writers: simulate a bucket whose file list
    accumulated several parquet files, then compact() must rewrite it to
    one sorted file without changing readable state."""
    import os

    from pyspark.sql import functions as F

    from datax_spark.lake.table import LakeTable

    df = spark.range(300).select(
        F.format_string("repo_%d", F.col("id") % 7).alias("repo"),
        F.format_string("f_%d.py", F.col("id")).alias("path"),
        F.col("id").alias("lsn"),
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=df.schema,
                         key_cols=["repo", "path"], num_buckets=2)
    bucket = t.bucket_expr()
    new_files, new_counts = {}, {}
    for b in (0, 1):
        part = df.withColumn("__b", bucket).filter(F.col("__b") == b).drop("__b")
        for piece in (0, 1, 2):  # three separate files per bucket
            txn = t.new_txn_dir()
            part.filter(F.col("lsn") % 3 == piece).coalesce(1).write.mode(
                "overwrite"
            ).parquet(txn)
            import glob
            fs = glob.glob(os.path.join(txn, "*.parquet"))
            new_files.setdefault(b, []).extend(fs)
        new_counts[b] = part.count()
    t.commit(replaced_buckets=[0, 1], new_files=new_files,
             new_row_counts=new_counts, base_version=0)

    m0 = t.manifest()
    assert all(len(fs) == 3 for fs in m0.files.values())
    before = sorted(tuple(r) for r in t.read().collect())

    v = t.compact()
    m1 = t.manifest()
    assert v == m1.version and m1.version > m0.version
    assert all(len(fs) == 1 for fs in m1.files.values())
    assert m1.row_counts == m0.row_counts
    assert sorted(tuple(r) for r in t.read().collect()) == before
    t.vacuum()
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_vacuum_preserves_time_travel_and_expire_releases(spark, tmp_path):
    """vacuum removes ONLY true orphans (files referenced by no live
    manifest) — historical snapshots stay readable after a vacuum.
    expire_snapshots retires old manifests; the next vacuum then
    reclaims exactly the files only those snapshots referenced."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x")])).commit()       # v1
    merge_into(t, _upserts(spark, [("r1", "a", 2, "y")])).commit()       # v2: CoW rewrites the bucket
    merge_into(t, _upserts(spark, [("r2", "b", 3, "z")])).commit()       # v3
    assert t.versions() == [0, 1, 2, 3]

    # no crashed commits -> nothing is an orphan; every snapshot readable
    assert t.vacuum() == []
    assert {r.content for r in t.read(version=1).collect()} == {"x"}
    assert {r.content for r in t.read(version=2).collect()} == {"y"}
    assert set(t.changes(1, 3).toPandas()["content"]) == {"y", "z"}

    expired = t.expire_snapshots(keep_last=2)
    assert expired == [0, 1] and t.versions() == [2, 3]
    with pytest.raises(FileNotFoundError):
        t.manifest(1)
    removed = t.vacuum()
    # v1's bucket file was superseded at v2, so it is the one reclaimed
    assert len(removed) == 1
    # retained range untouched: v2 time travel, CDF, and current state
    assert {r.content for r in t.read(version=2).collect()} == {"y"}
    assert t.changes(2, 3).count() == 1
    assert {r.content for r in t.read().collect()} == {"y", "z"}
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_change_data_feed(spark, tmp_path):
    """changes(v1, v2) classifies per-key diffs between snapshots as
    insert / update / delete with the right image on each side."""
    from pyspark.sql import functions as F

    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        schema=spark.createDataFrame([], "k string, v long").schema,
        key_cols=["k"], num_buckets=4,
    )
    def apply(rows):
        df = spark.createDataFrame(rows, "k string, v long, op string")
        merge_into(t, df).commit()

    apply([("a", 1, "U"), ("b", 2, "U"), ("c", 3, "U")])   # v1
    apply([("b", 20, "U"), ("c", 3, "U"), ("d", 4, "U")])  # v2: b updated, d inserted
    apply([("a", 0, "D")])                                  # v3: a deleted

    ch = {r["k"]: (r["v"], r["_change_type"]) for r in t.changes(1, 3).collect()}
    assert ch == {"a": (1, "delete"), "b": (20, "update"), "d": (4, "insert")}
    # unchanged key c absent; reflexive diff is empty
    assert t.changes(3, 3).count() == 0
    # null-shift payloads must still register as updates
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"),
        schema=spark.createDataFrame([], "k string, x string, y string").schema,
        key_cols=["k"], num_buckets=2,
    )
    df1 = spark.createDataFrame([("a", None, "z")], "k string, x string, y string")
    merge_into(t2, df1.withColumn("op", F.lit("U"))).commit()
    df2 = spark.createDataFrame([("a", "z", None)], "k string, x string, y string")
    merge_into(t2, df2.withColumn("op", F.lit("U"))).commit()
    out = t2.changes(1, 2).collect()
    assert len(out) == 1 and out[0]["_change_type"] == "update"
    # two keys swapping NULL and the literal "\x00" are two updates
    t3 = LakeTable.create(
        spark, str(tmp_path / "t3"),
        schema=spark.createDataFrame([], "k string, x string").schema,
        key_cols=["k"], num_buckets=2,
    )
    for rows in ([("a", None), ("b", "\x00")], [("a", "\x00"), ("b", None)]):
        df = spark.createDataFrame(rows, "k string, x string")
        merge_into(t3, df.withColumn("op", F.lit("U"))).commit()
    out = {r["k"]: (r["x"], r["_change_type"]) for r in t3.changes(1, 2).collect()}
    assert out == {"a": ("\x00", "update"), "b": (None, "update")}


def test_rebucket_evolution(spark, tmp_path):
    """Bucket-count evolution: rewrite under a new key-hash width in
    one snapshot — state byte-identical, watermark preserved, merges
    (both plans) keep working against the new layout, old snapshot
    still time-travelable, vacuum safe."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    rows = [(f"r{i%7}", f"p{i}", i, f"c{i}") for i in range(200)]
    merge_into(t, _upserts(spark, rows)).commit(summary={"last_epoch": 0})
    before = sorted((r.repo, r.path, r.lsn, r.content) for r in t.read().collect())

    v = t.rebucket(16)
    m = t.manifest()
    assert m.num_buckets == 16 and m.version == v
    assert m.summary.get("rebucketed_from") == 2
    assert m.last_epoch == 0  # watermark carries over
    after = sorted((r.repo, r.path, r.lsn, r.content) for r in t.read().collect())
    assert after == before
    assert sum(m.row_counts.values()) == 200
    # old snapshot still readable at the old layout
    assert t.read(version=v - 1).count() == 200
    t.vacuum()
    assert t.read().count() == 200

    # merges against the evolved layout, both physical plans
    merge_into(t, _upserts(spark, [("r1", "p1", 999, "NEW")])).commit()
    merge_into(
        t, _upserts(spark, [("r2", "p2", 1000, "NEW2")]), strategy="spj"
    ).commit()
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got[("r1", "p1")] == "NEW" and got[("r2", "p2")] == "NEW2"
    assert len(got) == 200

    # to a coprime count: same state, one file per non-empty bucket,
    # each holding exactly the keys that hash to it
    t.rebucket(7)
    m = t.manifest()
    assert m.num_buckets == 7
    assert {(r.repo, r.path): r.content for r in t.read().collect()} == got
    assert all(len(fs) == 1 for fs in m.files.values())
    for b, (rel,) in m.files.items():
        placed = spark.read.parquet(os.path.join(root, rel)).select(
            F.pmod(F.hash("repo", "path"), F.lit(7)).alias("b")
        ).distinct().collect()
        assert [r.b for r in placed] == [int(b)]

    # no-op and validation
    assert t.rebucket(7) == t.current_version()
    with pytest.raises(ValueError):
        t.rebucket(0)


def test_lakewriter_merge_strategy_passthrough(spark, tmp_path):
    from datax_spark.sinks.writers import write_sink

    root = str(tmp_path / "lw")
    df = spark.createDataFrame(
        [("r1", "a", 1, "x"), ("r2", "b", 2, "y")],
        "repo string, path string, lsn long, content string",
    )
    write_sink(df, "lakewriter", {
        "path": root, "keys": ["repo", "path"], "numBuckets": 4,
        "mergeStrategy": "spj",
    })
    df2 = spark.createDataFrame(
        [("r1", "a", 3, "x2")],
        "repo string, path string, lsn long, content string",
    )
    out = write_sink(df2, "lakewriter", {
        "path": root, "keys": ["repo", "path"], "mergeStrategy": "spj",
    })
    t = LakeTable.load(spark, root)
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r1", "a"): "x2", ("r2", "b"): "y"}
    assert out["rows_after"] >= 1


def test_file_stats_pruning(spark, tmp_path):
    """Iceberg-style manifest file stats: commits harvest per-file
    [min, max, null_count] bounds from parquet footers; filtered reads
    skip files the bounds prove empty, with identical results to a
    plain post-filter."""
    root = str(tmp_path / "t_stats")
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=8,
        stats_cols=["lsn", "content"],
    )
    rows = [(f"r{i}", f"p{i}", i + 1, f"c{i}") for i in range(64)]
    merge_into(t, _upserts(spark, rows)).commit()
    m = t.manifest()
    all_files = sorted(p for fs in m.files.values() for p in fs)
    assert sorted(m.file_stats) == all_files  # every base file has stats
    for st in m.file_stats.values():
        assert set(st) == {"lsn", "content"} and st["lsn"][2] == 0

    # bounds provably empty -> every file skipped, zero rows
    kept, skipped = t.plan_files([("lsn", ">", 10_000)])
    assert kept == [] and skipped == all_files
    assert t.read(filters=[("lsn", ">", 10_000)]).count() == 0

    # a point update to one key narrows a >=-scan to that ONE file
    merge_into(t, _upserts(spark, [("r5", "p5", 999_999, "hot")]), strategy="spj").commit()
    kept, skipped = t.plan_files([("lsn", ">=", 500_000)])
    assert len(kept) == 1 and len(kept) + len(skipped) == len(
        [p for fs in t.manifest().files.values() for p in fs]
    )
    got = t.read(filters=[("lsn", ">=", 500_000)]).collect()
    assert [(r.repo, r.path, r.lsn) for r in got] == [("r5", "p5", 999_999)]

    # null-count pruning: only the file carrying the null row is read
    upd = spark.createDataFrame(
        [("zz", "zz", "U", 70, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd).commit()
    kept, _skipped = t.plan_files([("content", "is_null")])
    assert len(kept) == 1
    got = t.read(filters=[("content", "is_null")]).collect()
    assert [(r.repo, r.path) for r in got] == [("zz", "zz")]

    # filtered read == unfiltered read + post-filter (exact semantics)
    flt = [("lsn", "<=", 30), ("content", "is_not_null")]
    a = {(r.repo, r.path, r.lsn) for r in t.read(filters=flt).collect()}
    b = {
        (r.repo, r.path, r.lsn)
        for r in t.read().filter("lsn <= 30 and content is not null").collect()
    }
    assert a == b and len(a) == 29  # r5 left the range when it jumped to 999_999

    # string-bounds pruning on the content column
    kept, skipped = t.plan_files([("content", "=", "hot")])
    assert skipped and [(r.content,) for r in t.read(filters=[("content", "=", "hot")]).collect()] == [("hot",)]

    # stats survive compaction (commit() re-harvests rewritten files)
    t.compact()
    m3 = t.manifest()
    assert sorted(m3.file_stats) == sorted(p for fs in m3.files.values() for p in fs)
    assert t.read(filters=[("lsn", ">=", 500_000)]).count() == 1


def test_file_stats_mor_and_validation(spark, tmp_path):
    """MoR buckets are never file-pruned (their LWW needs every image);
    unknown stats columns are rejected at create; stats-free tables
    never prune."""
    root = str(tmp_path / "t_stats_mor")
    with pytest.raises(ValueError):
        LakeTable.create(
            spark, root + "_bad", SCHEMA, ["repo", "path"], stats_cols=["nope"]
        )
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=4, stats_cols=["lsn"]
    )
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit()
    # MoR delta: r1 jumps to lsn 100 via a delta append — base file
    # bounds still say [1, 2], but the bucket must NOT be pruned
    upd = spark.createDataFrame(
        [("r1", "a", "U", 100, "x2")],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd, strategy="mor").commit()
    got = {(r.repo, r.path): r.lsn for r in t.read(filters=[("lsn", ">=", 100)]).collect()}
    assert got == {("r1", "a"): 100}
    kept, skipped = t.plan_files([("lsn", ">=", 100)])
    m = t.manifest()
    mor_buckets = {b for b in m.delta_files if m.delta_files[b]}
    for b in mor_buckets:  # delta buckets keep all their base files
        for p in m.files.get(b, []):
            assert p in kept
    # compaction folds the delta; now the stats know lsn reaches 100
    t.compact()
    assert t.read(filters=[("lsn", ">=", 100)]).count() == 1
    assert t.plan_files([("lsn", ">", 100)])[0] == []

    # a stats-free table keeps everything (no stats_cols configured)
    t2 = LakeTable.create(
        spark, str(tmp_path / "t_nostats"), SCHEMA, ["repo", "path"], num_buckets=4
    )
    merge_into(t2, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    kept, skipped = t2.plan_files([("lsn", ">", 10_000)])
    assert skipped == [] and len(kept) == 1
    assert t2.read(filters=[("lsn", ">", 10_000)]).count() == 0


def test_sorted_compaction_splits_files_and_sharpens_stats(spark, tmp_path):
    """Iceberg sort-order compaction: compact(sort_cols, target_file_rows)
    rolls each bucket into multiple files with DISJOINT sort-column
    ranges, so manifest-stats pruning keeps ~one file per bucket for a
    narrow range read instead of the whole bucket."""
    root = str(tmp_path / "t_sortcomp")
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2, stats_cols=["lsn"]
    )
    rows = [(f"r{i}", f"p{i}", i + 1, f"c{i}") for i in range(200)]
    merge_into(t, _upserts(spark, rows)).commit()
    with pytest.raises(ValueError):
        t.compact(sort_cols=["nope"])
    with pytest.raises(ValueError):
        t.compact(target_file_rows=0)
    v = t.compact(target_file_rows=16, sort_cols=["lsn"])
    m = t.manifest()
    assert v == m.version
    n_files = sum(len(fs) for fs in m.files.values())
    assert n_files >= 10  # 200 rows / 16-row files across 2 buckets
    # every file has harvested bounds; within a bucket the ranges are
    # disjoint because the write streamed a sorted partition
    for b, fs in m.files.items():
        spans = sorted(tuple(m.file_stats[p]["lsn"][:2]) for p in fs)
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert lo1 <= hi1 < lo2
    # a narrow range read keeps ~1 file per bucket, skips the rest
    kept, skipped = t.plan_files([("lsn", ">=", 100), ("lsn", "<=", 105)])
    assert len(kept) <= 4 and len(skipped) >= n_files - 4
    got = sorted(r.lsn for r in t.read(filters=[("lsn", ">=", 100), ("lsn", "<=", 105)]).collect())
    assert got == list(range(100, 106))
    # state unchanged by the rewrite
    assert t.read().count() == 200


def test_lookup_pushes_key_literals_and_skips_files(spark, tmp_path):
    """lookup() pushes the requested key values as IN literals: the
    parquet scan gets PushedFilters (row-group pruning) and, with
    manifest stats on a key column + sorted compaction, whole files
    are skipped for a point read."""
    import io
    from contextlib import redirect_stdout

    root = str(tmp_path / "t_lookup_push")
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2, stats_cols=["repo"]
    )
    rows = [(f"r{i:03d}", f"p{i:03d}", i + 1, f"c{i}") for i in range(200)]
    merge_into(t, _upserts(spark, rows)).commit()
    t.compact(target_file_rows=16, sort_cols=["repo", "path"])

    df = t.lookup([("r007", "p007"), ("r150", "p150")])
    got = {(r.repo, r.path, r.content) for r in df.collect()}
    assert got == {("r007", "p007", "c7"), ("r150", "p150", "c150")}

    # the scan carries the literal In predicates
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "r007" in plan and "p150" in plan

    # manifest stats on `repo` skip all but the requested keys' files
    kflt = [("repo", "in", ["r007", "r150"])]
    kept, skipped = t.plan_files(kflt)
    assert 1 <= len(kept) <= 4 and len(skipped) >= 8


def test_mor_key_prefilter_preserves_lww(spark, tmp_path):
    """Key-column conjuncts push into the MoR merge's parquet reads
    (row-group pruning) without changing LWW results: updated keys
    come back at their delta image, tombstoned keys stay absent."""
    root = str(tmp_path / "t_mor_pref")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    rows = [(f"r{i}", f"p{i}", i + 1, f"c{i}") for i in range(50)]
    merge_into(t, _upserts(spark, rows)).commit()
    upd = spark.createDataFrame(
        [("r3", "p3", "U", 100, "new3"), ("r7", "p7", "D", 101, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd, strategy="mor").commit()
    assert t.manifest().delta_files  # deltas pending — prefilter path live

    got = {
        (r.repo, r.path): (r.lsn, r.content)
        for r in t.read(filters=[("repo", "in", ["r3", "r7", "r9"])]).collect()
    }
    assert got == {("r3", "p3"): (100, "new3"), ("r9", "p9"): (10, "c9")}
    # equivalence with the unfiltered merged read + post-filter
    want = {
        (r.repo, r.path): (r.lsn, r.content)
        for r in t.read().filter("repo in ('r3','r7','r9')").collect()
    }
    assert got == want


def test_files_metadata_table(spark, tmp_path):
    """files_df(): one row per live file with bucket/kind/seq and the
    harvested stats, matching the manifest exactly; time-travel-aware."""
    import json as _json

    root = str(tmp_path / "t_files_md")
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2, stats_cols=["lsn"]
    )
    merge_into(t, _upserts(spark, [(f"r{i}", f"p{i}", i + 1, "x") for i in range(20)])).commit()
    upd = spark.createDataFrame(
        [("r1", "p1", "U", 99, "y")],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd, strategy="mor").commit()

    fd = t.files_df().collect()
    m = t.manifest()
    base = [r for r in fd if r.kind == "base"]
    delta = [r for r in fd if r.kind == "delta"]
    assert sorted(r.path for r in base) == sorted(p for fs in m.files.values() for p in fs)
    assert sorted(r.path for r in delta) == sorted(p for fs in m.delta_files.values() for p in fs)
    assert all(r.seq == 1 for r in delta) and all(r.seq is None for r in base)
    for r in base:
        st = _json.loads(r.stats_json)
        assert st == m.file_stats[r.path]
    # time travel: the pre-MoR snapshot has no delta rows
    assert all(r.kind == "base" for r in t.files_df(version=1).collect())


def test_commit_rebase_concurrent_writers(spark, tmp_path):
    """Optimistic concurrency with rebase (Iceberg commit retry):
    concurrent merges rewriting DISJOINT buckets both land; a genuine
    bucket overlap, a concurrent rebucket, and an incompatible schema
    still conflict; concurrent additive schemas union."""
    root = str(tmp_path / "t_rebase")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=16)
    rows = [(f"r{i}", f"p{i}", i + 1, f"c{i}") for i in range(100)]
    merge_into(t, _upserts(spark, rows)).commit()

    # find two keys living in different buckets
    kb = {
        (r.repo, r.path): r.b
        for r in t.read()
        .select("repo", "path", t.bucket_expr().alias("b"))
        .collect()
    }
    items = list(kb.items())
    (k1, b1) = items[0]
    (k2, b2) = next((k, b) for k, b in items[1:] if b != b1)
    assert b1 != b2

    p1 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 500, "w1")]))
    p2 = merge_into(t, _upserts(spark, [(k2[0], k2[1], 501, "w2")]))
    p1.commit()
    with pytest.raises(CommitConflictError):
        p2.commit()  # plain commit still conflicts
    assert p2.commit(rebase=True) == t.current_version()
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got[k1] == "w1" and got[k2] == "w2" and len(got) == 100

    # overlap: two writers to the SAME key's bucket -> rebase refuses
    p3 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 600, "w3")]))
    p4 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 601, "w4")]))
    p3.commit()
    with pytest.raises(CommitConflictError):
        p4.commit(rebase=True)

    # concurrent ADDITIVE schema: the rebased commit unions columns
    ev = spark.createDataFrame(
        [(k2[0], k2[1], "U", 700, "w5", "note")],
        "repo string, path string, op string, lsn long, content string, note string",
    )
    p5 = merge_into(t, ev)
    p6 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 701, "w6")]))
    p5.commit()
    p6.commit(rebase=True)
    got = {(r.repo, r.path): (r.content, r.note) for r in t.read().collect()}
    assert got[k2] == ("w5", "note") and got[k1] == ("w6", None)

    # concurrent rebucket invalidates the bucket assignment
    p7 = merge_into(t, _upserts(spark, [(k2[0], k2[1], 800, "w7")]))
    t.rebucket(8)
    with pytest.raises(CommitConflictError):
        p7.commit(rebase=True)

    # MoR delta appends rebase over any non-rebucket concurrent commit,
    # even to the same bucket (deltas are computed from the batch alone)
    p8 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 900, "m1")]), strategy="mor")
    p9 = merge_into(t, _upserts(spark, [(k1[0], k1[1], 901, "m2")]), strategy="mor")
    p8.commit()
    p9.commit(rebase=True)
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got[k1] == "m2"  # later apply sequence wins


def test_zorder_compaction_serves_both_dimensions(spark, tmp_path):
    """compact(zorder_cols=[x, y]): files cluster in BOTH dimensions,
    so a narrow range on either column alone skips most files — which
    a lexicographic sort by (x, y) cannot do for y."""
    xy_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    grid = 64  # 4096 points on a 64x64 grid
    rows = [(i, i % grid, i // grid) for i in range(grid * grid)]

    def build(root, **compact_kw):
        t = LakeTable.create(
            spark, root, xy_schema, ["k"], num_buckets=1, stats_cols=["x", "y"]
        )
        df = spark.createDataFrame(rows, xy_schema).withColumn("op", F.lit("U"))
        merge_into(t, df).commit()
        t.compact(target_file_rows=256, **compact_kw)  # 16 files
        return t

    tz = build(str(tmp_path / "tz"), zorder_cols=["x", "y"])
    tl = build(str(tmp_path / "tl"), sort_cols=["x", "y"])

    def frac_kept(t, col):
        flt = [(col, ">=", 30), (col, "<", 34)]
        kept, skipped = t.plan_files(flt)
        got = sorted((r.x, r.y) for r in t.read(filters=flt).collect())
        want = sorted((x, y) for _, x, y in rows if 30 <= (x if col == "x" else y) < 34)
        assert got == want  # pruning never changes the answer
        return len(kept) / (len(kept) + len(skipped))

    # z-order prunes on BOTH dims; lexicographic only on the leading one
    assert frac_kept(tz, "x") <= 0.5 and frac_kept(tz, "y") <= 0.5
    assert frac_kept(tl, "y") == 1.0  # trailing dim: no file skipped
    assert frac_kept(tl, "x") <= 0.5

    # validation
    with pytest.raises(ValueError):
        tz.compact(zorder_cols=["x"])
    with pytest.raises(ValueError):
        tz.compact(zorder_cols=["x", "y"], sort_cols=["x"])
    t2 = LakeTable.create(
        spark, str(tmp_path / "tstr"), SCHEMA, ["repo", "path"], num_buckets=1
    )
    merge_into(t2, _upserts(spark, [("r", "p", 1, "c")])).commit()
    with pytest.raises(ValueError):
        t2.compact(zorder_cols=["repo", "path"])  # strings rejected


def test_concurrent_commit_threads_all_land(spark, tmp_path):
    """The commit pointer swap is a true compare-and-swap (per-root
    lock around check+rename): concurrent in-process writers with
    rebase all land, none is silently lost, and versions are a clean
    linear history."""
    import threading

    root = str(tmp_path / "t_threads")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=64)
    merge_into(t, _upserts(spark, [("seed", "seed", 1, "s")])).commit()
    v0 = t.current_version()

    n = 8
    errs = []

    def writer(i):
        try:
            tt = LakeTable.load(spark, root)
            p = merge_into(
                tt,
                _upserts(spark, [(f"w{i}", f"f{i}", 10 + i, f"v{i}")]),
                strategy="mor",  # delta appends rebase over anything
            )
            p.commit(rebase=True, max_retries=n + 2)
        except Exception as e:  # noqa: BLE001
            errs.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert t.current_version() == v0 + n  # linear history, no lost update
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("seed", "seed"): "s", **{(f"w{i}", f"f{i}"): f"v{i}" for i in range(n)}}
    # every intermediate snapshot is a valid manifest (loser attempts
    # never leaked a manifest file)
    assert t.versions() == list(range(v0 + n + 1))


def test_tags_pin_snapshots_across_retention(spark, tmp_path):
    """Named refs (Iceberg tags): resolve as AS-OF targets on every
    read surface, pin their snapshot against expire_snapshots, and
    keep its data files alive across vacuum until dropped."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x")])).commit()       # v1
    t.tag("baseline")                                                    # -> v1
    merge_into(t, _upserts(spark, [("r1", "a", 2, "y")])).commit()       # v2
    merge_into(t, _upserts(spark, [("r2", "b", 3, "z")])).commit()       # v3

    assert t.refs() == {"baseline": 1}
    assert {r.content for r in t.read(version="baseline").collect()} == {"x"}
    assert set(t.changes("baseline", 3).toPandas()["content"]) == {"y", "z"}
    with pytest.raises(KeyError):
        t.read(version="nope")
    with pytest.raises(ValueError):
        t.tag("bad", version=99)

    # expire keeps the tagged v1 even though keep_last=1 would drop it
    expired = t.expire_snapshots(keep_last=1)
    assert 1 not in expired and t.manifest(1).version == 1
    t.vacuum()
    assert {r.content for r in t.read(version="baseline").collect()} == {"x"}

    # dropping the tag releases it to the next retention cycle
    t.drop_tag("baseline")
    assert t.refs() == {}
    assert 1 in t.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError):
        t.drop_tag("baseline")


def test_rollback_restores_state_and_watermark(spark, tmp_path):
    """rollback commits a NEW snapshot equal to the target: content,
    schema, and the last_epoch watermark all revert; history stays
    time-travelable; the rollback itself is a CAS commit."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit(
        summary={"last_epoch": 0}
    )                                                                    # v1
    t.tag("epoch0")
    upd = spark.createDataFrame(
        [("r1", "a", "U", 3, "x2"), ("r2", "b", "D", 4, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd).commit(summary={"last_epoch": 1})                 # v2
    assert {(r.repo, r.content) for r in t.read().collect()} == {("r1", "x2")}

    v = t.rollback("epoch0")                                             # v3 == v1 content
    assert v == 3 and t.current_version() == 3
    assert t.last_epoch == 0  # watermark reverted -> replay re-consumes epoch 1
    assert t.manifest().summary["rollback_of"] == 1
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r1", "a"): "x", ("r2", "b"): "y"}
    # rolled-past snapshot still time-travelable
    assert {r.content for r in t.read(version=2).collect()} == {"x2"}
    # no-op rollback rejected
    with pytest.raises(ValueError):
        t.rollback(3)

    # re-applying epoch 1 on the rolled-back table converges
    merge_into(t, upd).commit(summary={"last_epoch": 1})                 # v4
    assert {(r.repo, r.content) for r in t.read().collect()} == {("r1", "x2")}


def test_wap_stage_audit_publish_fastforward(spark, tmp_path):
    """Write-audit-publish: with wap_id set, a merge commits a STAGED
    snapshot — main serves the old state, the candidate is readable by
    wap id for the audit — and publish fast-forwards the pointer."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x")])).commit()       # v1

    t.wap_id = "audit-7"
    sv = merge_into(t, _upserts(spark, [("r1", "a", 2, "x2"), ("r2", "b", 3, "y")])).commit()
    t.wap_id = None

    # main did not move; the staged candidate is audit-readable
    assert t.current_version() == 1
    assert {r.content for r in t.read().collect()} == {"x"}
    assert t.wap_version("audit-7") == sv
    assert {r.content for r in t.read(version="audit-7").collect()} == {"x2", "y"}
    # staging the same id twice is rejected
    t.wap_id = "audit-7"
    with pytest.raises(ValueError):
        merge_into(t, _upserts(spark, [("r9", "z", 9, "q")])).commit()
    t.wap_id = None

    assert t.publish_wap("audit-7") == sv
    assert t.current_version() == sv
    assert {r.content for r in t.read().collect()} == {"x2", "y"}
    with pytest.raises(KeyError):
        t.wap_version("audit-7")


def test_wap_drop_and_conflict_on_moved_head(spark, tmp_path):
    """A failed audit drops the staged snapshot (vacuum reclaims its
    files); a CoW-staged snapshot cannot publish onto a moved head."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=2)
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x")])).commit()       # v1

    t.wap_id = "bad"
    merge_into(t, _upserts(spark, [("r1", "a", 2, "BAD")])).commit()     # staged v2
    t.wap_id = None
    # staged snapshots survive retention until dropped
    t.expire_snapshots(keep_last=1)
    assert {r.content for r in t.read(version="bad").collect()} == {"BAD"}
    t.drop_wap("bad")
    with pytest.raises(KeyError):
        t.read(version="bad")
    removed = t.vacuum()
    assert removed  # the dropped candidate's files were reclaimed
    assert {r.content for r in t.read().collect()} == {"x"}

    # CoW stage, then main moves: publish must refuse (the staged files
    # bake v1's images and would drop the interleaved commit)
    t.wap_id = "stale"
    merge_into(t, _upserts(spark, [("r1", "a", 3, "x3")])).commit()
    t.wap_id = None
    merge_into(t, _upserts(spark, [("r2", "b", 4, "y")])).commit()
    with pytest.raises(CommitConflictError):
        t.publish_wap("stale")
    t.drop_wap("stale")

    # version numbers allocated around staged snapshots never collide:
    # every live manifest is loadable and distinct
    vs = t.versions()
    assert len(vs) == len(set(vs))
    for v in vs:
        t.manifest(v)


def test_wap_cherry_pick_delta_append_onto_moved_head(spark, tmp_path):
    """A staged MoR delta-append epoch cherry-picks onto a moved head:
    its delta files are re-applied, and an event-order table resolves
    LWW exactly as if the epochs had landed in order."""
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2,
        resolve_order=["lsn"],
    )
    merge_into(t, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit()

    # stage epoch A (lsn 3 on r1/a) as MoR deltas
    t.wap_id = "epochA"
    merge_into(t, _upserts(spark, [("r1", "a", 3, "xA")]), strategy="mor").commit()
    t.wap_id = None
    # head moves: epoch B lands first (lsn 4 on r1/a, plus a delete)
    upd_b = spark.createDataFrame(
        [("r1", "a", "U", 4, "xB"), ("r2", "b", "D", 5, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(t, upd_b, strategy="mor").commit()

    v = t.publish_wap("epochA")
    assert t.current_version() == v
    assert t.manifest().summary["cherry_picked_from"]
    # resolve_order=lsn: epoch B's lsn-4 image wins over the
    # cherry-picked lsn-3 delta despite later apply sequence
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r1", "a"): "xB"}
    with pytest.raises(KeyError):
        t.wap_version("epochA")


@contextlib.contextmanager
def _untouched_buckets_moved_away(t, key, versions, dest):
    """Move every data file of the buckets that do not hold ``key``,
    in every snapshot of ``versions``, to ``dest`` for the duration of
    the block; a diff that reads any of them fails."""
    b = t.spark.createDataFrame([key], "repo string, path string").select(
        t.bucket_expr()
    ).first()[0]
    moved = {}
    for v in versions:
        m = t.manifest(v)
        for bk, fs in list(m.files.items()) + list(m.delta_files.items()):
            if int(bk) != b:
                for p in fs:
                    moved.setdefault(os.path.join(t.root, p), os.path.join(dest, str(len(moved))))
    assert moved
    os.makedirs(dest)
    for src, dst in moved.items():
        os.rename(src, dst)
    try:
        yield
    finally:
        for src, dst in moved.items():
            os.rename(dst, src)


def test_change_feed_bucket_pruned_scan(spark, tmp_path):
    """changes() reads only buckets whose file lists differ between the
    two manifests — an epoch touching one bucket diffs one bucket, not
    the table."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i, f"c{i}") for i in range(64)]
    merge_into(t, _upserts(spark, rows)).commit()                        # v1: all buckets
    merge_into(t, _upserts(spark, [("r3", "p3", 100, "NEW")])).commit()  # v2: one bucket

    # the diff reads only the changed bucket's files: with every other
    # bucket's files gone from both snapshots it still finds the row
    with _untouched_buckets_moved_away(t, ("r3", "p3"), [1, 2], str(tmp_path / "away")):
        cdf = t.changes(1, 2)
        got = [(r.repo, r.path, r.lsn, r.content, r._change_type) for r in cdf.collect()]
    assert got == [("r3", "p3", 100, "NEW", "update")]

    # a no-change diff is empty
    assert t.changes(2, 2).count() == 0


def test_change_feed_pruned_across_compaction(spark, tmp_path):
    """A layout-only compact() inside the diff window must not force a
    full-table diff: the pruning walks the parent chain and skips
    operation='compact' commits, so the feed still reads only the
    buckets DATA commits touched (without the marker, compaction
    rewrites every file list and the next incremental sync of a huge
    table would re-read the world to find zero changes)."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i, f"c{i}") for i in range(64)]
    merge_into(t, _upserts(spark, rows)).commit()                        # v1
    merge_into(t, _upserts(spark, rows)).commit()                        # v2: same rows again
    t.compact(target_file_rows=4)                                        # v3: layout only
    assert t.manifest().operation == "compact"
    merge_into(t, _upserts(spark, [("r3", "p3", 100, "NEW")])).commit()  # v4: one bucket

    # only the data commit's bucket is read: the other buckets' files,
    # which the compaction rewrote, are gone from v2 and v4 alike
    assert len({p for fs in t.manifest(4).files.values() for p in fs}) > 10
    with _untouched_buckets_moved_away(t, ("r3", "p3"), [2, 4], str(tmp_path / "away")):
        cdf = t.changes(2, 4)
        got = [(r.repo, r.path, r.lsn, r.content, r._change_type) for r in cdf.collect()]
    assert got == [("r3", "p3", 100, "NEW", "update")]
    # a window that contains ONLY the compaction diffs nothing at all
    assert t.changes(2, 3).count() == 0

    # replication across a maintenance window stays O(changes)
    from datax_spark.lake.replicate import sync

    rep_root = str(tmp_path / "rep")
    sync(t, rep_root, to_version=2)
    r = sync(t, rep_root)
    assert r.mode == "incremental"
    assert {(x.repo, x.path, x.lsn) for x in LakeTable.load(spark, rep_root).read().collect()} == {
        (x.repo, x.path, x.lsn) for x in t.read().collect()
    }

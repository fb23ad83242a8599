"""lake_changes streaming source + streaming replication: the stream
must emit exactly the batch change feed per commit (CoW and MoR
commits alike), resume from its checkpoint, ride through rebucket
commits as heartbeats (refusing only an UNMARKED layout change), and
drive an exactly-once replica through stream_sync."""

import os

import pyspark.sql.functions as F
import pytest

from datax_spark.lake import LakeTable, apply_change_batch, merge_into, stream_sync
from datax_spark.lake.replicate import REPLICA_WATERMARK
from datax_spark.streaming.change_source import stream_changes
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)

DDL = "repo string, path string, op string, lsn long, content string"


def _drain(stream_df, ckpt):
    """Run one availableNow pass, return the collected rows."""
    sink = []
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: sink.append(df.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)
    return [r for rows in sink for r in rows]


def _key_rows(rows):
    return {
        (r.repo, r.path, r.lsn, r.content, r._change_type)
        if hasattr(r, "_change_type")
        else (r.repo, r.path, r.lsn, r.content)
        for r in rows
    }


def _mk_source(spark, root):
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=8)
    ups = lambda rows: spark.createDataFrame(rows, DDL)  # noqa: E731
    merge_into(t, ups([("r1", "a", "U", 1, "x"), ("r2", "b", "U", 2, "y"),
                       ("r3", "c", "U", 3, "z")])).commit()
    merge_into(t, ups([("r1", "a", "U", 4, "x2"), ("r2", "b", "D", 5, None)])).commit()
    # a merge-on-read commit must flow through the same feed
    merge_into(t, ups([("r4", "d", "U", 6, "w"), ("r3", "c", "D", 7, None)]),
               strategy="mor").commit()
    return t


def test_stream_equals_batch_changes_per_commit(spark, tmp_path):
    t = _mk_source(spark, str(tmp_path / "src"))
    got = _drain(
        stream_changes(spark, t.root, starting_version=1), str(tmp_path / "ck")
    )
    assert got, "stream produced no rows"
    by_commit = {}
    for r in got:
        by_commit.setdefault(r._commit_version, []).append(r)
    assert sorted(by_commit) == [1, 2, 3]
    for v, rows in by_commit.items():
        batch = t.changes(v - 1, v).collect()
        assert _key_rows(rows) == _key_rows(batch), f"commit v{v} diverges"


def test_checkpoint_resume_tails_new_commits(spark, tmp_path):
    t = _mk_source(spark, str(tmp_path / "src"))
    ck = str(tmp_path / "ck")
    cdf = stream_changes(spark, t.root, starting_version=1)
    first = _drain(cdf, ck)
    assert {r._commit_version for r in first} == {1, 2, 3}

    merge_into(
        t, spark.createDataFrame([("r1", "a", "U", 8, "x3")], DDL)
    ).commit()
    second = _drain(cdf, ck)
    assert [(r.repo, r._change_type, r._commit_version) for r in second] == [
        ("r1", "update", 4)
    ]
    # nothing new: an availableNow pass emits nothing
    assert _drain(cdf, ck) == []


def test_default_start_only_tails(spark, tmp_path):
    t = _mk_source(spark, str(tmp_path / "src"))
    cdf = stream_changes(spark, t.root)  # no startingVersion
    ck = str(tmp_path / "ck")
    assert _drain(cdf, ck) == []
    merge_into(
        t, spark.createDataFrame([("r9", "q", "U", 9, "n")], DDL)
    ).commit()
    got = _drain(cdf, ck)
    assert _key_rows(got) == {("r9", "q", 9, "n", "insert")}


def test_start_from_tag(spark, tmp_path):
    """startingVersion/sinceVersion accept a TAG name. The durable
    consumer pattern is a tag pinned at the consumer's POSITION +
    sinceVersion=tag: the resume then needs only the pinned manifest
    and the head, so it survives expire_snapshots retiring everything
    in between."""
    t = _mk_source(spark, str(tmp_path / "src"))

    # inclusive anchor (full history still present)
    got = _drain(
        stream_changes(spark, t.root, starting_version=1),
        str(tmp_path / "ck0"),
    )
    assert {r._commit_version for r in got} == {1, 2, 3}

    t.tag("consumer-pos", 2)
    t.expire_snapshots(keep_last=1)  # v1 retired; v2 pinned by the tag
    got = _drain(
        stream_changes(spark, t.root, since_version="consumer-pos"),
        str(tmp_path / "ck"),
    )
    assert {r._commit_version for r in got} == {3}
    assert _key_rows(got) == _key_rows(t.changes(2, 3).collect())

    with pytest.raises(Exception, match="neither a version number nor a tag"):
        _drain(
            stream_changes(spark, t.root, since_version="no-such-tag"),
            str(tmp_path / "ck2"),
        )


def test_rebucket_streams_as_heartbeat(spark, tmp_path):
    """A rebucket commit is provably layout-only (it rewrites from the
    table's own read), so the feed rides THROUGH it — zero change rows
    for the rebucket itself, and data commits on either side stream
    correctly under their own layouts. This is what lets a consumer
    follow a table through the engine's adaptive bucket growth without
    restart."""
    t = _mk_source(spark, str(tmp_path / "src"))
    cdf = stream_changes(spark, t.root, starting_version=1)
    rb_v = t.rebucket(16)
    ups = lambda rows: spark.createDataFrame(rows, DDL)  # noqa: E731
    merge_into(t, ups([("r5", "e", "U", 8, "v"), ("r1", "a", "U", 9, "x3")])).commit()
    got = _drain(cdf, str(tmp_path / "ck"))
    by_commit = {}
    for r in got:
        by_commit.setdefault(r._commit_version, []).append(r)
    # pre-rebucket commits stream, the rebucket contributes nothing,
    # the post-rebucket data commit streams under the new layout
    assert sorted(by_commit) == [1, 2, 3, rb_v + 1]
    assert rb_v not in by_commit
    assert _key_rows(by_commit[rb_v + 1]) == {
        ("r5", "e", 8, "v", "insert"),
        ("r1", "a", 9, "x3", "update"),
    }
    for v, rows in by_commit.items():
        batch = t.changes(v - 1, v).collect()
        assert _key_rows(rows) == _key_rows(batch), f"commit v{v} diverges"


def test_unmarked_bucket_layout_change_refused(spark, tmp_path):
    """Only a MARKED rebucket is layout-only by proof; a data commit
    whose bucket count silently differs from its parent's (hand-rolled
    metadata, never produced by this engine) must refuse to diff."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datax_spark.lake.table import Manifest

    t = _mk_source(spark, str(tmp_path / "src"))
    cdf = stream_changes(spark, t.root, starting_version=1)
    m = t.manifest()
    forged = Manifest.from_json(m.to_json())
    forged.version = m.version + 1
    forged.parent = m.version
    forged.num_buckets = m.num_buckets * 2
    forged.operation = ""
    mdir = os.path.join(t.root, "_manifests")
    with open(os.path.join(mdir, f"v{forged.version:08d}.json"), "w") as fh:
        fh.write(forged.to_json())
    with open(os.path.join(mdir, "_current"), "w") as fh:
        fh.write(str(forged.version))
    q = (
        cdf.writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    with pytest.raises(StreamingQueryException, match="without a rebucket marker"):
        q.awaitTermination(180)


def test_stream_sync_replicates_and_resumes(spark, tmp_path):
    src = _mk_source(spark, str(tmp_path / "src"))
    rep_root = str(tmp_path / "rep")
    ck = str(tmp_path / "ck")

    q = stream_sync(src, rep_root, ck)
    q.awaitTermination(180)
    rep = LakeTable.load(spark, rep_root)
    assert int(rep.manifest().summary[REPLICA_WATERMARK]) == src.current_version()
    assert _key_rows(rep.read().collect()) == _key_rows(src.read().collect())

    # new commits on the source: same checkpoint catches up, including
    # an insert-then-delete collapse inside one micro-batch
    merge_into(
        src, spark.createDataFrame([("r5", "e", "U", 10, "v")], DDL)
    ).commit()
    merge_into(
        src, spark.createDataFrame([("r5", "e", "D", 11, None)], DDL)
    ).commit()
    v_before = rep.current_version()
    q = stream_sync(src, rep_root, ck)
    q.awaitTermination(180)
    rep = LakeTable.load(spark, rep_root)
    assert rep.current_version() > v_before
    assert int(rep.manifest().summary[REPLICA_WATERMARK]) == src.current_version()
    assert _key_rows(rep.read().collect()) == _key_rows(src.read().collect())
    assert "r5" not in {r.repo for r in rep.read().collect()}


def test_apply_change_batch_is_exactly_once(spark, tmp_path):
    src = _mk_source(spark, str(tmp_path / "src"))
    rep_root = str(tmp_path / "rep")
    q = stream_sync(src, rep_root, str(tmp_path / "ck"))
    q.awaitTermination(180)
    rep = LakeTable.load(spark, rep_root)

    # replay the whole historical feed at the replica: pure no-op
    batch = src.changes(0, src.current_version()).withColumn(
        "_commit_version", F.lit(src.current_version())
    )
    v = rep.current_version()
    assert apply_change_batch(rep, batch) is None
    assert rep.current_version() == v


def test_checkpoint_loss_does_not_skip_or_double_apply(spark, tmp_path):
    src = _mk_source(spark, str(tmp_path / "src"))
    rep_root = str(tmp_path / "rep")
    q = stream_sync(src, rep_root, str(tmp_path / "ck1"))
    q.awaitTermination(180)
    merge_into(
        src, spark.createDataFrame([("r6", "f", "U", 12, "m")], DDL)
    ).commit()
    # brand-new checkpoint: sinceVersion = replica watermark, so the
    # missed commit still flows and already-applied ones do not
    q = stream_sync(src, rep_root, str(tmp_path / "ck2"))
    q.awaitTermination(180)
    rep = LakeTable.load(spark, rep_root)
    assert _key_rows(rep.read().collect()) == _key_rows(src.read().collect())
    assert int(rep.manifest().summary[REPLICA_WATERMARK]) == src.current_version()


def test_schema_evolution_visible_after_stream_restart(spark, tmp_path):
    """The stream's schema is fixed at start (Spark's source
    contract); a column added by additive evolution appears when the
    stream is RESTARTED on the same checkpoint — Delta semantics.
    Rows from pre-evolution commits come back null-filled for it."""
    t = _mk_source(spark, str(tmp_path / "src"))
    ck = str(tmp_path / "ck")
    _drain(stream_changes(spark, t.root, starting_version=1), ck)

    evolved = spark.createDataFrame(
        [("r1", "a", "U", 20, "x4", "py-v2"), ("r9", "z", "U", 21, "q", None)],
        DDL + ", lang_variant string",
    )
    merge_into(t, evolved).commit()
    got = _drain(stream_changes(spark, t.root, starting_version=1), ck)
    assert "lang_variant" in got[0].asDict()
    by_key = {(r.repo, r.path): r for r in got}
    assert by_key[("r1", "a")].lang_variant == "py-v2"
    assert by_key[("r1", "a")]._change_type == "update"
    assert by_key[("r9", "z")]._change_type == "insert"


def test_compaction_commit_emits_no_changes(spark, tmp_path):
    """A compact() commit is layout-only: the stream advances past it
    WITHOUT diffing (operation marker → heartbeat partition), so a
    full-table compaction costs the feed nothing."""
    from datax_spark.streaming.change_source import LakeChangesStreamReader

    t = _mk_source(spark, str(tmp_path / "src"))
    ck = str(tmp_path / "ck")
    cdf = stream_changes(spark, t.root)
    assert _drain(cdf, ck) == []
    v0 = t.current_version()
    t.compact()  # rewrites files, content identical
    assert t.manifest().operation == "compact"

    r = LakeChangesStreamReader({"path": t.root})
    parts = r.partitions({"version": v0}, {"version": t.current_version()})
    assert [p.bucket for p in parts] == [None]  # heartbeat, no bucket reads
    assert _drain(cdf, ck) == []

    # and a data commit AFTER the compaction still flows
    merge_into(
        t, spark.createDataFrame([("rc", "p", "U", 30, "cc")], DDL)
    ).commit()
    got = _drain(cdf, ck)
    assert _key_rows(got) == {("rc", "p", 30, "cc", "insert")}

def test_binary_and_float_array_payloads_report_updates(spark, tmp_path):
    """A non-UTF-8 binary column and an array<float> column: the batch
    feed and the lake_changes stream both report an update to either."""
    ddl = "k string, b binary, f array<float>"
    t = LakeTable.create(
        spark, str(tmp_path / "src"), spark.createDataFrame([], ddl).schema,
        ["k"], num_buckets=4,
    )

    def apply(rows):
        df = spark.createDataFrame(rows, ddl).withColumn("op", F.lit("U"))
        merge_into(t, df).commit()

    apply([("a", bytearray(b"\xff\x00"), [1.5]), ("b", bytearray(b"\x00"), [None, 2.0]),
           ("c", bytearray(b"\xfe"), [0.5])])
    apply([("a", bytearray(b"\xff\x01"), [1.5]), ("b", bytearray(b"\x00"), [2.0, None]),
           ("c", bytearray(b"\xfe"), [0.5])])

    def rows(rs):
        return {(r.k, bytes(r.b), tuple(r.f), r._change_type) for r in rs}

    want = {
        ("a", b"\xff\x01", (1.5,), "update"),
        ("b", b"\x00", (2.0, None), "update"),
    }
    assert rows(t.changes(1, 2).collect()) == want
    got = _drain(stream_changes(spark, t.root, starting_version=2), str(tmp_path / "ck"))
    assert rows(got) == want

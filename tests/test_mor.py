"""Merge-on-read (merge_strategy='mor') — the Iceberg v2
equality-delete write shape: epochs append O(batch) delta files with
tombstones, readers resolve base ⊕ deltas with bucket-local LWW, and
compaction folds deltas into fresh base files. Verified against the
same sequential-apply oracle as the CoW plans, plus the MoR-specific
surfaces: compaction cadence, crash replay, CDF across delta
snapshots, vacuum retention, and the strategy guards."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from datax_spark.engine import ReplayConfig, ReplayCrash, ReplayEngine
from datax_spark.engine.metrics import read_metrics
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=12_000,
    n_repos=40,
    paths_per_repo=90,
    events_per_epoch=3_000,
    evolve_from_epoch=2,
    seed=23,
)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_ev") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].reset_index(drop=True)


def _mk(spark, events_root, tmp_path, name, **cfg_kw):
    cfg = ReplayConfig(num_buckets=16, merge_strategy="mor", **cfg_kw)
    return ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"table_{name}"),
        str(tmp_path / f"metrics_{name}"),
        cfg,
    )


def _state(eng):
    df = eng.table().read().withColumn("h", F.sha2("content", 256))
    for c in COLS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return (
        df.select(*COLS).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )


def _assert_match(eng, expected):
    pd.testing.assert_frame_equal(
        _state(eng).fillna("∅"), expected.fillna("∅"), check_dtype=False
    )


def test_mor_replay_matches_oracle(spark, events_root, expected, tmp_path):
    """Pure MoR replay (no compaction): the final MERGED view equals
    the sequential-apply oracle through deletes and mid-stream schema
    evolution, while every base file written by epoch 0 is still
    byte-identical on disk (later epochs never rewrote it)."""
    eng = _mk(spark, events_root, tmp_path, "plain")
    results = eng.run()
    assert [r.epoch for r in results] == [0, 1, 2, 3]
    _assert_match(eng, expected)

    m = eng.table().manifest()
    # epochs 1-3 landed as deltas: nothing but epoch 0 produced base files
    assert m.delta_files, "expected pending delta files"
    assert sum(len(v) for v in m.delta_files.values()) > 0
    # lineage metrics ride the fused MoR job exactly as on spj
    met = read_metrics(spark, eng.metrics_root)
    assert met.agg(F.sum("n_events")).collect()[0][0] == SPEC.n_events


def test_mor_compaction_cadence_and_equivalence(spark, events_root, expected, tmp_path):
    """compact_every=2 folds deltas after epochs 1 and 3; the final
    table is delta-free, equal to the oracle, and per-bucket row
    counts are IDENTICAL to the spj CoW run of the same log."""
    eng = _mk(spark, events_root, tmp_path, "cadence", compact_every=2)
    eng.run()
    m = eng.table().manifest()
    assert not m.delta_files, f"cadence left deltas: {m.delta_files}"
    _assert_match(eng, expected)

    spj = ReplayEngine(
        spark,
        events_root,
        str(tmp_path / "table_spj"),
        str(tmp_path / "metrics_spj"),
        ReplayConfig(num_buckets=16, merge_strategy="spj"),
    )
    spj.run()
    assert eng.table().manifest().row_counts == spj.table().manifest().row_counts


@pytest.mark.parametrize("failpoint", ["after_dedup", "after_write", "after_commit"])
def test_mor_crash_replay_exactly_once(spark, events_root, expected, tmp_path, failpoint):
    eng = _mk(spark, events_root, tmp_path, f"crash_{failpoint}")
    eng.run(through_epoch=1)
    with pytest.raises(ReplayCrash):
        eng.apply_epoch(2, failpoints=[failpoint])
    eng.run()  # restart from checkpoint; must converge
    _assert_match(eng, expected)
    eng.table().vacuum()  # vacuum must keep live delta files
    _assert_match(eng, expected)


def test_mor_change_feed_across_delta_snapshots(spark, events_root, tmp_path):
    """LakeTable.changes works when either endpoint is a delta-bearing
    snapshot: the CDF of a MoR run equals the CDF of an spj run over
    the same epochs (both read the MERGED views)."""
    mor = _mk(spark, events_root, tmp_path, "cdf")
    mor.run()
    spj = ReplayEngine(
        spark,
        events_root,
        str(tmp_path / "table_cdf_spj"),
        str(tmp_path / "metrics_cdf_spj"),
        ReplayConfig(num_buckets=16, merge_strategy="spj"),
    )
    spj.run()

    def cdf(eng):
        # create = v0, epochs 0..3 commit v1..v4: diff epochs 2-3
        ch = eng.table().changes(2, 4)
        return (
            ch.withColumn("h", F.sha2("content", 256))
            .select("repo", "path", "h", "_change_type")
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(
        cdf(mor).fillna("∅"), cdf(spj).fillna("∅"), check_dtype=False
    )


def test_mor_time_travel_reads_delta_snapshot(spark, events_root, tmp_path):
    """Reading an OLD delta-bearing version merges exactly the deltas
    that version referenced — later appends are invisible."""
    eng = _mk(spark, events_root, tmp_path, "tt")
    eng.run(through_epoch=1)
    v_after_1 = eng.table().current_version()
    frozen = (
        eng.table().read(version=v_after_1)
        .withColumn("h", F.sha2("content", 256))
        .select("repo", "path", "h")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    eng.run()  # apply epochs 2-3 on top
    again = (
        eng.table().read(version=v_after_1)
        .withColumn("h", F.sha2("content", 256))
        .select("repo", "path", "h")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(frozen, again)


def test_strategy_guards(spark, tmp_path):
    """mor refuses order_cols (the guard needs a base read); spj on a
    delta-bearing table merges into the bucket's MERGED state (base ⊕
    deltas) and its commit clears the replaced buckets' deltas."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("content", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "guards"), schema, key_cols=["repo", "path"], num_buckets=4
    )
    df = spark.createDataFrame(
        [("r1", "a", "c1", 1, "A", "U")],
        "repo string, path string, commit string, lsn long, content string, op string",
    )
    with pytest.raises(ValueError, match="order_cols"):
        merge_into(t, df, strategy="mor", order_cols=["commit", "lsn"])
    merge_into(t, df, strategy="mor").commit()
    assert t.manifest().delta_files
    # r1/a lives ONLY in a delta file; r1/b joins it as a second delta
    merge_into(
        t,
        spark.createDataFrame(
            [("r1", "b", "c1", 2, "B", "U")],
            "repo string, path string, commit string, lsn long, content string, op string",
        ),
        strategy="mor",
    ).commit()
    df2 = spark.createDataFrame(
        [("r1", "a", "c2", 3, "A2", "U"), ("r2", "z", "c2", 4, "Z", "U")],
        "repo string, path string, commit string, lsn long, content string, op string",
    )
    pm = merge_into(t, df2, strategy="spj")
    pm.commit()
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r1", "a"): "A2", ("r1", "b"): "B", ("r2", "z"): "Z"}
    m = t.manifest()
    # the merged buckets carry no deltas any more
    assert not set(m.delta_files) & {str(b) for b in pm.replaced_buckets}
    t.compact()
    assert {(r.repo, r.path): r.content for r in t.read().collect()} == got


def test_unknown_strategies_rejected(spark, tmp_path):
    """Only 'spj' and 'mor' exist: the engine config refuses anything
    else at construction (before any dedup runs), and so does every
    merge entry point."""
    for bad in ("shuffle", "spj_staged", "SPJ"):
        with pytest.raises(ValueError, match="'spj'.*'mor'"):
            ReplayConfig(merge_strategy=bad)
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([], "repo string, path string, lsn long").schema,
        key_cols=["repo", "path"], num_buckets=2,
    )
    df = spark.createDataFrame(
        [("r1", "a", 1, "U")], "repo string, path string, lsn long, op string"
    )
    with pytest.raises(ValueError, match="'spj'.*'mor'"):
        merge_into(t, df, strategy="shuffle")
    with pytest.raises(ValueError, match="'spj'.*'mor'"):
        t.delete_where(condition="lsn > 0", strategy="shuffle")
    assert t.current_version() == 0 and t.read().count() == 0


def test_lookup_point_read(spark, tmp_path):
    """LakeTable.lookup: bucket-pruned point read returns exactly the
    requested keys, sees pending MoR deltas (updated image, tombstoned
    key absent), and respects time travel."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("content", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "pl"), schema, key_cols=["repo", "path"], num_buckets=8
    )
    ddl = "repo string, path string, commit string, lsn long, content string, op string"
    merge_into(
        t,
        spark.createDataFrame(
            [
                ("r1", "a", "c1", 1, "A1", "U"),
                ("r1", "b", "c1", 2, "B1", "U"),
                ("r2", "a", "c1", 3, "X1", "U"),
            ],
            ddl,
        ),
        strategy="mor",
    ).commit()
    v1 = t.current_version()
    merge_into(
        t,
        spark.createDataFrame(
            [("r1", "a", "c2", 4, "A2", "U"), ("r1", "b", "c2", 5, None, "D")], ddl
        ),
        strategy="mor",
    ).commit()

    got = {
        (r.repo, r.path): r.content
        for r in t.lookup([("r1", "a"), ("r1", "b"), ("r9", "nope")]).collect()
    }
    assert got == {("r1", "a"): "A2"}  # updated image; tombstoned + missing absent
    # untouched key still served; time travel sees the pre-delete state
    assert t.lookup([("r2", "a")]).collect()[0].content == "X1"
    old = {
        (r.repo, r.path): r.content
        for r in t.lookup([("r1", "a"), ("r1", "b")], version=v1).collect()
    }
    assert old == {("r1", "a"): "A1", ("r1", "b"): "B1"}
    assert t.lookup([]).count() == 0


def test_mor_resolve_order_out_of_order_deltas(spark, tmp_path):
    """A table created with ``resolve_order`` picks winners by EVENT
    order (commit, lsn), not delivery order: a late batch carrying
    older images cannot regress a key, and a retained tombstone
    suppresses even a delete-then-EARLIER-update arrival — the case
    the write-time order-guarded CoW plans document as unsupportable.
    Compaction folds tombstones, which closes that reordering window
    for deleted keys (the compacted-topic retention trade-off) while
    base rows keep their order columns and stay regression-proof."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("content", T.StringType()),
        ]
    )
    with pytest.raises(ValueError, match="resolve_order"):
        LakeTable.create(
            spark, str(tmp_path / "bad"), schema,
            key_cols=["repo", "path"], resolve_order=["nope"],
        )
    t = LakeTable.create(
        spark, str(tmp_path / "ooo"), schema,
        key_cols=["repo", "path"], num_buckets=4,
        resolve_order=["commit", "lsn"],
    )
    assert LakeTable.load(spark, t.root).manifest().resolve_order == ["commit", "lsn"]
    ddl = "repo string, path string, commit string, lsn long, content string, op string"

    def apply(rows):
        merge_into(t, spark.createDataFrame(rows, ddl), strategy="mor").commit()

    def state():
        return {(r.repo, r.path): r.content for r in t.read().collect()}

    # delivery batch 1 carries the NEWER events: a=c2, delete b at c3
    apply([("r1", "a", "c2", 2, "A2", "U"), ("r1", "b", "c3", 3, None, "D")])
    # delivery batch 2 arrives late with OLDER events for both keys
    apply([("r1", "a", "c1", 1, "A-old", "U"), ("r1", "b", "c2", 2, "B-old", "U")])
    assert state() == {("r1", "a"): "A2"}  # no regression, delete holds
    # lookup goes through the same merged read
    assert t.lookup([("r1", "a")]).collect()[0].content == "A2"
    # an update genuinely newer than the tombstone resurrects the key
    apply([("r1", "b", "c4", 4, "B4", "U")])
    assert state() == {("r1", "a"): "A2", ("r1", "b"): "B4"}

    # compaction folds deltas through the same event-order resolution:
    # visible state unchanged, resolve_order survives on the manifest
    t.compact()
    m = t.manifest()
    assert not m.delta_files and m.resolve_order == ["commit", "lsn"]
    assert state() == {("r1", "a"): "A2", ("r1", "b"): "B4"}

    # base rows keep their order columns: a stale image still loses
    # against the compacted base
    apply([("r1", "a", "c0", 0, "A-ancient", "U")])
    assert state()[("r1", "a")] == "A2"

    # the documented retention window: once a DELETED key's tombstone
    # is folded away by compaction, a sufficiently stale update can
    # resurrect it — bounded-reordering is the price of compaction
    apply([("r1", "b", "c9", 9, None, "D")])
    t.compact()
    apply([("r1", "b", "c1", 1, "B-stale", "U")])
    assert state()[("r1", "b")] == "B-stale"


def test_stream_mor_out_of_order_batch_delivery(spark, tmp_path):
    """StreamReplay with merge_strategy='mor': micro-batches applied in
    the WRONG event order converge to the event-order winner. The
    stream creates the table with resolve_order=order_cols, so the late
    batch's older image and older-than-tombstone update both lose at
    read time — stricter than the CoW cross-batch guard, which cannot
    suppress the delete-then-earlier-update arrival."""
    from datax_spark.engine.replay import ReplayConfig
    from datax_spark.streaming import StreamReplay

    ddl = "repo string, path string, commit string, lsn long, content string, op string"
    cfg = ReplayConfig(num_buckets=4, merge_strategy="mor")
    newer = spark.createDataFrame(
        [("r1", "a", "c2", 2, "A2", "U"), ("r1", "b", "c3", 3, None, "D")], ddl
    )
    older = spark.createDataFrame(
        [("r1", "a", "c1", 1, "A-old", "U"), ("r1", "b", "c2", 2, "B-old", "U")], ddl
    )
    newer.write.parquet(str(tmp_path / "events" / "f1"))
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=cfg, schema=newer.schema,
    )
    sr.run_available_now()
    assert sr.table().manifest().resolve_order == ["commit", "lsn"]

    older.write.parquet(str(tmp_path / "events" / "f2"))
    sr2 = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=cfg, schema=newer.schema,
    )
    sr2.run_available_now()
    assert sr2.applied_batches, "second drain must apply the late batch"
    got = {(r.repo, r.path): r.content for r in sr2.table().read().collect()}
    assert got == {("r1", "a"): "A2"}


def test_mor_tombstone_resurrection_and_compact(spark, tmp_path):
    """Delete → tombstone hides the key; re-insert resurrects it; a
    tombstone-only bucket compacts away to nothing."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("content", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "rez"), schema, key_cols=["repo", "path"], num_buckets=2
    )
    ddl = "repo string, path string, commit string, lsn long, content string, op string"
    merge_into(
        t, spark.createDataFrame([("r1", "a", "c1", 1, "A1", "U")], ddl), strategy="mor"
    ).commit()
    merge_into(
        t, spark.createDataFrame([("r1", "a", "c2", 2, None, "D")], ddl), strategy="mor"
    ).commit()
    assert t.read().count() == 0
    merge_into(
        t, spark.createDataFrame([("r1", "a", "c3", 3, "A3", "U")], ddl), strategy="mor"
    ).commit()
    assert [(r.repo, r.path, r.content) for r in t.read().collect()] == [
        ("r1", "a", "A3")
    ]
    # delete again, then compact: the bucket disappears entirely
    merge_into(
        t, spark.createDataFrame([("r1", "a", "c4", 4, None, "D")], ddl), strategy="mor"
    ).commit()
    t.compact()
    m = t.manifest()
    assert not m.delta_files and t.read().count() == 0

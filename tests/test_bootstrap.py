"""Initial-snapshot bootstrap -> binlog handoff (the Debezium
snapshot-mode / DMS full-load+CDC shape; reference analog: the
otsstreamreader export window is bounded by stream expiration,
OTSStreamReaderChecker.java:39-58, so pre-window state must come from
a snapshot and the tail resumes from the snapshot position).

Invariants under test:
* bootstrap(snapshot at lsn W) + replay of the log == sequential
  replay of the FULL log (per-row content sha256), including when the
  pre-watermark epochs have EXPIRED from the log entirely;
* pre-watermark events in retained epoch files are never re-applied
  (the resurrection hazard under log retention);
* the load is exactly-once: idempotent rerun, crash-before-commit
  retries cleanly, crash-after-commit skips;
* bootstrap refuses op-typed frames, missing key columns, and tables
  with committed epochs;
* dirty snapshot rows quarantine under epoch=bootstrap and count
  against the error limits.
"""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from datax_spark.engine import (
    DirtyDataError,
    ReplayConfig,
    ReplayCrash,
    ReplayEngine,
)
from datax_spark.engine.metrics import read_metrics
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.operators.dedup import lww_dedup
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=10_000,
    n_repos=30,
    paths_per_repo=70,
    events_per_epoch=2_000,
    evolve_from_epoch=2,
    seed=7,
)
# mid-epoch-2 watermark: epochs 0-1 are fully pre-snapshot, epoch 2 is
# split (the partial-overlap case), epochs 3-4 are pure tail
WATERMARK = 4_699
CFG = ReplayConfig(num_buckets=16)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("boot_ev") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def snapshot_df(spark, events_root):
    """The source's live state at lsn=WATERMARK, derived the way a
    full-load would deliver it: LWW over the log prefix, no op column."""
    ev = (
        spark.read.option("mergeSchema", "true")
        .parquet(events_root)
        .filter(F.col("lsn") <= WATERMARK)
    )
    latest = lww_dedup(ev, keys=["repo", "path"], order_cols=["commit", "lsn"])
    return latest.filter(F.col("op") != "D").drop("op", "epoch")


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].reset_index(drop=True)


def _engine(spark, events_root, tmp_path, name, cfg=CFG):
    return ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"table_{name}"),
        str(tmp_path / f"metrics_{name}"),
        cfg,
    )


def _state(eng):
    return (
        eng.table()
        .read()
        .select(
            "repo", "path", "commit", "lsn", "lang",
            F.sha2("content", 256).alias("h"), "lang_variant",
        )
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)[COLS]
    )


def test_bootstrap_then_tail_equals_full_replay(
    spark, events_root, snapshot_df, expected, tmp_path
):
    eng = _engine(spark, events_root, tmp_path, "main")
    res = eng.bootstrap(snapshot_df, WATERMARK)
    assert not res.skipped
    assert res.bootstrap_lsn == WATERMARK
    assert res.n_rows == snapshot_df.count() == res.rows_after
    assert eng.resume_epoch() == 0

    results = eng.run()
    # epochs 0-1 are entirely pre-watermark: applied (watermark moves)
    # but with ZERO events — the lsn filter dropped the whole scan
    by_epoch = {r.epoch: r for r in results}
    assert by_epoch[0].n_events == 0 and by_epoch[1].n_events == 0
    # epoch 2 straddles the watermark: strictly fewer events than its
    # slice holds, epochs 3-4 fully applied
    assert 0 < by_epoch[2].n_events < SPEC.events_per_epoch
    assert by_epoch[3].n_events > 0 and by_epoch[4].n_events > 0

    got = _state(eng)
    assert got.equals(expected)

    # the initial load has a lineage slot: epoch=-1 rows in metrics
    m = read_metrics(spark, eng.metrics_root).filter("epoch = -1")
    assert m.agg(F.sum("n_events")).first()[0] == res.n_rows


def test_expired_log_prefix_still_converges(
    spark, events_root, snapshot_df, expected, tmp_path
):
    """Retention: epochs 0-1 no longer exist anywhere. Without a
    bootstrap the engine cannot even start (contiguity from 0); with
    one, the tail begins mid-log at epoch 2 and the final state still
    equals the full-history replay."""
    trunc = str(tmp_path / "events_trunc")
    shutil.copytree(events_root, trunc)
    shutil.rmtree(os.path.join(trunc, "epoch=0"))
    shutil.rmtree(os.path.join(trunc, "epoch=1"))

    bare = _engine(spark, trunc, tmp_path, "bare")
    with pytest.raises(ValueError, match="out-of-order"):
        bare.run()

    eng = _engine(spark, trunc, tmp_path, "trunc")
    eng.bootstrap(snapshot_df, WATERMARK)
    results = eng.run()
    assert [r.epoch for r in results] == [2, 3, 4]
    assert _state(eng).equals(expected)


def test_bootstrap_idempotent_and_orders(spark, events_root, snapshot_df, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "idem")
    first = eng.bootstrap(snapshot_df, WATERMARK)
    assert not first.skipped
    again = eng.bootstrap(snapshot_df, WATERMARK)
    assert again.skipped and again.bootstrap_lsn == WATERMARK

    # a table with committed epochs refuses a (stale) snapshot
    eng.apply_epoch(0)
    fresh = ReplayEngine(
        spark, events_root, eng.table_root,
        str(tmp_path / "metrics_idem2"), CFG,
    )
    # the bootstrapped marker wins the gate even with epochs applied
    assert fresh.bootstrap(snapshot_df, WATERMARK).skipped

    plain = _engine(spark, events_root, tmp_path, "noboot")
    plain.apply_epoch(0)
    with pytest.raises(ValueError, match="committed epochs"):
        plain.bootstrap(snapshot_df, WATERMARK)


def test_bootstrap_crash_resume(spark, events_root, snapshot_df, expected, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "crash")
    # crash BEFORE the commit: nothing visible, retry does a full load
    with pytest.raises(ReplayCrash):
        eng.bootstrap(snapshot_df, WATERMARK, failpoints=["after_write"])
    res = eng.bootstrap(snapshot_df, WATERMARK)
    assert not res.skipped

    # crash AFTER the commit: state is live, retry skips
    eng2 = _engine(spark, events_root, tmp_path, "crash2")
    with pytest.raises(ReplayCrash):
        eng2.bootstrap(snapshot_df, WATERMARK, failpoints=["after_commit"])
    assert eng2.bootstrap(snapshot_df, WATERMARK).skipped
    eng2.run()
    assert _state(eng2).equals(expected)


def test_bootstrap_input_validation(spark, events_root, snapshot_df, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "val")
    with pytest.raises(ValueError, match="STATE"):
        eng.bootstrap(snapshot_df.withColumn("op", F.lit("I")), WATERMARK)
    with pytest.raises(ValueError, match="key/order columns"):
        eng.bootstrap(snapshot_df.drop("path"), WATERMARK)


def test_bootstrap_dirty_rows_quarantine(spark, events_root, snapshot_df, tmp_path):
    dirty_one = snapshot_df.limit(1).withColumn("path", F.lit(None).cast("string"))
    snap = snapshot_df.unionByName(dirty_one)

    eng = _engine(spark, events_root, tmp_path, "dirty")
    res = eng.bootstrap(snap, WATERMARK)
    assert res.n_dirty == 1
    qdir = os.path.join(eng.quarantine_root(), "epoch=bootstrap")
    assert spark.read.parquet(qdir).count() == 1

    strict = _engine(
        spark, events_root, tmp_path, "dirty_strict",
        ReplayConfig(num_buckets=16, dirty_record_limit=0),
    )
    with pytest.raises(DirtyDataError):
        strict.bootstrap(snap, WATERMARK)
    # the failed load left nothing behind
    from datax_spark.lake.table import LakeTable

    assert LakeTable.load(spark, strict.table_root).total_rows() == 0


def test_cli_bootstrap_block(spark, events_root, snapshot_df, expected, tmp_path):
    from datax_spark.cli import main

    snap_path = str(tmp_path / "snapshot.parquet")
    snapshot_df.write.parquet(snap_path)
    spec = {
        "replay": {
            "events_root": events_root,
            "table_root": str(tmp_path / "cli_table"),
            "metrics_root": str(tmp_path / "cli_metrics"),
            "num_buckets": 16,
            "bootstrap": {"snapshot_path": snap_path, "watermark_lsn": WATERMARK},
        }
    }
    spec_path = tmp_path / "job.json"
    spec_path.write_text(json.dumps(spec))
    assert main(["--job", str(spec_path)]) in (0, None)

    eng = ReplayEngine(
        spark, events_root, spec["replay"]["table_root"],
        spec["replay"]["metrics_root"], CFG,
    )
    assert _state(eng).equals(expected)
    # rerunning the same job spec is a no-op load + all-skip replay
    assert main(["--job", str(spec_path)]) in (0, None)
    assert _state(eng).equals(expected)


def test_bootstrap_refreshes_attached_views(spark, events_root, snapshot_df, tmp_path):
    """A view attached through materialized_views is advanced by the
    bootstrap commit itself, as by every epoch and chunk commit — not
    left at its pre-bootstrap version until a later run()."""
    from datax_spark.lake.matview import AggView, AggViewSpec
    from datax_spark.lake.table import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "table_view"), schema=snapshot_df.schema,
        key_cols=["repo", "path"], num_buckets=16,
    )
    view_root = str(tmp_path / "view")
    view = AggView.create(spark, view_root, table, AggViewSpec(group_cols=("repo",)))
    cfg = ReplayConfig(num_buckets=16, materialized_views=(view_root,))
    eng = _engine(spark, events_root, tmp_path, "view", cfg)
    assert not eng.bootstrap(snapshot_df, WATERMARK).skipped
    assert view.synced_version() == table.current_version()
    n_rows = view.read().agg(F.sum("n_rows")).first()[0]
    assert n_rows == table.read().count() == snapshot_df.count()

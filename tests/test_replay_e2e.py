"""End-to-end CDC replay vs the sequential-apply oracle — the
correctness gate (BASELINE.json: per-row content sha256 equality),
including crash-replay exactly-once and checkpoint resume."""

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from datax_spark.engine import ReplayConfig, ReplayCrash, ReplayEngine
from datax_spark.engine.metrics import read_metrics
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=12_000,
    n_repos=40,
    paths_per_repo=90,
    events_per_epoch=3_000,
    evolve_from_epoch=2,
    seed=11,
)
CFG = ReplayConfig(num_buckets=16, salt_buckets=8)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ev") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].reset_index(drop=True)


def _engine(spark, events_root, tmp_path, name):
    return ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"table_{name}"),
        str(tmp_path / f"metrics_{name}"),
        CFG,
    )


def _state(eng):
    df = eng.table().read().withColumn("h", F.sha2("content", 256))
    for c in COLS:  # pre-evolution snapshots legitimately lack lang_variant
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return (
        df.select(*COLS).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )


def _assert_match(eng, expected):
    pd.testing.assert_frame_equal(
        _state(eng).fillna("∅"), expected.fillna("∅"), check_dtype=False
    )


def test_full_replay_matches_oracle(spark, events_root, expected, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "full")
    results = eng.run()
    assert [r.epoch for r in results] == [0, 1, 2, 3]
    assert not any(r.skipped for r in results)
    _assert_match(eng, expected)
    # schema evolved mid-stream: lang_variant present and non-null somewhere
    assert expected["lang_variant"].notna().any()

    # lineage metrics: every input event accounted for
    met = read_metrics(spark, eng.metrics_root)
    assert met.agg(F.sum("n_events")).collect()[0][0] == SPEC.n_events
    assert met.select("bucket").distinct().count() <= CFG.num_buckets


@pytest.mark.parametrize("failpoint", ["after_dedup", "after_write", "after_commit"])
def test_crash_replay_exactly_once(spark, events_root, expected, tmp_path, failpoint):
    eng = _engine(spark, events_root, tmp_path, f"crash_{failpoint}")
    eng.run(through_epoch=1)
    with pytest.raises(ReplayCrash):
        eng.apply_epoch(2, failpoints=[failpoint])
    eng.run()  # restart from checkpoint; must converge
    _assert_match(eng, expected)
    eng.table().vacuum()
    _assert_match(eng, expected)  # vacuum never changes readable state


def test_duplicate_epoch_skipped(spark, events_root, expected, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "dup")
    eng.run()
    r = eng.apply_epoch(2)
    assert r.skipped
    _assert_match(eng, expected)


def test_resume_and_ordering(spark, events_root, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "resume")
    eng.run(through_epoch=1)
    fresh = ReplayEngine(spark, events_root, eng.table_root, eng.metrics_root, CFG)
    assert fresh.resume_epoch() == 2
    with pytest.raises(ValueError):
        fresh.apply_epoch(3)  # gap => out-of-order rejected


def test_spj_merge_matches_oracle(spark, events_root, expected, tmp_path):
    """Storage-partitioned merge (merge_strategy='spj'): same final
    state as the oracle through schema evolution, Arrow transforms,
    crash-replay and vacuum — with no
    Exchange of the current table side (it never enters a Spark plan;
    each bucket task reads its own files)."""
    from datax_spark.functions.content import sha256_hex, token_count_bpeish

    def transforms(df):
        if "content" not in df.columns:
            return df
        return df.withColumn("content_sha256", sha256_hex("content")).withColumn(
            "n_tokens", token_count_bpeish("content")
        )

    def mk(name, strategy):
        return ReplayEngine(
            spark,
            events_root,
            str(tmp_path / f"table_{name}"),
            str(tmp_path / f"metrics_{name}"),
            ReplayConfig(
                num_buckets=16, merge_strategy=strategy, transforms=(transforms,)
            ),
        )

    spj = mk("spj", "spj")
    spj.run(through_epoch=1)
    with pytest.raises(ReplayCrash):
        spj.apply_epoch(2, failpoints=["after_write"])
    spj.run()  # converge from checkpoint
    _assert_match(spj, expected)
    spj.table().vacuum()
    _assert_match(spj, expected)

    # derived transform columns match the raw content on the spj path
    chk = spj.table().read().filter(
        F.sha2("content", 256) != F.col("content_sha256")
    )
    assert chk.count() == 0


def test_spj_order_guard(spark, tmp_path):
    """Cross-batch LWW order guard inside the spj bucket task: a
    re-delivered/stale micro-batch can neither regress nor delete a
    key that already holds a newer image, while genuinely newer
    updates/deletes and brand-new keys apply — the conditional-merge
    contract WHEN MATCHED AND s.order > t.order."""
    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "og"), schema, ["k"], num_buckets=2)
    cols = "k string, commit string, lsn long, v string, op string"
    merge_into(
        t, spark.createDataFrame(
            [("a", "c2", 5, "new", "U"), ("b", "c2", 6, "bee", "U")], cols),
        order_cols=["commit", "lsn"], strategy="spj",
    ).commit()
    # stale batch: regress 'a', delete 'b' with an OLDER order, insert 'c'
    merge_into(
        t, spark.createDataFrame(
            [("a", "c1", 1, "old", "U"), ("b", "c1", 2, None, "D"),
             ("c", "c1", 3, "cee", "U")], cols),
        order_cols=["commit", "lsn"], strategy="spj",
    ).commit()
    got = {r["k"]: (r["commit"], r["lsn"], r["v"]) for r in t.read().collect()}
    assert got == {
        "a": ("c2", 5, "new"),   # stale update rejected
        "b": ("c2", 6, "bee"),   # stale delete rejected
        "c": ("c1", 3, "cee"),   # new key inserted
    }
    # newer batch: update 'a', delete 'b' — both apply
    merge_into(
        t, spark.createDataFrame(
            [("a", "c3", 9, "newer", "U"), ("b", "c3", 10, None, "D")], cols),
        order_cols=["commit", "lsn"], strategy="spj",
    ).commit()
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": "newer", "c": "cee"}


def test_intermediate_epoch_matches_oracle(spark, events_root, tmp_path):
    eng = _engine(spark, events_root, tmp_path, "mid")
    eng.run(through_epoch=1)
    exp = sequential_apply(events_root, max_epoch=1).rename(columns={"content_sha256": "h"})
    _assert_match_mid = exp[COLS].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        _state(eng).fillna("∅"), _assert_match_mid.fillna("∅"), check_dtype=False
    )


def test_dirty_data_quarantine_and_limit(spark, tmp_path):
    """Events with NULL key/order columns are quarantined (never reach
    the table), counted per epoch, and trip the dirty_record_limit
    BEFORE any table write (ErrorRecordChecker analog)."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from datax_spark.engine.replay import DirtyDataError, ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df
    from datax_spark.oracle.apply import sequential_apply

    spec = ChangelogSpec(n_events=4_000, n_repos=10, paths_per_repo=40,
                         events_per_epoch=2_000, seed=41)
    clean = events_df(spark, spec)
    dirty = (
        clean.filter(F.col("epoch") == 0).limit(7)
        .withColumn("repo", F.lit(None).cast("string"))
    )
    clean.unionByName(dirty).write.partitionBy("epoch").parquet(str(tmp_path / "events"))
    clean.write.partitionBy("epoch").parquet(str(tmp_path / "clean_events"))

    eng = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table"),
                       str(tmp_path / "metrics"), ReplayConfig(num_buckets=4))
    results = eng.run()
    assert results[0].n_dirty == 7
    assert results[1].n_dirty == 0
    q = spark.read.parquet(str(tmp_path / "quarantine" / "epoch=0"))
    assert q.count() == 7 and q.filter(F.col("repo").isNull()).count() == 7
    assert eng.table().manifest().summary.get("n_dirty") == 0  # last epoch

    got = (
        eng.table().read()
        .select("repo", "path", "lsn", F.sha2("content", 256).alias("h"))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = sequential_apply(str(tmp_path / "clean_events"))[
        ["repo", "path", "lsn", "content_sha256"]
    ].rename(columns={"content_sha256": "h"}).sort_values(
        ["repo", "path"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # limit enforcement: fresh engine over the same log with limit 3
    eng2 = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table2"),
                        str(tmp_path / "metrics2"),
                        ReplayConfig(num_buckets=4, dirty_record_limit=3))
    with pytest.raises(DirtyDataError):
        eng2.run()
    assert eng2.table().last_epoch == -1  # nothing committed

    # percentage limit (errorLimit.percentage, ErrorRecordChecker.java:
    # 52-64): alone, 7/2007 ≈ 0.35% of epoch 0 trips a 0.1% pct limit.
    eng3 = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table3"),
                        str(tmp_path / "metrics3"),
                        ReplayConfig(num_buckets=4, dirty_pct_limit=0.001))
    with pytest.raises(DirtyDataError, match="percentage limit"):
        eng3.run()
    assert eng3.table().last_epoch == -1
    # reference parity (ErrorRecordChecker.java:18-45): configuring the
    # RECORD limit nulls the percentage limit — a record limit of 100
    # with the same 0.1% pct limit now ACCEPTS the epoch (7 <= 100).
    eng4 = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table4"),
                        str(tmp_path / "metrics4"),
                        ReplayConfig(num_buckets=4, dirty_record_limit=100,
                                     dirty_pct_limit=0.001))
    assert not any(r.skipped for r in eng4.run())
    assert eng4.table().last_epoch == 1
    # and when the record limit itself trips, its error is reported
    eng5 = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table5"),
                        str(tmp_path / "metrics5"),
                        ReplayConfig(num_buckets=4, dirty_record_limit=3,
                                     dirty_pct_limit=0.99))
    with pytest.raises(DirtyDataError, match="record"):
        eng5.run()
    # pct outside [0, 1] is rejected up front (ErrorRecordChecker.java:34-38)
    with pytest.raises(ValueError, match="dirty_pct_limit"):
        ReplayConfig(dirty_pct_limit=1.5)


def test_replay_oracle_equality_300k(spark, tmp_path):
    """Scale confidence check: 300k events, 150k keyspace, 4 epochs,
    schema evolution mid-stream — full per-row sha256 equality vs the
    sequential oracle (a 1M-event run of the same check passed during
    development; this size keeps suite time bounded)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, write_events
    from datax_spark.oracle.apply import sequential_apply

    spec = ChangelogSpec(n_events=300_000, n_repos=150, paths_per_repo=500,
                         events_per_epoch=75_000, evolve_from_epoch=2, seed=1234)
    write_events(spark, spec, str(tmp_path / "events"))
    eng = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table"),
                       str(tmp_path / "metrics"), ReplayConfig(num_buckets=32))
    eng.run()
    got = (
        eng.table().read()
        .select("repo", "path", "commit", "lsn", "lang", "lang_variant",
                F.sha2("content", 256).alias("h"))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = sequential_apply(str(tmp_path / "events"))[
        ["repo", "path", "commit", "lsn", "lang", "lang_variant", "content_sha256"]
    ].rename(columns={"content_sha256": "h"}).sort_values(
        ["repo", "path"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_all_dirty_epoch_advances_watermark(spark, tmp_path):
    """An epoch containing ONLY dirty events must quarantine them all,
    commit an unchanged snapshot, and advance the epoch watermark so
    replay does not stall."""
    from pyspark.sql import functions as F

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df

    spec = ChangelogSpec(n_events=2_000, n_repos=5, paths_per_repo=20,
                         events_per_epoch=1_000, seed=51)
    ev = events_df(spark, spec)
    good = ev.filter(F.col("epoch") == 0)
    bad = ev.filter(F.col("epoch") == 1).withColumn("repo", F.lit(None).cast("string"))
    good.unionByName(bad).write.partitionBy("epoch").parquet(str(tmp_path / "events"))

    eng = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table"),
                       str(tmp_path / "metrics"), ReplayConfig(num_buckets=4))
    results = eng.run()
    assert [r.epoch for r in results] == [0, 1]
    assert results[1].n_dirty == 1_000 and results[1].n_keys == 0
    assert eng.table().last_epoch == 1  # watermark advanced past the dirty epoch
    rows_epoch0 = eng.table().total_rows()
    assert rows_epoch0 > 0
    # replaying is a no-op (exactly-once) and state is intact
    again = eng.run()
    assert all(r.skipped for r in again)
    assert eng.table().total_rows() == rows_epoch0


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_adversarial_key_and_content_bytes(spark, tmp_path, strategy):
    """Keys and content containing NUL bytes, the composite-encoding
    metacharacters (':' ';'), emoji and empty strings replay
    correctly under BOTH merge plans. num_buckets=1 forces every key
    into one bucket, so the spj eviction composite is exercised on
    the ambiguous pairs directly: ('r\\x00','a') vs ('r','\\x00a')
    must remain DISTINCT keys (a plain NUL-separator join would
    collide them and evict the wrong row)."""
    import hashlib

    rows = [
        # (repo, path, op, commit, lsn, content, epoch)
        ("r\x00", "a", "I", "c01", 1, "alpha", 0),
        ("r", "\x00a", "I", "c01", 2, "beta", 0),
        ("1:r", ";2", "I", "c01", 3, "with \x00 nul and émoji 🚀", 0),
        ("k", "k", "I", "c01", 4, "", 0),               # empty content
        ("big", "doc", "I", "c01", 5, "x" * 300_000, 0),
        # epoch 1: update ONE of the ambiguous pair, delete another key
        ("r\x00", "a", "U", "c02", 6, "alpha-v2", 1),
        ("k", "k", "D", "c02", 7, None, 1),
        ("1:r", ";2", "U", "c02", 8, "ascii now", 1),
    ]
    ev = spark.createDataFrame(
        rows, "repo string, path string, op string, commit string, "
              "lsn long, content string, epoch int",
    )
    ev.write.partitionBy("epoch").parquet(str(tmp_path / f"ev_{strategy}"))
    eng = ReplayEngine(
        spark, str(tmp_path / f"ev_{strategy}"),
        str(tmp_path / f"t_{strategy}"), str(tmp_path / f"m_{strategy}"),
        ReplayConfig(num_buckets=1, merge_strategy=strategy),
    )
    eng.run()
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in eng.table().read().collect()
    }
    assert got == {
        ("r\x00", "a"): "alpha-v2",
        ("r", "\x00a"): "beta",          # must NOT be evicted by the update above
        ("1:r", ";2"): "ascii now",
        ("big", "doc"): "x" * 300_000,
    }
    # byte-level parity: Spark sha2 == python hashlib over utf-8
    h = {
        (r["repo"], r["path"]): r["h"]
        for r in eng.table().read().select(
            "repo", "path", F.sha2("content", 256).alias("h")).collect()
    }
    for k, v in got.items():
        assert h[k] == hashlib.sha256(v.encode()).hexdigest()


def test_audited_epochs_publish_fail_and_crash_resume(spark, events_root, expected, tmp_path):
    """Write-audit-publish epoch commits: passing audits publish and
    the full replay still matches the oracle; a failing audit leaves
    the table at the pre-epoch state with the watermark unmoved; a
    crash between stage and publish replays cleanly (the stale staged
    candidate is dropped and re-staged)."""
    from datax_spark.engine.replay import EpochAuditError

    audits = []

    def audit(df):
        audits.append(df.count())
        return True

    cfg = ReplayConfig(num_buckets=16, audit_fn=audit)
    eng = ReplayEngine(
        spark, events_root, str(tmp_path / "t_audit"), str(tmp_path / "m_audit"), cfg
    )
    eng.run(through_epoch=1)
    assert len(audits) == 2 and all(n > 0 for n in audits)
    t = eng.table()
    assert not t._wap_staged()  # every candidate was published

    # crash between stage and publish: watermark unmoved, staged
    # candidate left behind; the retry must drop it and converge
    with pytest.raises(ReplayCrash):
        eng.apply_epoch(2, failpoints=["after_stage"])
    assert t.last_epoch == 1 and "epoch-2" in t._wap_staged()
    eng.run()
    _assert_match(eng, expected)
    assert not t._wap_staged()

    # failing audit: EpochAuditError, table unchanged, epoch retryable
    # (salt_buckets routes through the generic apply_epoch commit site)
    fail_cfg = ReplayConfig(num_buckets=16, salt_buckets=8, audit_fn=lambda df: False)
    eng2 = ReplayEngine(
        spark, events_root, str(tmp_path / "t_audit2"), str(tmp_path / "m_audit2"),
        fail_cfg,
    )
    with pytest.raises(EpochAuditError):
        eng2.run(through_epoch=0)
    t2 = eng2.table()
    assert t2.last_epoch == -1 and t2.total_rows() == 0
    assert not t2._wap_staged()  # the rejected candidate was dropped
    # flipping the audit on retry converges (exactly-once intact)
    eng3 = ReplayEngine(
        spark, events_root, str(tmp_path / "t_audit2"), str(tmp_path / "m_audit2"),
        ReplayConfig(num_buckets=16, audit_fn=lambda df: True),
    )
    eng3.run()
    _assert_match(eng3, expected)


def test_flow_control_speed_caps(spark, tmp_path):
    """job.setting.speed analog (Channel.java:176-239): the run loop
    paces CUMULATIVE applied events/bytes to the configured caps by
    sleeping between epoch commits. Pure pacing math unit-checked,
    then one real run whose wall must stretch to n_events/cap."""
    import time

    # pacing math: 10k events applied in 1s under a 4k ev/s cap ->
    # allowed finish at 2.5s -> sleep 1.5s; byte cap is independent
    # and the stricter one governs; no caps -> never sleeps
    cfg = ReplayConfig(max_events_per_sec=4_000)
    assert cfg.throttle_wait(10_000, 0, 1.0) == pytest.approx(1.5)
    assert cfg.throttle_wait(10_000, 0, 3.0) == 0.0
    both = ReplayConfig(max_events_per_sec=4_000, max_bytes_per_sec=100)
    assert both.throttle_wait(0, 1_000, 1.0) == pytest.approx(9.0)
    assert ReplayConfig().throttle_wait(10**9, 10**12, 0.001) == 0.0
    with pytest.raises(ValueError, match="positive"):
        ReplayConfig(max_events_per_sec=0)

    spec = ChangelogSpec(n_events=2_000, n_repos=5, paths_per_repo=20,
                         events_per_epoch=1_000, seed=52)
    write_events(spark, spec, str(tmp_path / "events"))
    uncapped = ReplayEngine(spark, str(tmp_path / "events"),
                            str(tmp_path / "t0"), str(tmp_path / "m0"),
                            ReplayConfig(num_buckets=4))
    t0 = time.monotonic()
    base = uncapped.run()
    base_wall = time.monotonic() - t0
    assert all(r.throttle_ms == 0.0 for r in base)
    assert sum(r.bytes_in for r in base) > 0  # pacing input is real

    cap = 2_000 / (base_wall + 2.0)  # force ~2s of sleep
    eng = ReplayEngine(spark, str(tmp_path / "events"),
                       str(tmp_path / "t1"), str(tmp_path / "m1"),
                       ReplayConfig(num_buckets=4, max_events_per_sec=cap))
    t0 = time.monotonic()
    results = eng.run()
    wall = time.monotonic() - t0
    assert wall >= 2_000 / cap - 0.25  # sustained rate respects the cap
    assert sum(r.throttle_ms for r in results) > 0
    # throttling is pacing only: the applied state is identical
    a = uncapped.table().read().orderBy("repo", "path").collect()
    b = eng.table().read().orderBy("repo", "path").collect()
    assert a == b

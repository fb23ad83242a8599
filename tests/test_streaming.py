"""Structured-Streaming replay: availableNow drains, multi-batch
order-guard, and checkpointed restart-resume — all against the
sequential-apply oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from datax_spark.engine.metrics import read_metrics
from datax_spark.engine.replay import ReplayConfig
from datax_spark.fixtures.changelog import ChangelogSpec, events_df, write_events
from datax_spark.oracle.apply import sequential_apply
from datax_spark.streaming import StreamReplay


def _state(table_df) -> pd.DataFrame:
    return (
        table_df.select(
            "repo", "path", "commit", "lsn", "lang",
            F.sha2("content", 256).alias("content_sha256"),
        )
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def _oracle(events_root: str) -> pd.DataFrame:
    o = sequential_apply(events_root)
    return (
        o[["repo", "path", "commit", "lsn", "lang", "content_sha256"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def _assert_matches(table_df, events_root):
    got, want = _state(table_df), _oracle(events_root)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


CFG = ReplayConfig(num_buckets=8, salt_buckets=4, stats_cols=("lsn",))


def test_stream_replay_single_drain(spark, tmp_path):
    spec = ChangelogSpec(n_events=6_000, n_repos=20, paths_per_repo=60,
                         events_per_epoch=2_000, seed=7)
    write_events(spark, spec, str(tmp_path / "events"))
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()
    assert sr.applied_batches  # at least one batch applied
    _assert_matches(sr.table().read(), str(tmp_path / "events"))
    # stats_cols flows through the streaming sink's table creation and
    # every batch commit harvested bounds for its new files
    m = sr.table().manifest()
    assert m.stats_cols == ["lsn"]
    assert sorted(m.file_stats) == sorted(
        p for fs in m.files.values() for p in fs
    )
    # per-batch lineage under <checkpoint_root>/metrics, one slot per
    # applied batch, accounting for every event
    lin = read_metrics(spark, str(tmp_path / "ckpt" / "metrics")).toPandas()
    assert sorted(lin["epoch"].unique()) == sorted(sr.applied_batches)
    assert int(lin["n_events"].sum()) == spec.n_events


def test_stream_multi_batch_upserts_any_order(spark, tmp_path):
    """Upsert-only log split over many micro-batches in file-discovery
    order: the cross-batch order guard must converge to the oracle
    regardless of which batch a key's events land in."""
    spec = ChangelogSpec(n_events=6_000, n_repos=10, paths_per_repo=40,
                         events_per_epoch=1_000, seed=13)
    ev = events_df(spark, spec).filter(F.col("op") != "D")
    ev.write.partitionBy("epoch").parquet(str(tmp_path / "events"))
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG, max_files_per_trigger=3,
    )
    sr.run_available_now()
    assert len(sr.applied_batches) > 1, "expected multiple micro-batches"
    _assert_matches(sr.table().read(), str(tmp_path / "events"))


def test_stream_restart_resume(spark, tmp_path):
    """Drain, then append more of the log, then drain again with the
    same checkpoint: new events apply, watermark advances, state
    matches the full-log oracle (otsstreamreader resume analog)."""
    spec = ChangelogSpec(n_events=8_000, n_repos=15, paths_per_repo=50,
                         events_per_epoch=2_000, seed=23)
    full = events_df(spark, spec)
    first = full.filter(F.col("epoch") <= 1)
    rest = full.filter(F.col("epoch") > 1)

    first.write.partitionBy("epoch").parquet(str(tmp_path / "events"))
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()
    wm1 = sr.table().last_epoch

    rest.write.mode("append").partitionBy("epoch").parquet(str(tmp_path / "events"))
    sr2 = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG,
    )
    sr2.run_available_now()
    assert sr2.table().last_epoch > wm1
    assert sr2.applied_batches, "restart must apply the appended events"
    _assert_matches(sr2.table().read(), str(tmp_path / "events"))


def test_stream_restart_with_schema_evolution(spark, tmp_path):
    """Additive schema evolution over a RESTARTED stream — the
    operational pattern for Structured Streaming (a running query's
    source schema is fixed; the new column arrives by restarting with
    the evolved schema against the same checkpoint). Old-table rows
    null-fill; the full state incl. the evolved column must match the
    sequential-apply oracle."""
    spec = ChangelogSpec(n_events=8_000, n_repos=15, paths_per_repo=50,
                         events_per_epoch=2_000, evolve_from_epoch=2, seed=31)
    full = events_df(spark, spec)
    old = full.filter(F.col("epoch") <= 1).drop("lang_variant")
    new = full.filter(F.col("epoch") > 1)

    old.write.partitionBy("epoch").parquet(str(tmp_path / "events"))
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()
    assert "lang_variant" not in sr.table().read().columns

    new.write.mode("append").partitionBy("epoch").parquet(str(tmp_path / "events"))
    evolved_schema = __import__("pyspark.sql.types", fromlist=["StructType"]).StructType(
        [f for f in full.schema.fields if f.name != "epoch"]
    )
    sr2 = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=CFG, schema=evolved_schema,
    )
    sr2.run_available_now()
    got = (
        sr2.table().read()
        .select("repo", "path", "commit", "lsn", "lang", "lang_variant",
                F.sha2("content", 256).alias("content_sha256"))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    o = sequential_apply(str(tmp_path / "events"))
    want = (
        o[["repo", "path", "commit", "lsn", "lang", "lang_variant",
           "content_sha256"]]
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # keys whose winner predates the evolution carry NULL lang_variant
    assert got["lang_variant"].isna().any()
    assert got["lang_variant"].notna().any()


def test_kafka_value_projection_streaming(spark, tmp_path):
    """The kafkareader value projection (KafkaReader.java:184-216
    semantics: JSON value -> configured columns, null for absent keys,
    garbage -> all-null row) driven WITHOUT a broker: a file-backed
    readStream supplies the identical `value`-column contract the
    kafka source emits, availableNow drains it through the same
    from_json projection."""
    import json
    import os

    from datax_spark.sources.readers import kafka_value_projection

    msgs = [
        {"repo": "r1", "path": "a.py", "lang": "python"},
        {"repo": "r2", "path": "b.go"},  # absent key -> null column
        {"repo": "r3", "path": "c.rs", "lang": "rust", "extra": "ignored"},
    ]
    src = tmp_path / "kafka_values"
    os.makedirs(src)
    (src / "part-0.txt").write_text("\n".join(json.dumps(m) for m in msgs))
    (src / "part-1.txt").write_text('not-json at all\n')

    raw = spark.readStream.text(str(src))  # column `value`, like kafka
    proj = kafka_value_projection(raw, ["repo", "path", "lang"])
    q = (
        proj.writeStream.format("memory")
        .queryName("kafka_proj")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        ((r["repo"], r["path"], r["lang"]) for r in spark.sql(
            "SELECT * FROM kafka_proj").collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [
        ("r1", "a.py", "python"),
        ("r2", "b.go", None),
        ("r3", "c.rs", "rust"),
        (None, None, None),  # undecodable value -> all-null row
    ]
    # batch path: identical projection over a static frame
    static = kafka_value_projection(
        spark.createDataFrame([(json.dumps(msgs[0]).encode(),)], "value binary"),
        ["repo", "path", "lang"],
    ).collect()
    assert [(r["repo"], r["path"], r["lang"]) for r in static] == [
        ("r1", "a.py", "python")
    ]


def test_stream_audited_batches(spark, tmp_path):
    """The streaming sink honors the write-audit-publish gate: passing
    audits publish every batch (state still matches the oracle); a
    failing audit aborts the stream with the table unchanged, and a
    restart with a passing audit converges from the checkpoint."""
    import pytest

    from datax_spark.engine.replay import EpochAuditError

    spec = ChangelogSpec(n_events=6_000, n_repos=20, paths_per_repo=60,
                         events_per_epoch=2_000, seed=7)
    write_events(spark, spec, str(tmp_path / "events"))
    seen = []
    ok_cfg = ReplayConfig(
        num_buckets=8, stats_cols=("lsn",),
        audit_fn=lambda df: seen.append(df.count()) or True,
    )
    sr = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table"),
        str(tmp_path / "ckpt"), config=ok_cfg,
    )
    sr.run_available_now()
    assert seen and all(n > 0 for n in seen)
    assert not sr.table()._wap_staged()
    _assert_matches(sr.table().read(), str(tmp_path / "events"))

    # failing audit: stream aborts, no state published
    bad = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table2"),
        str(tmp_path / "ckpt2"),
        config=ReplayConfig(num_buckets=8, audit_fn=lambda df: False),
    )
    with pytest.raises(Exception) as ei:
        bad.run_available_now()
    # foreachBatch wraps the python error in a StreamingQueryException
    assert "EpochAuditError" in str(ei.value) or isinstance(
        ei.value, EpochAuditError
    )
    t2 = bad.table()
    assert t2.last_epoch == -1 and t2.total_rows() == 0

    # restart with a passing audit resumes from the checkpoint
    good = StreamReplay(
        spark, str(tmp_path / "events"), str(tmp_path / "table2"),
        str(tmp_path / "ckpt2"),
        config=ReplayConfig(num_buckets=8, audit_fn=lambda df: True),
    )
    good.run_available_now()
    _assert_matches(good.table().read(), str(tmp_path / "events"))


def _one_file(spark, root, rows):
    """Append exactly one parquet file of change events to root."""
    import time as _t

    df = spark.createDataFrame(
        rows, "repo string, path string, op string, commit string, "
              "lsn long, lang string, content string",
    )
    df.coalesce(1).write.mode("append").parquet(root)
    _t.sleep(1.05)  # distinct mod-times: file-source batch order is by timestamp


def test_stream_unordered_delete_feed_fails_loud(spark, tmp_path):
    """CoW stream, delete applied in batch 0, an OLDER update for the
    same key arriving in a later batch: the merge would silently
    resurrect the deleted key, so the sink must raise
    UnorderedFeedError with the table unchanged (module docstring
    ordering note). A NULL-order (dirty) row neither trips the guard
    nor hides a real trip: its order keys are observed over clean rows
    only."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datax_spark.streaming.replay_stream import UnorderedFeedError  # noqa: F401

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r", "a.py", "U", "c01", 1, "py", "v1"),
        ("r", "a.py", "D", "c05", 5, "py", None),
    ])

    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        config=CFG, max_files_per_trigger=1,
    )
    sr.run_available_now()
    _one_file(spark, ev, [
        ("r", "a.py", "U", None, 2, "py", "stale"),  # dirty, older than the delete
        ("r", "b.py", "U", "c07", 7, "py", "w1"),
    ])
    sr.run_available_now()
    assert sr.applied_batches == [0, 1]
    v1 = sr.table().current_version()
    _one_file(spark, ev, [
        ("r", "c.py", "U", None, 8, "py", "x1"),  # dirty
        ("r", "a.py", "U", "c03", 3, "py", "v3"),
    ])
    with pytest.raises(StreamingQueryException, match="resurrect"):
        sr.run_available_now()
    # batches 0-1 committed (a.py deleted), batch 2 aborted before commit
    assert sr.table().current_version() == v1
    assert {r["path"] for r in sr.table().read().collect()} == {"b.py"}
    assert sr.table().manifest().summary["max_delete_ord"] == ["c05", 5]


def test_stream_delete_order_check_across_restart(spark, tmp_path):
    """The applied-delete watermark persists in the table summary: a
    FRESH StreamReplay on the same roots still rejects an older event
    arriving after a restart."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r", "a.py", "U", "c01", 1, "py", "v1"),
        ("r", "b.py", "U", "c02", 2, "py", "w1"),
        ("r", "a.py", "D", "c05", 5, "py", None),
    ])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()
    assert sr.table().read().count() == 1  # b.py survives

    _one_file(spark, ev, [("r", "a.py", "U", "c03", 3, "py", "v3")])
    sr2 = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=CFG,
    )
    with pytest.raises(StreamingQueryException, match="resurrect"):
        sr2.run_available_now()
    assert sr2.table().read().count() == 1  # unchanged


def test_stream_unordered_delete_feed_mor_converges(spark, tmp_path):
    """The same unordered feed under merge_strategy='mor' needs no
    guard: tombstone retention resolves winners by event order at
    read time, so the late older update never wins."""
    from dataclasses import replace

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r", "a.py", "U", "c01", 1, "py", "v1"),
        ("r", "b.py", "U", "c02", 2, "py", "w1"),
        ("r", "a.py", "D", "c05", 5, "py", None),
    ])
    _one_file(spark, ev, [("r", "a.py", "U", "c03", 3, "py", "v3")])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        config=replace(CFG, merge_strategy="mor"), max_files_per_trigger=1,
    )
    sr.run_available_now()
    got = {(r["path"], r["lsn"]) for r in sr.table().read().collect()}
    assert got == {("b.py", 2)}  # a.py stays deleted; v3 never resurrects


def test_stream_mor_fold_boundary_guard(spark, tmp_path):
    """MoR tolerates disorder only while tombstones are retained: after
    compact() folds them, a batch reaching behind the fold boundary
    must raise (compact/rebucket record max_folded_delete_ord)."""
    from dataclasses import replace

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    cfg = replace(CFG, merge_strategy="mor")
    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r", "a.py", "U", "c01", 1, "py", "v1"),
        ("r", "b.py", "U", "c02", 2, "py", "w1"),
        ("r", "a.py", "D", "c05", 5, "py", None),
    ])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=cfg,
    )
    sr.run_available_now()

    v = sr.table().compact()  # folds the a.py tombstone
    m = sr.table().manifest()
    assert m.version == v
    assert m.summary["max_folded_delete_ord"] == ["c05", 5]

    _one_file(spark, ev, [("r", "a.py", "U", "c03", 3, "py", "v3")])
    sr2 = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=cfg,
    )
    with pytest.raises(StreamingQueryException, match="FOLDED"):
        sr2.run_available_now()
    assert sr2.table().current_version() == v  # aborted before commit
    got = {(r["path"], r["lsn"]) for r in sr2.table().read().collect()}
    assert got == {("b.py", 2)}  # table unchanged; a.py not resurrected

    # the fold boundary survives a rebucket (layout evolution) too
    v2 = sr2.table().rebucket(4)
    assert sr2.table().manifest().summary["max_folded_delete_ord"] == ["c05", 5]
    assert sr2.table().manifest().version == v2


def test_stream_dirty_rows_quarantined_and_limited(spark, tmp_path):
    """A stream batch runs the engine's dirty gate: NULL-key and
    NULL-order events are quarantined under
    <checkpoint_root>/quarantine/epoch=<batch id> and never reach the
    table, and dirty_record_limit fails the batch before its commit."""
    from dataclasses import replace

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [("r", "a.py", "U", "c01", 1, "py", "v1")])
    strict = StreamReplay(
        spark, ev, str(tmp_path / "strict"), str(tmp_path / "ckpt_strict"),
        config=replace(CFG, dirty_record_limit=0),
    )
    strict.run_available_now()
    v0 = strict.table().current_version()

    _one_file(spark, ev, [
        ("r", None, "U", "c02", 2, "py", "x1"),  # NULL key
        ("r", "b.py", "U", None, 3, "py", "y1"),  # NULL order
        ("r", "c.py", "U", "c04", 4, "py", "z1"),
    ])
    with pytest.raises(StreamingQueryException, match="dirty records exceed"):
        strict.run_available_now()
    assert strict.table().current_version() == v0
    assert {r["path"] for r in strict.table().read().collect()} == {"a.py"}

    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        config=CFG, max_files_per_trigger=1,
    )
    sr.run_available_now()
    assert sr.applied_batches == [0, 1]
    assert {r["path"] for r in sr.table().read().collect()} == {"a.py", "c.py"}
    q = spark.read.parquet(str(tmp_path / "ckpt" / "quarantine" / "epoch=1"))
    assert {(r["path"], r["commit"]) for r in q.collect()} == {
        (None, "c02"), ("b.py", None),
    }
    assert sr.table().manifest().summary["n_dirty"] == 2


def test_stream_mor_compact_every(spark, tmp_path):
    """compact_every in the streaming sink: a MoR stream compacting
    after every 2nd batch id leaves no pending deltas after 4 batches
    and still matches the oracle."""
    import time as _t
    from dataclasses import replace

    spec = ChangelogSpec(n_events=4_000, n_repos=10, paths_per_repo=40,
                         events_per_epoch=1_000, seed=29)
    full = events_df(spark, spec)
    ev = str(tmp_path / "events")
    for e in range(spec.n_epochs):  # one file per epoch, in event order
        full.filter(F.col("epoch") == e).drop("epoch").coalesce(1).write.parquet(
            f"{ev}/epoch={e}"
        )
        _t.sleep(1.05)
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        config=replace(CFG, merge_strategy="mor", compact_every=2),
        max_files_per_trigger=1,
    )
    sr.run_available_now()
    assert sr.applied_batches == [0, 1, 2, 3]
    m = sr.table().manifest()
    assert not any(m.delta_files.values()) and not any(m.delta_row_counts.values())
    _assert_matches(sr.table().read(), ev)


def test_stream_materialized_view_follows_batches(spark, tmp_path):
    """ReplayConfig.materialized_views in the STREAMING sink: attached
    views advance with every applied micro-batch and equal a recompute
    of the table state after the drain."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from datax_spark.lake.matview import AggView, AggViewSpec

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r1", "a.py", "U", "c01", 1, "py", "v1"),
        ("r1", "b.rs", "U", "c02", 2, "rs", "w1"),
        ("r2", "c.py", "U", "c03", 3, "py", "x1"),
    ])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()  # table now exists; attach the view

    vroot = str(tmp_path / "view")
    view = AggView.create(
        spark, vroot, sr.table(),
        AggViewSpec(group_cols=("repo",), sum_cols=("lsn",), max_cols=("lsn",)),
        num_buckets=4,
    )
    cfg = replace(CFG, materialized_views=(vroot,))

    # update + delete + new repo across two more batches
    _one_file(spark, ev, [
        ("r1", "a.py", "U", "c04", 4, "py", "v2"),
        ("r1", "b.rs", "D", "c05", 5, None, None),
    ])
    _one_file(spark, ev, [("r3", "d.go", "U", "c06", 6, "go", "y1")])
    sr2 = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=cfg,
    )
    sr2.run_available_now()

    assert view.synced_version() == sr2.table().current_version()
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(
        tuple(r)
        for r in sr2.table().read()
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("lsn").alias("sum_lsn"),
             F.max("lsn").alias("max_lsn"))
        .collect()
    )
    assert got == want


def test_stream_view_cadence_heals_at_drain_end(spark, tmp_path):
    """view_refresh_every larger than the batch count: every per-batch
    refresh is skipped, the drain-end heal still converges the view."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from datax_spark.lake.matview import AggView, AggViewSpec

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [("r1", "a.py", "U", "c01", 1, "py", "v1")])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()

    vroot = str(tmp_path / "view")
    view = AggView.create(
        spark, vroot, sr.table(),
        AggViewSpec(group_cols=("repo",), sum_cols=("lsn",)), num_buckets=4,
    )
    cfg = replace(CFG, materialized_views=(vroot,), view_refresh_every=5)
    _one_file(spark, ev, [("r2", "b.rs", "U", "c02", 2, "rs", "w1")])
    sr2 = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=cfg,
    )
    sr2.run_available_now()
    assert view.synced_version() == sr2.table().current_version()
    got = sorted(tuple(r) for r in view.read().collect())
    want = sorted(
        tuple(r)
        for r in sr2.table().read().groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("lsn").alias("sum_lsn"))
        .collect()
    )
    assert got == want


def test_stream_join_view_follows_batches(spark, tmp_path):
    """ReplayConfig.join_views in the STREAMING sink: the fact ⋈ dim
    view advances with every applied micro-batch (and to the dim's
    head) and equals a recompute after the drain."""
    from dataclasses import replace

    from pyspark.sql import functions as F
    from pyspark.sql import types as TT

    from datax_spark.lake.joinview import JoinView, JoinViewSpec
    from datax_spark.lake.merge import merge_into
    from datax_spark.lake.table import LakeTable

    ev = str(tmp_path / "events")
    _one_file(spark, ev, [
        ("r1", "a.py", "U", "c01", 1, "py", "v1"),
        ("r2", "c.go", "U", "c02", 2, "go", "x1"),
    ])
    sr = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=CFG,
    )
    sr.run_available_now()  # table exists; build dim + view

    dschema = TT.StructType([
        TT.StructField("lang", TT.StringType()),
        TT.StructField("family", TT.StringType()),
    ])
    dim = LakeTable.create(
        spark, str(tmp_path / "dim"), dschema, key_cols=["lang"], num_buckets=2
    )
    merge_into(dim, spark.createDataFrame(
        [("py", "script", "U"), ("go", "native", "U")],
        TT.StructType(dschema.fields + [TT.StructField("op", TT.StringType())]),
    )).commit()
    vroot = str(tmp_path / "view")
    view = JoinView.create(
        spark, vroot, sr.table(), dim,
        JoinViewSpec(on=(("lang", "lang"),), how="left", right_prefix="d_"),
        num_buckets=4,
    )
    cfg = replace(CFG, join_views=((vroot, str(tmp_path / "dim")),))

    _one_file(spark, ev, [
        ("r1", "a.py", "U", "c04", 4, "go", "v2"),  # fk change
        ("r3", "d.rs", "U", "c05", 5, "rs", "y1"),  # dim miss -> nulls
    ])
    sr2 = StreamReplay(
        spark, ev, str(tmp_path / "table"), str(tmp_path / "ckpt"), config=cfg,
    )
    sr2.run_available_now()

    assert view.synced_versions() == (
        sr2.table().current_version(), dim.current_version()
    )
    d = dim.read().select(
        F.col("lang").alias("__dl"), F.col("family").alias("d_family")
    )
    cols = [f.name for f in view.table.manifest().schema.fields]
    want = sorted(
        tuple(r)
        for r in sr2.table().read()
        .join(d, on=F.col("lang") == F.col("__dl"), how="left")
        .select(*cols).collect()
    )
    got = sorted(tuple(r) for r in view.read().collect())
    assert got == want

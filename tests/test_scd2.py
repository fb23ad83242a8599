"""SCD2 history target (lake/scd2.py) vs the sequential pandas oracle."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.lake.scd2 import (
    Scd2Config,
    Scd2Engine,
    Scd2OrderError,
    history_as_of,
)
from datax_spark.lake.table import LakeTable, bucket_expr_for
from datax_spark.oracle import sequential_apply, sequential_scd2

SPEC = ChangelogSpec(
    n_events=6_000,
    n_repos=12,
    paths_per_repo=40,
    events_per_epoch=2_000,
    evolve_from_epoch=2,  # lang_variant appears mid-stream
    seed=7,
)


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scd2_events"))
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def engine(spark, changelog, tmp_path_factory):
    troot = str(tmp_path_factory.mktemp("scd2_table") / "hist")
    eng = Scd2Engine(
        spark, changelog, troot, Scd2Config(num_buckets=8, compact_every=2)
    )
    results = eng.run()
    assert [r.epoch for r in results] == [0, 1, 2]
    assert not any(r.skipped for r in results)
    return eng


def _engine_frame(engine) -> pd.DataFrame:
    pdf = engine.table().read().toPandas()
    pdf["valid_to_lsn"] = pdf["valid_to_lsn"].astype("Int64")
    cols = [
        "repo", "path", "commit", "lsn", "lang", "content", "lang_variant",
        "valid_to_commit", "valid_to_lsn", "is_current",
    ]
    return pdf[cols].sort_values(["repo", "path", "lsn"]).reset_index(drop=True)


def test_full_history_equals_oracle(engine, changelog):
    got = _engine_frame(engine)
    want = sequential_scd2(changelog)
    pd.testing.assert_frame_equal(got, want)
    # per-row content sha256 (the BASELINE invariant) over the history
    g = got["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if c is not None else None
    )
    w = want["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if c is not None else None
    )
    assert g.tolist() == w.tolist()


def test_current_rows_equal_lww_state(engine, changelog):
    """The open intervals ARE the LWW final state (minus deleted keys)."""
    cur = (
        engine.table()
        .read(filters=[("is_current", "=", True)])
        .select("repo", "path", "commit", "lsn", "lang", "content", "lang_variant")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = sequential_apply(changelog).drop(columns=["content_sha256"])
    pd.testing.assert_frame_equal(cur, want)


def test_exactly_once_and_order_gates(engine, spark, tmp_path):
    # duplicate epoch: skipped, table state unchanged
    v0 = engine.table().current_version()
    r = engine.apply_epoch(1)
    assert r.skipped and engine.table().current_version() == v0
    # contiguity: an epoch past the watermark+1 is refused
    import os

    ev_root = str(tmp_path / "events")
    cols = ["repo", "path", "commit", "lsn", "lang", "content", "op"]
    for e in (0, 2):
        spark.createDataFrame(
            [("r1", f"f{e}.py", f"c{e:02d}", e * 10 + 1, "python", "x", "I")], cols
        ).write.parquet(os.path.join(ev_root, f"epoch={e}"))
    eng = Scd2Engine(spark, ev_root, str(tmp_path / "hist"), Scd2Config(num_buckets=4))
    eng.apply_epoch(0)
    with pytest.raises(ValueError, match="out-of-order"):
        eng.apply_epoch(2)


def test_history_colocates_per_key(engine):
    """bucket_cols routing: every version of a key lives in ONE bucket,
    even though the identity key (repo, path, lsn) differs per row."""
    t = engine.table()
    m = t.manifest()
    assert m.bucket_cols == ["repo", "path"]
    df = t.read().withColumn("__b", bucket_expr_for(m))
    n_multi = (
        df.groupBy("repo", "path")
        .agg(F.countDistinct("__b").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert n_multi == 0


def test_as_of_position_query(engine, changelog):
    """history_as_of at a mid-log position == replaying the log cut at
    that position (cut by (commit, lsn) order, the engine's clock)."""
    hist = sequential_scd2(changelog)
    closed = hist[~hist["is_current"]]
    # a position strictly inside the log: some key's valid_to event
    pos = closed.sort_values(["valid_to_commit", "valid_to_lsn"]).iloc[
        len(closed) // 2
    ]
    pc, pl = pos["valid_to_commit"], int(pos["valid_to_lsn"])
    got = (
        history_as_of(engine.table(), pc, pl)
        .select("repo", "path", "lsn", "content")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    # oracle as-of from the history frame itself: interval covers pos
    k = hist
    frm = list(zip(k["commit"], k["lsn"]))
    to = list(zip(k["valid_to_commit"], k["valid_to_lsn"]))
    mask = [
        f <= (pc, pl) and (cur or (t > (pc, pl)))
        for f, t, cur in zip(frm, to, k["is_current"])
    ]
    want = (
        k[mask][["repo", "path", "lsn", "content"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_order_guard_refuses_history_rewrite(spark, tmp_path):
    """An epoch carrying an event at/before a key's open row aborts
    before the commit and leaves the table untouched."""
    import os

    ev_root = str(tmp_path / "events")
    rows0 = [("r1", "a.py", "c05", 50, "python", "v1", "I")]
    rows1 = [("r1", "a.py", "c01", 10, "python", "stale", "U")]  # BEFORE c05
    cols = ["repo", "path", "commit", "lsn", "lang", "content", "op"]
    for e, rows in ((0, rows0), (1, rows1)):
        spark.createDataFrame(rows, cols).write.parquet(
            os.path.join(ev_root, f"epoch={e}")
        )
    eng = Scd2Engine(spark, ev_root, str(tmp_path / "hist"), Scd2Config(num_buckets=4))
    eng.apply_epoch(0)
    v0 = eng.table().current_version()
    with pytest.raises(Scd2OrderError, match="closed history"):
        eng.apply_epoch(1)
    assert eng.table().current_version() == v0
    assert eng.table().last_epoch == 0


def test_restart_resume(spark, changelog, tmp_path):
    """run() after a partial run resumes at the watermark and converges
    to the same history."""
    troot = str(tmp_path / "hist")
    eng = Scd2Engine(spark, changelog, troot, Scd2Config(num_buckets=8))
    eng.apply_epoch(0)
    results = Scd2Engine(spark, changelog, troot, Scd2Config(num_buckets=8)).run()
    assert [r.skipped for r in results] == [True, False, False]
    got = _engine_frame(eng)
    pd.testing.assert_frame_equal(got, sequential_scd2(changelog))


def test_cli_scd2_job(spark, changelog, tmp_path, capsys):
    """CLI job kind {"scd2": ...}: applies all epochs, and a re-run is
    an idempotent no-op (the scheduled-sync shape)."""
    import json

    from datax_spark.cli import main

    troot = str(tmp_path / "hist")
    spec = {"scd2": {"events_root": changelog, "table_root": troot,
                     "num_buckets": 8}}
    job = tmp_path / "job.json"
    job.write_text(json.dumps(spec))
    assert main(["--job", str(job)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "scd2" and out["applied"] == [0, 1, 2]
    table = Scd2Engine(spark, changelog, troot).table()
    assert table.read().count() == len(sequential_scd2(changelog))
    # the one plan: every data file is a tiered open or closed file
    names = [p.rsplit("/", 1)[-1] for fs in table.manifest().files.values() for p in fs]
    assert names and all("-open" in n or "-closed" in n for n in names)
    assert not table.manifest().delta_files
    assert main(["--job", str(job)]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["applied"] == [] and out2["skipped"] == [0, 1, 2]


def test_tiered_closed_files_immutable(spark, changelog, tmp_path):
    """Tiered layout: an epoch never touches a closed file — every
    closed file written by epoch N is still listed, byte-identical, at
    the end; only open files get replaced. This is the property that
    keeps epoch cost flat while the history grows."""
    import hashlib as hl
    import os

    troot = str(tmp_path / "hist")
    eng = Scd2Engine(
        spark, changelog, troot,
        Scd2Config(num_buckets=8, compact_every=None),
    )

    def snapshot_closed():
        m = eng.table().manifest()
        out = {}
        for fs in m.files.values():
            for p in fs:
                if "-closed" in os.path.basename(p):
                    with open(os.path.join(troot, p), "rb") as fh:
                        out[p] = hl.sha256(fh.read()).hexdigest()
        return out

    eng.apply_epoch(0)
    c0 = snapshot_closed()
    eng.apply_epoch(1)
    c1 = snapshot_closed()
    assert set(c0) <= set(c1) and all(c1[p] == h for p, h in c0.items())
    eng.apply_epoch(2)
    c2 = snapshot_closed()
    assert set(c1) <= set(c2) and all(c2[p] == h for p, h in c1.items())

    # compaction concatenates closed files without changing the frame
    before = _engine_frame(eng)
    from datax_spark.lake.scd2 import compact_closed

    assert compact_closed(eng.table()) > 0
    pd.testing.assert_frame_equal(_engine_frame(eng), before)
    pd.testing.assert_frame_equal(before, sequential_scd2(changelog))

    # current-state reads skip every closed file via is_current stats
    kept, skipped = eng.table().plan_files([("is_current", "=", True)])
    assert all("-open" in os.path.basename(p) for p in kept)
    assert all("-closed" in os.path.basename(p) for p in skipped) and skipped


def test_bucket_cols_validation(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("v", T.LongType())])
    with pytest.raises(ValueError, match="subset of key_cols"):
        LakeTable.create(spark, str(tmp_path / "t1"), schema, ["k"],
                         bucket_cols=["v"])
    with pytest.raises(ValueError, match="non-empty"):
        LakeTable.create(spark, str(tmp_path / "t2"), schema, ["k"],
                         bucket_cols=[])
    # full-key bucket_cols normalizes to the default form
    t = LakeTable.create(spark, str(tmp_path / "t3"), schema, ["k"],
                         bucket_cols=["k"])
    assert t.manifest().bucket_cols == []


def test_tiered_apply_routes_one_bucket_per_task(spark, changelog, tmp_path, monkeypatch):
    """The tiered apply runs the merge's bucket kernel: routed by
    ``repartitionById(num_buckets, __b)`` (a shufflepartitionidpassthrough
    exchange, which AQE never coalesces) with the partition == bucket
    assert, never a groupBy's FlatMapGroupsInPandas."""
    import io
    from contextlib import redirect_stdout

    from datax_spark.lake import scd2

    plans = []
    real = scd2.aligned_bucket_apply

    def spy(upd, bucket_fn, nb, **kw):
        frame = real(upd, bucket_fn, nb, **kw)
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain()
        plans.append(buf.getvalue())
        return frame

    monkeypatch.setattr(scd2, "aligned_bucket_apply", spy)
    eng = Scd2Engine(
        spark, changelog, str(tmp_path / "hist"),
        Scd2Config(num_buckets=8, compact_every=None),
    )
    eng.apply_epoch(0)
    eng.apply_epoch(1)  # the stitch onto existing open rows
    assert len(plans) == 2
    for plan in plans:
        assert "FlatMapGroupsInPandas" not in plan
        assert "MapInArrow" in plan
        # the epoch's one exchange routes its events; the stitch, the
        # re-delivery dedup and the open-row read are in the kernel
        assert plan.count("Exchange") == 1
        assert plan.count("shufflepartitionidpassthrough") == 1
        assert "Window" not in plan and "BroadcastExchange" not in plan


def _write_epochs(spark, root, epochs):
    import os

    cols = ["repo", "path", "commit", "lsn", "lang", "content", "op"]
    for e, rows in enumerate(epochs):
        spark.createDataFrame(rows, cols).write.parquet(
            os.path.join(root, f"epoch={e}")
        )


def test_epoch_counters_match_event_log(spark, changelog, tmp_path):
    """versions_written = the interval rows an epoch adds (its non-delete
    events after re-delivery de-duplication); keys_touched = the distinct
    keys with an event — both counted from the event log itself."""
    eng = Scd2Engine(spark, changelog, str(tmp_path / "hist"), Scd2Config(num_buckets=8))
    results = eng.run()
    total = 0
    for r in results:
        ev = pd.read_parquet(f"{changelog}/epoch={r.epoch}").drop_duplicates(
            ["repo", "path", "commit", "lsn"]
        )
        assert r.versions_written == int((ev["op"] != "D").sum())
        assert r.keys_touched == len(ev[["repo", "path"]].drop_duplicates())
        total += r.versions_written
    assert total == eng.table().read().count()


def test_tie_with_open_row_raises(spark, tmp_path):
    """An event that ties a key's open row on (commit, lsn) is not
    strictly after it: the epoch aborts and the table is unchanged."""
    ev_root = str(tmp_path / "events")
    _write_epochs(spark, ev_root, [
        [("r1", "a.py", "c05", 50, "python", "v1", "I")],
        [("r1", "a.py", "c05", 50, "python", "v2", "U"),
         ("r1", "b.py", "c06", 60, "python", "w1", "I")],
    ])
    eng = Scd2Engine(spark, ev_root, str(tmp_path / "hist"), Scd2Config(num_buckets=4))
    eng.apply_epoch(0)
    v0 = eng.table().current_version()
    before = eng.table().read().toPandas()
    with pytest.raises(Scd2OrderError, match="1 event"):
        eng.apply_epoch(1)
    assert eng.table().current_version() == v0 and eng.table().last_epoch == 0
    pd.testing.assert_frame_equal(eng.table().read().toPandas(), before)


def test_in_epoch_redelivery_kept_once(spark, tmp_path):
    """An event delivered twice within one epoch becomes one version."""
    ev_root = str(tmp_path / "events")
    a1 = ("r1", "a.py", "c01", 10, "python", "v1", "I")
    a2 = ("r1", "a.py", "c02", 20, "python", "v2", "U")
    d = ("r1", "b.py", "c03", 30, "python", "w", "D")
    _write_epochs(spark, ev_root, [[a1, a2, a1, a2, a2], [d, d, a2[:3] + (21,) + a2[4:]]])
    eng = Scd2Engine(spark, ev_root, str(tmp_path / "hist"), Scd2Config(num_buckets=4))
    r0, r1 = eng.run()
    assert (r0.versions_written, r0.keys_touched) == (2, 1)
    assert (r1.versions_written, r1.keys_touched) == (1, 2)
    got = sorted(
        (r.lsn, r.valid_to_commit, r.valid_to_lsn, r.is_current)
        for r in eng.table().read().collect()
    )
    assert got == [(10, "c02", 20, False), (20, "c02", 21, False), (21, None, None, True)]


def test_non_tiered_layout_refused(spark, tmp_path):
    """A bucket file that is neither open nor closed (here a copy-on-write
    merge's) is refused before anything is written, naming the fix."""
    import os

    from datax_spark.lake.merge import merge_into

    ev_root = str(tmp_path / "events")
    _write_epochs(spark, ev_root, [
        [("r1", "a.py", "c01", 10, "python", "v1", "I")],
        [("r1", "a.py", "c02", 20, "python", "v2", "U")],
    ])
    troot = str(tmp_path / "hist")
    eng = Scd2Engine(spark, ev_root, troot, Scd2Config(num_buckets=4))
    eng.apply_epoch(0)
    t = eng.table()
    merge_into(t, t.read().withColumn("op", F.lit("U"))).commit()
    v = eng.table().current_version()
    txns = set(os.listdir(os.path.join(troot, "data")))
    with pytest.raises(ValueError, match="fresh table root"):
        eng.apply_epoch(1)
    assert eng.table().current_version() == v
    assert set(os.listdir(os.path.join(troot, "data"))) == txns

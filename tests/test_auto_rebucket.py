"""Adaptive bucket-count evolution (ReplayConfig.target_bucket_rows):
the engine grows the table's bucket layout as the key space grows —
the automated form of the num_buckets dial that bounds CoW blast
radius and per-task MoR merge memory at 10^10-event scale. Correctness
gate: final state must still equal the sequential pandas oracle
(per-row content sha256), through crashes and across merge plans."""

import pyspark.sql.functions as F
import pytest

from datax_spark.engine import ReplayConfig, ReplayCrash, ReplayEngine
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=9_000,
    n_repos=30,
    paths_per_repo=80,
    events_per_epoch=3_000,
    evolve_from_epoch=2,
    seed=23,
)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ev_rb") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].reset_index(drop=True)


def _state(table):
    df = table.read().withColumn("h", F.sha2("content", 256))
    for c in COLS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return (
        df.select(*COLS).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )


def _cfg(**kw):
    return ReplayConfig(num_buckets=4, target_bucket_rows=100, **kw)


def _engine(spark, events_root, tmp_path, name, cfg):
    return ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"table_{name}"),
        str(tmp_path / f"metrics_{name}"),
        cfg,
    )


def test_auto_rebucket_grows_and_matches_oracle(
    spark, events_root, expected, tmp_path
):
    eng = _engine(spark, events_root, tmp_path, "grow", _cfg())
    results = eng.run()
    fired = [r.rebucketed_to for r in results if r.rebucketed_to]
    assert fired, "threshold never triggered a rebucket"
    m = eng.table().manifest()
    assert m.num_buckets == fired[-1] > 4
    # power-of-two multiple of the seed count, back under target
    assert m.num_buckets % 4 == 0 and (m.num_buckets & (m.num_buckets - 1)) == 0
    rows = sum(m.row_counts.values())
    assert rows <= 100 * m.num_buckets
    pd_state = _state(eng.table())
    assert pd_state.equals(expected), "final state diverges from oracle"
    # watermark carried through the rebucket commits: replay is a no-op
    assert all(r.skipped for r in eng.run())


def test_auto_rebucket_crash_resume_exactly_once(
    spark, events_root, expected, tmp_path
):
    cfg = _cfg()
    eng = _engine(spark, events_root, tmp_path, "crash", cfg)
    # crash immediately after the first epoch's commit — BEFORE its
    # rebucket check ran; the threshold must re-trigger on resume
    with pytest.raises(ReplayCrash):
        eng.run(failpoints=("after_commit",))
    results = _engine(spark, events_root, tmp_path, "crash", cfg).run()
    assert results[0].skipped  # exactly-once gate
    assert any(r.rebucketed_to for r in results if not r.skipped)
    assert _state(eng.table()).equals(expected)


def test_auto_rebucket_mor_folds_deltas(spark, events_root, expected, tmp_path):
    cfg = _cfg(merge_strategy="mor")
    eng = _engine(spark, events_root, tmp_path, "mor", cfg)
    results = eng.run()
    assert any(r.rebucketed_to for r in results)
    m = eng.table().manifest()
    # the rebucket rewrote from the merged read, so pending deltas of
    # the rebucketed snapshot are folded into exact-count base files
    last_rb = max(i for i, r in enumerate(results) if r.rebucketed_to)
    if last_rb == len(results) - 1:
        assert not any(m.delta_files.values())
    assert _state(eng.table()).equals(expected)


def test_batch_change_feed_correct_across_rebucket(spark, events_root, tmp_path):
    """changes() across a window containing rebucket commits: endpoint
    layouts differ, so pruning falls back to the full diff — which must
    still be CORRECT: applying the feed to the from-snapshot state
    yields the to-snapshot state."""
    eng = _engine(spark, events_root, tmp_path, "cdf", _cfg())
    results = eng.run()
    assert any(r.rebucketed_to for r in results)
    t = eng.table()
    head = t.current_version()
    feed = t.changes(1, head)
    old = t.read(version=1)
    keys = ["repo", "path"]
    upserts = feed.filter(F.col("_change_type") != "delete").drop("_change_type")
    dels = feed.filter(F.col("_change_type") == "delete").select(*keys)
    # pre-evolution snapshots lack the evolved column
    for c in upserts.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast("string"))
    rebuilt = (
        old.join(feed.select(*keys).distinct(), on=keys, how="left_anti")
        .select(*upserts.columns)
        .unionByName(upserts)
        .join(dels, on=keys, how="left_anti")
    )
    got = {tuple(r) for r in rebuilt.select("repo", "path", "lsn").collect()}
    want = {tuple(r) for r in t.read().select("repo", "path", "lsn").collect()}
    assert got == want


@pytest.mark.parametrize("n_from,n_to", [(4, 3), (8, 12), (8, 4)])
def test_batch_change_feed_exact_across_manual_rebucket(spark, tmp_path, n_from, n_to):
    """changes() across a manual rebucket to a coprime (4→3), a
    non-doubling (8→12) or a halving (8→4) bucket count is exactly the
    per-key diff of the two snapshots, in both feed forms, with
    merge-on-read deltas pending on both sides of the window."""
    from datax_spark.lake import LakeTable, merge_into

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        schema=spark.createDataFrame([], "k string, v long").schema,
        key_cols=["k"], num_buckets=n_from,
    )

    def apply(rows, strategy="spj"):
        df = spark.createDataFrame(rows, "k string, v long, op string")
        merge_into(t, df, strategy=strategy).commit()

    apply([(f"k{i}", i, "U") for i in range(60)])                        # v1
    apply([(f"k{i}", 100 + i, "U") for i in range(0, 60, 7)], "mor")     # v2
    t.rebucket(n_to)                                                     # v3
    apply(
        [(f"k{i}", 1000 + i, "U" if i % 5 else "D") for i in range(0, 80, 2)]
        + [(f"k{i}", 100 + i, "U") for i in range(1, 60, 7) if i % 2],  # v4: same value
        "mor",
    )
    head = t.current_version()
    assert t.manifest(2).delta_files and t.manifest(head).delta_files

    old = {r.k: r.v for r in t.read(version=2).collect()}
    new = {r.k: r.v for r in t.read().collect()}
    want, want_pre = set(), set()
    for k in old.keys() | new.keys():
        if k not in new:
            want.add((k, old[k], "delete"))
        elif k not in old:
            want.add((k, new[k], "insert"))
        elif old[k] != new[k]:
            want.add((k, new[k], "update"))
            want_pre |= {(k, old[k], "update_preimage"), (k, new[k], "update_postimage")}
    want_pre |= {w for w in want if w[2] != "update"}
    assert any(w[2] == "update" for w in want) and any(w[2] == "delete" for w in want)

    feed = [(r.k, r.v, r._change_type) for r in t.changes(2, head).collect()]
    assert len(feed) == len(want) and set(feed) == want
    pre = [
        (r.k, r.v, r._change_type)
        for r in t.changes(2, head, include_preimage=True).collect()
    ]
    assert len(pre) == len(want_pre) and set(pre) == want_pre

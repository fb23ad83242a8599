"""Incremental (chunked) snapshot bootstrap interleaved with the live
tail — the DBLog / Debezium incremental-snapshot algorithm re-expressed
set-wise (reference analog: otsstreamreader's bounded export window,
OTSStreamReaderChecker.java:39-58 — state older than the retained
stream must come from a snapshot; at 10^10 source rows that snapshot
cannot be one consistent frame, so it loads chunk by chunk WHILE the
tail applies).

Invariants under test:
* begin(watermark) + tail epochs + key-range chunks captured at
  arbitrary low watermarks, interleaved, == sequential replay of the
  FULL log (per-row content sha256) — even though the pre-watermark
  epochs are physically absent from the engine's log;
* the same holds in watermark mode (chunks carry NO per-row lsn — a
  plain SELECT against a source with no log position column);
* a chunk captured BEFORE a delete that the tail has already applied
  must not resurrect the row (the DBLog window suppression — the
  reason chunked bootstrap is not just "upsert the chunk");
* chunk application is exactly-once per chunk_id: idempotent re-apply,
  crash-before-commit retries cleanly, crash-after-commit skips;
* chunks refuse op-typed frames and pre-watermark low watermarks;
* chunk lineage lands in negative metrics slots (-2, -3, ...) and the
  manifest summary records applied chunk ids in order.
"""

import hashlib
import shutil

import pyspark.sql.functions as F
import pytest

from datax_spark.engine import ReplayConfig, ReplayCrash, ReplayEngine
from datax_spark.engine.metrics import read_metrics
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=10_000,
    n_repos=30,
    paths_per_repo=70,
    events_per_epoch=2_000,
    evolve_from_epoch=2,
    seed=19,
)
T0 = 3_999  # tail starts after this: epochs 0-1 are expired history
CFG = ReplayConfig(num_buckets=16)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


def _key_parity(repo: str, path: str) -> int:
    return hashlib.md5(f"{repo}|{path}".encode()).digest()[0] % 2


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inc_ev") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def trunc_root(events_root, tmp_path_factory):
    """The engine's view of the log: epochs 0-1 have EXPIRED."""
    root = str(tmp_path_factory.mktemp("inc_trunc") / "events")
    shutil.copytree(events_root, root)
    shutil.rmtree(f"{root}/epoch=0")
    shutil.rmtree(f"{root}/epoch=1")
    return root


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].reset_index(drop=True)


def _chunk_state(spark, events_root, low_lsn, parity=None, with_lsn=True):
    """Source state as a chunk SELECT started at log position low_lsn
    would deliver it: the pandas sequential oracle cut at max_lsn,
    restricted to a deterministic key range."""
    st = sequential_apply(events_root, max_lsn=low_lsn)
    if parity is not None:
        mask = st.apply(lambda r: _key_parity(r["repo"], r["path"]) == parity, axis=1)
        st = st[mask]
    st = st.drop(columns=["content_sha256"])
    if not with_lsn:
        st = st.drop(columns=["lsn"])
    fields = {
        "repo": "string", "path": "string", "commit": "string",
        "lsn": "long", "lang": "string", "content": "string",
        "lang_variant": "string",
    }
    schema = ", ".join(f"{c} {fields[c]}" for c in st.columns)
    return spark.createDataFrame(st, schema)


def _engine(spark, events_root, tmp_path, name, cfg=CFG):
    return ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"table_{name}"),
        str(tmp_path / f"metrics_{name}"),
        cfg,
    )


def _state(eng, cols=COLS):
    sel = [c for c in ["repo", "path", "commit", "lsn", "lang"] if c in cols]
    return (
        eng.table()
        .read()
        .select(*sel, F.sha2("content", 256).alias("h"), "lang_variant")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)[cols]
    )


def _like(spark, trunc_root):
    return spark.read.parquet(trunc_root).drop("op", "epoch")


def _interleaved_run(
    spark, trunc_root, events_root, tmp_path, name, with_lsn, cfg=CFG
):
    eng = _engine(spark, trunc_root, tmp_path, name, cfg)
    b = eng.begin_incremental_bootstrap(_like(spark, trunc_root), T0)
    assert not b.skipped and b.rows_after == 0

    r2 = eng.apply_epoch(2)  # tail reaches lsn 5999
    assert r2.n_events == SPEC.events_per_epoch
    if cfg.merge_strategy == "mor":
        # the chunks below merge into buckets with pending deltas
        assert eng.table().manifest().delta_files

    # chunk A (half the key space) captured mid-tail: its suppression
    # window (5000, 5999] is non-empty, so some rows must be superseded
    ca = eng.bootstrap_chunk(
        _chunk_state(spark, events_root, 5_000, parity=0, with_lsn=with_lsn),
        "chunk-a", 5_000,
    )
    assert not ca.skipped and ca.n_applied > 0
    assert ca.n_superseded > 0
    assert ca.watermark_mode is (not with_lsn)

    eng.apply_epoch(3)  # tail reaches lsn 7999
    cb = eng.bootstrap_chunk(
        _chunk_state(spark, events_root, 7_000, parity=1, with_lsn=with_lsn),
        "chunk-b", 7_000,
    )
    assert not cb.skipped and cb.n_applied > 0

    eng.apply_epoch(4)
    return eng


def test_interleaved_chunks_equal_full_replay(
    spark, events_root, trunc_root, expected, tmp_path
):
    eng = _interleaved_run(spark, trunc_root, events_root, tmp_path, "main", True)
    assert _state(eng).equals(expected)

    # lineage: full-snapshot slot -1 (empty begin) + chunk slots -2, -3
    m = read_metrics(spark, eng.metrics_root)
    slots = {r["epoch"] for r in m.select("epoch").distinct().collect()}
    assert {-2, -3} <= slots
    assert eng.table().manifest().summary["bootstrap_chunks"] == [
        "chunk-a", "chunk-b",
    ]


def test_chunks_on_mor_engine_with_pending_deltas(
    spark, events_root, trunc_root, expected, tmp_path
):
    """On a merge_strategy='mor' engine the tail leaves delta files in
    the buckets each chunk merges into. The chunk's order-guarded spj
    merge reads those buckets' merged state (base ⊕ deltas), so the
    final state still equals the full replay — before and after
    compaction."""
    eng = _interleaved_run(
        spark, trunc_root, events_root, tmp_path, "mor", True,
        cfg=ReplayConfig(num_buckets=16, merge_strategy="mor"),
    )
    assert _state(eng).equals(expected)
    eng.table().compact()
    assert _state(eng).equals(expected)


def test_watermark_mode_chunks_without_lsn(
    spark, events_root, trunc_root, expected, tmp_path
):
    """Chunks with NO per-row log position (the realistic DBLog SELECT):
    rows are stamped lsn=low_lsn, so final-state lsn is not comparable,
    but every value column including the content sha must converge."""
    eng = _interleaved_run(spark, trunc_root, events_root, tmp_path, "wm", False)
    cols = [c for c in COLS if c != "lsn"]
    assert _state(eng, cols).equals(expected[cols])


def test_window_suppression_blocks_resurrection(spark, tmp_path):
    """Key deleted by the tail at lsn 20; a chunk captured at position
    15 (BEFORE the delete) still carries the row. Without the DBLog
    window anti-join the chunk upsert would resurrect it — the CoW
    table keeps no tombstone to order against."""
    ev_root = str(tmp_path / "events")
    rows = [
        ("r", "p", "I", "c010", 10, "python", "body-p"),
        ("r", "q", "I", "c011", 11, "python", "body-q"),
    ]
    schema = (
        "repo string, path string, op string, commit string, "
        "lsn long, lang string, content string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{ev_root}/epoch=0"
    )
    spark.createDataFrame(
        [("r", "p", "D", "c020", 20, "python", None)], schema
    ).coalesce(1).write.parquet(f"{ev_root}/epoch=1")

    eng = _engine(spark, ev_root, tmp_path, "resurrect",
                  ReplayConfig(num_buckets=4))
    eng.run()  # (r,p) inserted then deleted; (r,q) live

    # chunk captured at lsn 15: reflects both inserts, not the delete;
    # watermark mode (no per-row lsn) — the dangerous case
    chunk = spark.createDataFrame(
        [("r", "p", "c010", "python", "body-p"),
         ("r", "q", "c011", "python", "body-q")],
        ["repo", "path", "commit", "lang", "content"],
    )
    res = eng.bootstrap_chunk(chunk, "danger", 15)
    assert res.n_superseded == 1  # (r,p) suppressed by the window
    got = eng.table().read().select("repo", "path", "content").collect()
    assert {(r["repo"], r["path"]) for r in got} == {("r", "q")}


def test_chunk_exactly_once(spark, events_root, trunc_root, tmp_path):
    eng = _engine(spark, trunc_root, tmp_path, "eo")
    eng.begin_incremental_bootstrap(_like(spark, trunc_root), T0)
    eng.apply_epoch(2)
    chunk = _chunk_state(spark, events_root, 5_000, parity=0)

    # crash between write and commit: nothing visible, retry owns it
    with pytest.raises(ReplayCrash):
        eng.bootstrap_chunk(chunk, "c0", 5_000, failpoints=["after_write"])
    assert "bootstrap_chunks" not in eng.table().manifest().summary
    v0 = eng.table().current_version()
    r1 = eng.bootstrap_chunk(chunk, "c0", 5_000)
    assert not r1.skipped and r1.version > v0

    # duplicate id: skipped, no new version
    r2 = eng.bootstrap_chunk(chunk, "c0", 5_000)
    assert r2.skipped and eng.table().current_version() == r1.version

    # crash after commit: committed — the retry skips
    with pytest.raises(ReplayCrash):
        eng.bootstrap_chunk(chunk, "c1", 5_000, failpoints=["after_commit"])
    r3 = eng.bootstrap_chunk(chunk, "c1", 5_000)
    assert r3.skipped
    assert eng.table().manifest().summary["bootstrap_chunks"] == ["c0", "c1"]


def test_chunk_validations(spark, events_root, trunc_root, tmp_path):
    eng = _engine(spark, trunc_root, tmp_path, "val")
    eng.begin_incremental_bootstrap(_like(spark, trunc_root), T0)
    chunk = _chunk_state(spark, events_root, 5_000, parity=0)
    with pytest.raises(ValueError, match="STATE"):
        eng.bootstrap_chunk(chunk.withColumn("op", F.lit("I")), "x", 5_000)
    with pytest.raises(ValueError, match="predates the tail-start"):
        eng.bootstrap_chunk(chunk, "x", T0 - 1)
    with pytest.raises(ValueError, match="key/order columns"):
        eng.bootstrap_chunk(chunk.drop("commit"), "x", 5_000)
    with pytest.raises(ValueError, match="non-empty"):
        eng.bootstrap_chunk(chunk, "", 5_000)


def test_chunk_first_then_full_tail(spark, events_root, tmp_path):
    """A chunk may land before ANY epoch (empty suppression window,
    table created from the chunk's schema); replaying the whole log on
    top converges — epoch winners supersede or match chunk images."""
    full_state = _chunk_state(spark, events_root, 1_999)  # end of epoch 0
    eng = _engine(spark, events_root, tmp_path, "cf")
    res = eng.bootstrap_chunk(full_state, "warm", 1_999)
    assert not res.skipped and res.n_superseded == 0
    eng.run()
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    assert _state(eng).equals(exp[COLS].reset_index(drop=True))

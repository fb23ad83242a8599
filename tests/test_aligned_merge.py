"""Bucket placement: one hash, one merge route.

Every table buckets on murmur3, so a row's bucket id equals Spark's own
shuffle partition id (``pmod(Murmur3Hash(route_cols), n)`` is
hashpartitioning's partitionIdExpression). The engine's dedup
aggregation's exchange therefore doubles as the bucket routing (the
aligned epoch: no exchange of the merge's own), and every other
``merge_into`` caller is routed by one ``repartitionById(n, bucket)``.
These tests pin the identity itself, that every write route places each
row in the file of its murmur3 bucket, and the fail-loud paths.
"""

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from datax_spark.engine.replay import (
    ReplayConfig,
    ReplayEngine,
    aligned_shuffle_confs,
)
from datax_spark.fixtures import ChangelogSpec, write_events
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable, bucket_expr_for
from datax_spark.operators.dedup import lww_dedup
from datax_spark.oracle import sequential_apply

SPEC = ChangelogSpec(
    n_events=9_000,
    n_repos=30,
    paths_per_repo=70,
    events_per_epoch=3_000,
    evolve_from_epoch=2,
    seed=23,
)
COLS = ["repo", "path", "commit", "lsn", "lang", "h", "lang_variant"]


@pytest.fixture(scope="module")
def events_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("aev") / "events")
    write_events(spark, SPEC, root)
    return root


@pytest.fixture(scope="module")
def expected(events_root):
    exp = sequential_apply(events_root).rename(columns={"content_sha256": "h"})
    return exp[COLS].sort_values(["repo", "path"]).reset_index(drop=True)


def _state(eng):
    return _table_state(eng.table())


def _table_state(table):
    df = table.read().withColumn("h", F.sha2("content", 256))
    for c in COLS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return (
        df.select(*COLS).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )


@pytest.mark.parametrize("nb", [5, 16])
def test_murmur3_bucket_equals_shuffle_partition(spark, nb):
    """The identity everything rests on: after a groupBy(keys) agg run
    with exactly nb shuffle partitions (AQE coalescing off), every
    output row sits in partition pmod(murmur3(keys), nb) — i.e. in the
    partition that IS its murmur3 bucket. Adversarial keys included
    (unicode, empty strings, embedded NULs, shared prefixes)."""
    rows = [
        (f"repo-{i % 37}", f"p/{i % 53}/f{i}.py", i) for i in range(4_000)
    ] + [
        ("", "", 0),
        ("日本語リポ", "src/ファイル.py", 1),
        ("a" * 300, "b" * 300, 2),
        ("nul\x00key", "path\x00x", 3),
        ("repo-1", "p/1/f1.py ", 4),  # trailing space: distinct key
    ]
    df = spark.createDataFrame(rows, "repo string, path string, v long")
    with aligned_shuffle_confs(spark, nb):
        agg = df.groupBy("repo", "path").agg(F.max("v").alias("v"))
        bad = (
            agg.select(
                (
                    F.pmod(F.hash("repo", "path"), F.lit(nb)).cast("int")
                    == F.spark_partition_id()
                ).alias("ok")
            )
            .filter(~F.col("ok"))
            .count()
        )
    assert bad == 0


def test_aligned_confs_restored(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with aligned_shuffle_confs(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert (
            spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
            == "false"
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    )


def _assert_murmur3_placement(spark, table):
    """Every row of every data and delta file sits in the bucket
    ``pmod(murmur3(route cols), num_buckets)`` — computed here with
    ``F.hash`` itself, not the table's own bucket expression."""
    m = table.manifest()
    route = list(m.bucket_cols or m.key_cols)
    parts = []
    for files in (m.files, m.delta_files):
        for b, rel in files.items():
            for p in rel:
                part = pq.read_table(os.path.join(table.root, p), columns=route)
                parts.append(part.to_pandas().assign(file_bucket=int(b)))
    placed = pd.concat(parts, ignore_index=True)
    assert len(placed)
    df = spark.createDataFrame(placed)
    expect = F.pmod(F.hash(*route), F.lit(m.num_buckets))
    assert df.filter(expect != F.col("file_bucket")).count() == 0


def _engine(spark, events_root, tmp_path, name, **kw):
    return ReplayEngine(
        spark, events_root, str(tmp_path / f"t_{name}"),
        str(tmp_path / f"m_{name}"), ReplayConfig(num_buckets=16, **kw),
    )


ROUTES = ["epoch_spj", "epoch_mor", "merge_into", "merge_into_grouped",
          "bucket_cols", "bootstrap_chunk", "rebucket"]


@pytest.mark.parametrize("route", ROUTES)
def test_bucket_placement_every_route(
    spark, events_root, expected, tmp_path, route
):
    """Each write route places every row in the file of its murmur3
    bucket, and the final state equals the sequential-apply oracle:
    the engine's aligned epoch (spj, and mor through compaction),
    merge_into from an unrouted frame and from a groupBy output already
    hash-partitioned on the keys into num_buckets partitions (Spark
    would drop a hash repartition on the keys as redundant, and AQE
    coalesces that groupBy's shuffle), a table routed on a key subset
    (bucket_cols), an incremental-bootstrap chunk, and epochs after a
    rebucket to a non-power-of-two count."""
    if route in ("epoch_spj", "epoch_mor"):
        strategy = route.split("_")[1]
        kw = {"compact_every": 2} if strategy == "mor" else {}
        eng = _engine(spark, events_root, tmp_path, route, merge_strategy=strategy, **kw)
        results = eng.run(through_epoch=0)
        _assert_murmur3_placement(spark, eng.table())
        results += eng.run()
        assert sum(r.n_events for r in results) == SPEC.n_events
        table = eng.table()
    elif route.startswith("merge_into"):
        grouped = route == "merge_into_grouped"
        nb = int(spark.conf.get("spark.sql.shuffle.partitions")) if grouped else 16
        e0 = spark.read.parquet(f"{events_root}/epoch=0")
        table = LakeTable.create(
            spark, str(tmp_path / f"t_{route}"), schema=e0.drop("op").schema,
            key_cols=["repo", "path"], num_buckets=nb,
        )
        for e in range(3):
            ev = spark.read.parquet(f"{events_root}/epoch={e}")
            latest = lww_dedup(ev, ["repo", "path"], ["commit", "lsn"])
            merge_into(table, latest if grouped else latest.repartition(7)).commit()
            _assert_murmur3_placement(spark, table)
    elif route == "bucket_cols":
        e0 = spark.read.parquet(f"{events_root}/epoch=0")
        LakeTable.create(
            spark, str(tmp_path / "t_bucket_cols"), schema=e0.drop("op").schema,
            key_cols=["repo", "path"], bucket_cols=["repo"], num_buckets=16,
        )
        eng = _engine(spark, events_root, tmp_path, route)
        eng.run()
        table = eng.table()
        assert table.manifest().bucket_cols == ["repo"]
    elif route == "bootstrap_chunk":
        # the tail starts after epoch 0, which the chunk supplies
        tail = str(tmp_path / "tail_events")
        shutil.copytree(events_root, tail)
        shutil.rmtree(f"{tail}/epoch=0")
        w = SPEC.events_per_epoch - 1
        eng = _engine(spark, tail, tmp_path, route)
        eng.begin_incremental_bootstrap(
            spark.read.parquet(tail).drop("op", "epoch"), w
        )
        chunk = sequential_apply(events_root, max_lsn=w).drop(
            columns=["content_sha256"]
        )
        chunk_df = spark.createDataFrame(
            chunk[["repo", "path", "commit", "lsn", "lang", "content"]]
        )
        assert eng.bootstrap_chunk(chunk_df, "c0", w).n_applied == len(chunk)
        _assert_murmur3_placement(spark, eng.table())
        eng.run()
        table = eng.table()
    else:
        eng = _engine(spark, events_root, tmp_path, route)
        eng.run(through_epoch=0)
        eng.table().rebucket(7)
        _assert_murmur3_placement(spark, eng.table())
        eng.run()
        table = eng.table()
        assert table.manifest().num_buckets == 7
    _assert_murmur3_placement(spark, table)
    pd.testing.assert_frame_equal(
        _table_state(table).fillna("∅"), expected.fillna("∅"), check_dtype=False
    )


def test_aligned_crash_replay_exactly_once(spark, events_root, expected, tmp_path):
    from datax_spark.engine.replay import ReplayCrash

    cfg = ReplayConfig(num_buckets=16)
    eng = ReplayEngine(
        spark, events_root, str(tmp_path / "t_crash"), str(tmp_path / "m_crash"), cfg
    )
    eng.run(through_epoch=0)
    with pytest.raises(ReplayCrash):
        eng.apply_epoch(1, failpoints=["after_write"])
    eng.run()
    pd.testing.assert_frame_equal(
        _state(eng).fillna("∅"), expected.fillna("∅"), check_dtype=False
    )


def test_aligned_detects_broken_partitioning(spark, events_root, tmp_path):
    """A transform that repartitions destroys the partition==bucket
    identity of the engine's default (aligned) epoch; the executor-side
    assert must fail the epoch loudly (before commit), never write keys
    to wrong buckets."""
    from py4j.protocol import Py4JJavaError

    cfg = ReplayConfig(
        num_buckets=16,
        transforms=(lambda df: df.repartition(7),),
    )
    eng = ReplayEngine(
        spark, events_root, str(tmp_path / "t_bad"), str(tmp_path / "m_bad"), cfg
    )
    with pytest.raises(Exception) as ei:
        eng.run(through_epoch=0)
    assert "aligned merge precondition broken" in str(ei.value)
    assert not LakeTable.exists(str(tmp_path / "t_bad")) or (
        eng.table().last_epoch == -1
    )


def test_hash_fn_manifest_roundtrip_and_rebucket(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"r{i}", f"p{i}", i) for i in range(500)],
        "repo string, path string, v long",
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "t_rt"),
        schema=df.schema,
        key_cols=["repo", "path"],
        num_buckets=4,
    )
    pend = merge_into(t, df.withColumn("op", F.lit("U")))
    pend.commit()
    t2 = LakeTable.load(spark, str(tmp_path / "t_rt"))
    assert _manifest_json(t2)["hash_fn"] == "murmur3"
    # physical placement actually follows murmur3: every row's file
    # bucket equals pmod(murmur3(keys), nb)
    m = t2.manifest()
    got = (
        t2.read()
        .withColumn("__expect", bucket_expr_for(m))
        .select("repo", "path", "__expect")
        .toPandas()
        .set_index(["repo", "path"])["__expect"]
    )
    for b, rel in m.files.items():
        import pyarrow.parquet as pq

        for p in rel:
            tb = pq.read_table(os.path.join(t2.root, p), columns=["repo", "path"])
            for r, pth in zip(tb["repo"].to_pylist(), tb["path"].to_pylist()):
                assert int(got.loc[(r, pth)]) == int(b)
    # rebucket records the same hash function
    t2.rebucket(8)
    assert _manifest_json(t2)["hash_fn"] == "murmur3"
    assert t2.manifest().num_buckets == 8
    assert t2.read().count() == 500


def _manifest_json(t):
    path = os.path.join(t.root, "_manifests", f"v{t.current_version():08d}.json")
    with open(path) as fh:
        return json.load(fh)


@pytest.mark.parametrize("hash_fn", [None, "xxhash64"])
def test_other_hash_manifest_refused(spark, tmp_path, hash_fn):
    """A manifest naming another bucket hash, or none (the form written
    before hash_fn existed), is refused with a ValueError naming the
    table root and the hash — never read under the wrong routing."""
    from datax_spark.lake.table import Manifest

    root = str(tmp_path / "t_old")
    t = LakeTable.create(
        spark, root, schema=spark.createDataFrame([], "k string").schema,
        key_cols=["k"], num_buckets=4,
    )
    d = _manifest_json(t)
    d.pop("hash_fn")
    if hash_fn is not None:
        d["hash_fn"] = hash_fn
    with open(os.path.join(root, "_manifests", "v00000000.json"), "w") as fh:
        json.dump(d, fh)
    old = LakeTable.load(spark, root)
    for call in (old.manifest, old.read):
        with pytest.raises(ValueError, match=f"table at {root} .*{hash_fn!r}"):
            call()
    with pytest.raises(ValueError, match=repr(hash_fn)):
        Manifest.from_json(json.dumps(d))

"""Exchange-aligned merges: the one-shuffle fused epoch.

A murmur3-bucketed table's bucket id equals Spark's own shuffle
partition id (``pmod(Murmur3Hash(keys), n)`` is hashpartitioning's
partitionIdExpression), so the dedup aggregation's exchange doubles as
the bucket routing and the merge adds no exchange at all. These tests
pin the identity itself, the engine integration, and the fail-loud
paths.
"""

import os

import pandas as pd
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
    df = eng.table().read().withColumn("h", F.sha2("content", 256))
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


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_aligned_replay_matches_oracle_and_xxhash64(
    spark, events_root, expected, tmp_path, strategy
):
    """The aligned one-shuffle epoch (murmur3 table, engine default)
    produces byte-identical final state — per-row sha256 — to the
    sequential-apply oracle AND to the historical xxhash64 two-exchange
    plan, through schema evolution and (for mor) compaction."""
    kw = {"compact_every": 2} if strategy == "mor" else {}
    al = ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"t_al_{strategy}"),
        str(tmp_path / f"m_al_{strategy}"),
        ReplayConfig(num_buckets=16, merge_strategy=strategy, **kw),
    )
    results = al.run()
    assert al.table().manifest().hash_fn == "murmur3"
    pd.testing.assert_frame_equal(
        _state(al).fillna("∅"), expected.fillna("∅"), check_dtype=False
    )
    assert sum(r.n_events for r in results) == SPEC.n_events

    xx = ReplayEngine(
        spark,
        events_root,
        str(tmp_path / f"t_xx_{strategy}"),
        str(tmp_path / f"m_xx_{strategy}"),
        ReplayConfig(
            num_buckets=16, merge_strategy=strategy, hash_fn="xxhash64", **kw
        ),
    )
    xx.run()
    assert xx.table().manifest().hash_fn == "xxhash64"
    pd.testing.assert_frame_equal(
        _state(xx).fillna("∅"), _state(al).fillna("∅"), check_dtype=False
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


def test_aligned_requires_murmur3(spark, tmp_path):
    df = spark.createDataFrame(
        [("r", "p", "c", 1, "U")], "repo string, path string, commit string, lsn long, op string"
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "t_xxt"),
        schema=df.drop("op").schema,
        key_cols=["repo", "path"],
        num_buckets=4,
        hash_fn="xxhash64",
    )
    with pytest.raises(ValueError, match="murmur3"):
        merge_into(t, df, strategy="spj", aligned=True)


def test_aligned_detects_broken_partitioning(spark, events_root, tmp_path):
    """A transform that repartitions destroys the partition==bucket
    identity; the executor-side assert must fail the epoch loudly
    (before commit), never write keys to wrong buckets."""
    from py4j.protocol import Py4JJavaError

    cfg = ReplayConfig(
        num_buckets=16,
        transforms=(lambda df: df.repartition(7),),
        aligned_exchange=True,
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
        hash_fn="murmur3",
    )
    pend = merge_into(t, df.withColumn("op", F.lit("U")))
    pend.commit()
    t2 = LakeTable.load(spark, str(tmp_path / "t_rt"))
    assert t2.manifest().hash_fn == "murmur3"
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
    # rebucket preserves the hash function
    t2.rebucket(8)
    assert t2.manifest().hash_fn == "murmur3"
    assert t2.manifest().num_buckets == 8
    assert t2.read().count() == 500


def test_pre_hash_fn_manifest_defaults_to_xxhash64():
    from datax_spark.lake.table import Manifest

    m = Manifest.from_json(
        '{"version": 0, "parent": null, "schema_json": "{\\"type\\":\\"struct\\",\\"fields\\":[]}",'
        ' "num_buckets": 4, "key_cols": ["k"], "files": {}, "row_counts": {}}'
    )
    assert m.hash_fn == "xxhash64"

"""Edge semantics of the per-bucket write kernel (``merge.
aligned_bucket_apply``) that the spj merge, the MoR delta write, the
scd2 tiered apply and ``rebucket`` share: NULL ops, the cross-batch
order guard over typed keys, duplicate-key refusal, exact payload
round-trips and the bucket placement of a rebucketed table."""

import datetime as dt
import os
import re
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake import LakeTable, merge_into
from datax_spark.lake.merge import DuplicateKeyError
from datax_spark.lake.scd2 import Scd2Config, Scd2Engine
from datax_spark.lake.table import bucket_expr_for

KEY_TYPES = {
    "string": (T.StringType(), lambda i: f"k{i}é"),
    "binary": (T.BinaryType(), lambda i: bytes([i, 0, 255 - i])),
    "timestamp": (T.TimestampType(), lambda i: dt.datetime(2021, 3, 4, 5, 6, 7, 11 * i + 1)),
    "decimal": (T.DecimalType(20, 4), lambda i: Decimal(f"{i}.{i:04d}")),
}


def _schema(key_type, *extra):
    return T.StructType([T.StructField("k", key_type), *extra])


def _frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _state(t):
    return sorted((tuple(r) for r in t.read().collect()), key=repr)


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_null_op_is_an_upsert(spark, tmp_path, strategy):
    schema = _schema(T.StringType(), T.StructField("v", T.LongType()))
    ev = T.StructType([*schema.fields, T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / strategy), schema, ["k"], num_buckets=2)
    merge_into(t, _frame(spark, [("a", 1, "U"), ("b", 2, "U")], ev), strategy=strategy).commit()
    batch = [("a", 10, None), ("b", None, "D"), ("c", 3, None)]
    merge_into(t, _frame(spark, batch, ev), strategy=strategy).commit()
    assert _state(t) == [("a", 10), ("c", 3)]


@pytest.mark.parametrize("case", sorted(KEY_TYPES))
def test_order_guard_older_equal_newer(spark, tmp_path, case):
    """``order_cols=[o1, o2]``: an update applies only when its order
    tuple is strictly greater than the current row's; a current row
    whose order value is NULL is never replaced."""
    key_type, key = KEY_TYPES[case]
    schema = _schema(
        key_type,
        T.StructField("o1", T.StringType()),
        T.StructField("o2", T.LongType()),
        T.StructField("v", T.StringType()),
    )
    ev = T.StructType([*schema.fields, T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / case), schema, ["k"], num_buckets=3)
    current = [
        (key(0), "c5", 5, "cur0", "U"),
        (key(1), "c5", 5, "cur1", "U"),
        (key(2), "c5", 5, "cur2", "U"),
        (key(3), "c5", 5, "cur3", "U"),
        (key(4), "c5", 5, "cur4", "U"),
        (key(5), "c5", 5, "cur5", "U"),
        (key(7), None, 5, "cur7", "U"),
    ]
    merge_into(t, _frame(spark, current, ev)).commit()
    batch = [
        (key(0), "c4", 9, "old", "U"),      # older in the first column
        (key(1), "c5", 5, "equal", "U"),    # equal tuple
        (key(2), "c6", 1, "newer", "U"),    # newer in the first column
        (key(3), "c5", 6, "newer2", None),  # newer in the second; NULL op
        (key(4), "c6", 0, None, "D"),       # newer delete
        (key(5), "c4", 0, None, "D"),       # older delete
        (key(6), "c1", 1, "fresh", "U"),    # no current row
        (key(7), "c9", 9, "over_null", "U"),
    ]
    merge_into(t, _frame(spark, batch, ev), order_cols=["o1", "o2"]).commit()
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {
        key(0): "cur0",
        key(1): "cur1",
        key(2): "newer",
        key(3): "newer2",
        key(5): "cur5",
        key(6): "fresh",
        key(7): "cur7",
    }


@pytest.mark.parametrize("strategy", ["spj", "mor"])
@pytest.mark.parametrize("case", ["string", "timestamp"])
def test_duplicate_key_names_bucket_and_key_and_writes_nothing(spark, tmp_path, strategy, case):
    key_type, key = KEY_TYPES[case]
    schema = _schema(key_type, T.StructField("v", T.LongType()))
    ev = T.StructType([*schema.fields, T.StructField("op", T.StringType())])
    root = str(tmp_path / f"{case}_{strategy}")
    # one bucket: the failing task is the job's only task
    t = LakeTable.create(spark, root, schema, ["k"], num_buckets=1)
    merge_into(t, _frame(spark, [(key(1), 1, "U")], ev), strategy=strategy).commit()
    txns = set(os.listdir(os.path.join(root, "data")))
    dup = [(key(2), 2, "U"), (key(3), 3, "U"), (key(2), 4, "U")]
    with pytest.raises(DuplicateKeyError, match=r"bucket 0: key \{'k': .*\} occurs more than once") as err:
        merge_into(t, _frame(spark, dup, ev), strategy=strategy)
    assert re.search({"string": "'k2é'", "timestamp": "2021.*23"}[case], str(err.value))
    new = set(os.listdir(os.path.join(root, "data"))) - txns
    assert new, "each merge attempt opens a txn dir"
    for d in new:
        assert os.listdir(os.path.join(root, "data", d)) == []
    assert t.manifest().version == 1


PAYLOAD = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("dec", T.DecimalType(38, 18)),
    T.StructField("ts", T.TimestampType()),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
])


def _payload_row(i):
    return (
        f"k{i}",
        Decimal(f"{12345678901234567890 + i}.{i:018d}") * (-1 if i % 2 else 1),
        dt.datetime(1999, 12, 31, 23, 59, 59, 999_999 - i),
        {"a": 2**62 + i, "b": -i} if i % 3 else {},
    )


def _exact(rows):
    return sorted((r[0], r[1], r[2], sorted((r[3] or {}).items())) for r in rows)


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_payload_round_trips_exactly(spark, tmp_path, strategy):
    ev = T.StructType([*PAYLOAD.fields, T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / strategy), PAYLOAD, ["k"], num_buckets=2)
    first = [_payload_row(i) for i in range(8)]
    merge_into(t, _frame(spark, [(*r, "U") for r in first], ev), strategy=strategy).commit()
    # second batch rewrites some keys: survivors pass through the kernel
    second = [_payload_row(i + 100)[1:] for i in range(3)]
    second = [(f"k{i}", *p) for i, p in enumerate(second)]
    merge_into(t, _frame(spark, [(*r, "U") for r in second], ev), strategy=strategy).commit()
    want = _exact(second + first[3:])
    assert _exact(t.read().collect()) == want
    t.compact()
    assert _exact(t.read().collect()) == want


def test_scd2_tiered_payload_round_trips_exactly(spark, tmp_path):
    events = str(tmp_path / "events")
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lsn", T.LongType()),
        *PAYLOAD.fields[1:],
    ])
    rows = []
    for i in range(6):
        _, dec, ts, m = _payload_row(i)
        rows.append(("r", f"p{i % 3}", "U", f"c{i:02d}", i, dec, ts, m))
    for e, part in enumerate((rows[:3], rows[3:])):
        spark.createDataFrame(part, schema).write.parquet(os.path.join(events, f"epoch={e}"))
    eng = Scd2Engine(spark, events, str(tmp_path / "hist"),
                     Scd2Config(num_buckets=2, compact_every=None))
    eng.run()
    got = sorted(
        (r["lsn"], r["dec"], r["ts"], sorted((r["m"] or {}).items()), r["is_current"])
        for r in eng.table().read().collect()
    )
    assert got == [
        (r[4], r[5], r[6], sorted(r[7].items()), r[4] >= 3) for r in rows
    ]


def _placement_ok(spark, t):
    """One file per non-empty bucket, and every key of bucket b's file
    hashes to b under the table's bucket count."""
    m = t.manifest()
    assert all(len(fs) == 1 for fs in m.files.values())
    assert m.files and all(m.row_counts[b] > 0 for b in m.files)
    for b, (rel,) in m.files.items():
        path = os.path.join(t.root, rel)
        assert pq.ParquetFile(path).metadata.num_rows == m.row_counts[b]
        got = {r[0] for r in spark.read.parquet(path).select(bucket_expr_for(m)).distinct().collect()}
        assert got == {int(b)}, (b, got)


@pytest.mark.parametrize("new_n", [16, 7])
def test_rebucket_mor_with_pending_deltas(spark, tmp_path, new_n):
    """Rebucketing a MoR table folds its pending deltas: the same state
    at the new count, one file per non-empty bucket, each holding only
    its own keys (tests/test_lake.py::test_rebucket_evolution covers
    spj)."""
    schema = _schema(T.StringType(), T.StructField("n", T.IntegerType()),
                     T.StructField("v", T.LongType()))
    ev = T.StructType([*schema.fields, T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / f"mor{new_n}"), schema, ["k", "n"],
                         num_buckets=4)
    first = [(f"k{i % 9}", i, i, "U") for i in range(120)]
    second = [(f"k{i % 9}", i, -i, "D" if i % 5 == 0 else "U") for i in range(0, 120, 3)]
    for batch in (first, second):
        merge_into(t, _frame(spark, batch, ev), strategy="mor").commit()
    assert any(t.manifest().delta_files.values())
    before = _state(t)
    t.rebucket(new_n)
    m = t.manifest()
    assert m.num_buckets == new_n and not m.delta_files
    assert _state(t) == before
    assert sum(m.row_counts.values()) == len(before)
    _placement_ok(spark, t)
    # a merge against the new layout keeps the state keyed right
    merge_into(t, _frame(spark, [("k1", 1, 777, "U")], ev), strategy="mor").commit()
    assert dict(((r[0], r[1]), r[2]) for r in t.read().collect())[("k1", 1)] == 777


def test_lineage_apply_ms_is_per_bucket(spark, tmp_path):
    """A hot bucket (most of the batch) has the largest per-bucket
    ``apply_ms`` in the lineage table, and the rows differ: each is
    that bucket task's own read + merge + write time."""
    from datax_spark.engine import ReplayConfig, ReplayEngine
    from datax_spark.engine.metrics import read_metrics
    from datax_spark.fixtures.changelog import ChangelogSpec, events_df

    nb = 4
    spec = ChangelogSpec(n_events=120_000, n_repos=200, paths_per_repo=5_000,
                         events_per_epoch=40_000, seed=5)
    ev = events_df(spark, spec).withColumn(
        "__b", F.pmod(F.hash("repo", "path"), F.lit(nb))
    )
    # bucket 0 keeps every event; the others keep ~0.1% of theirs
    hot = ev.filter((F.col("__b") == 0) | (F.col("lsn") % 1000 == 0)).drop("__b")
    hot.write.partitionBy("epoch").parquet(str(tmp_path / "events"))
    eng = ReplayEngine(spark, str(tmp_path / "events"), str(tmp_path / "table"),
                       str(tmp_path / "metrics"), ReplayConfig(num_buckets=nb))
    results = eng.run()
    assert [r.epoch for r in results if not r.skipped] == [0, 1, 2]
    rows = read_metrics(spark, str(tmp_path / "metrics")).collect()
    for e in (0, 1, 2):
        ms = {r["bucket"]: r["apply_ms"] for r in rows if r["epoch"] == e}
        assert set(ms) == set(range(nb)), ms
        assert len(set(ms.values())) > 1, ms
        assert max(ms.values()) < results[e].apply_ms
    # by the last epoch the hot bucket also rewrites the largest current
    # state; the first epoch's tasks may still pay worker warm-up
    assert max(ms, key=ms.get) == 0, ms

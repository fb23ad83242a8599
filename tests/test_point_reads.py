"""Keyed point reads (``LakeTable.lookup``): typed keys survive the
driver-side key frame exactly, on copy-on-write and merge-on-read
tables, and building a lookup launches no Spark job."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable, rows_to_arrow

N_KEYS = 24


def _key_cases():
    ts0 = dt.datetime(2021, 3, 4, 5, 6, 7, 123)
    d0 = dt.date(1999, 12, 30)
    return {
        "int": ([T.StructField("k", T.IntegerType())], lambda i: (i * 7 - 50,)),
        "bigint": ([T.StructField("k", T.LongType())], lambda i: (10**12 + i,)),
        "string": ([T.StructField("k", T.StringType())], lambda i: (f"k{i}é",)),
        "date": ([T.StructField("k", T.DateType())], lambda i: (d0 + dt.timedelta(days=i * 40),)),
        "timestamp": (
            [T.StructField("k", T.TimestampType())],
            lambda i: (ts0 + dt.timedelta(hours=i * 13, microseconds=i),),
        ),
        "decimal": (
            [T.StructField("k", T.DecimalType(12, 2))],
            lambda i: (Decimal(f"{i * 3}.{(i * 17) % 100:02d}"),),
        ),
        "binary": ([T.StructField("k", T.BinaryType())], lambda i: (bytes([i, 0, 255 - i]),)),
        "composite": (
            [T.StructField("r", T.StringType()), T.StructField("n", T.IntegerType())],
            lambda i: (f"r{i % 3}", i),
        ),
    }


KEY_CASES = _key_cases()


def _table(spark, tmp_path, case: str, strategy: str):
    kfields, key_of = KEY_CASES[case]
    schema = T.StructType([*kfields, T.StructField("v", T.LongType())])
    ev = T.StructType([*schema.fields, T.StructField("op", T.StringType())])
    kcols = [f.name for f in kfields]
    t = LakeTable.create(spark, str(tmp_path / f"{case}_{strategy}"), schema, kcols,
                         num_buckets=4)
    ups = [(*key_of(i), i, "U") for i in range(N_KEYS)]
    merge_into(t, spark.createDataFrame(ups, ev), strategy=strategy).commit()
    # second batch: updates of keys 0..4, deletes of keys 5 and 6
    second = [(*key_of(i), 100 + i, "U") for i in range(5)]
    second += [(*key_of(i), None, "D") for i in (5, 6)]
    merge_into(t, spark.createDataFrame(second, ev), strategy=strategy).commit()
    return t, key_of, kcols


@pytest.mark.parametrize("strategy", ["spj", "mor"])
@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_lookup_typed_keys_match_read(spark, tmp_path, case, strategy):
    t, key_of, kcols = _table(spark, tmp_path, case, strategy)
    if strategy == "mor":
        assert any(t.manifest().delta_files.values())  # deltas pending
    absent = key_of(N_KEYS + 5)
    want = [key_of(0), key_of(5), key_of(11), key_of(N_KEYS - 1), absent]
    wanted = set(want)
    expect = sorted(
        (tuple(r) for r in t.read().collect() if tuple(r[c] for c in kcols) in wanted),
        key=repr,
    )
    got = sorted((tuple(r) for r in t.lookup(want).collect()), key=repr)
    assert got == expect
    # updated, untouched and last keys come back; the deleted and the
    # absent key do not
    got_keys = {g[: len(kcols)] for g in got}
    assert got_keys == {key_of(0), key_of(11), key_of(N_KEYS - 1)}
    assert {g[-1] for g in got} == {100, 11, N_KEYS - 1}


@pytest.mark.parametrize("strategy", ["spj", "mor"])
@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_rebucket_typed_keys_keeps_state_and_lookups(spark, tmp_path, case, strategy):
    """Rebucketing to a coprime count keeps every typed key: the state
    is unchanged, each new bucket is one file, and lookups route to
    the new buckets."""
    t, key_of, kcols = _table(spark, tmp_path, case, strategy)
    before = sorted((tuple(r) for r in t.read().collect()), key=repr)
    t.rebucket(7)
    m = t.manifest()
    assert m.num_buckets == 7 and not m.delta_files
    assert all(len(fs) == 1 for fs in m.files.values())
    assert sorted((tuple(r) for r in t.read().collect()), key=repr) == before
    want = [key_of(0), key_of(5), key_of(11), key_of(N_KEYS - 1)]
    got = {tuple(r)[: len(kcols)] for r in t.lookup(want).collect()}
    assert got == {key_of(0), key_of(11), key_of(N_KEYS - 1)}


def test_rows_to_arrow_matches_list_conversion(spark):
    """The Arrow key frame holds the same values ``createDataFrame``
    of the Python rows does: no timestamp shift, no lost decimal
    scale, aware datetimes taken at their instant."""
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("d", T.DateType()),
        T.StructField("x", T.DecimalType(12, 2)),
        T.StructField("b", T.BinaryType()),
        T.StructField("i", T.IntegerType()),
    ])
    rows = [
        (dt.datetime(2020, 1, 2, 3, 4, 5, 678901), dt.datetime(2020, 1, 2, 3, 4, 5, 1),
         dt.date(1970, 1, 1), Decimal("12.30"), b"\x00ab", 7),
        (dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=dt.timezone(dt.timedelta(hours=5))),
         None, None, Decimal("-0.01"), None, None),
    ]
    a = spark.createDataFrame(rows_to_arrow(rows, schema), schema).collect()
    assert a == spark.createDataFrame(rows, schema).collect()
    assert str(a[0]["x"]) == "12.30"
    with pytest.raises(ValueError, match="expected 6"):
        rows_to_arrow([(1, 2)], schema)


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_lookup_build_launches_no_job(spark, tmp_path, strategy):
    t, key_of, _ = _table(spark, tmp_path, "composite", strategy)
    keys = [key_of(0), key_of(9), key_of(N_KEYS + 1)]
    sc = spark.sparkContext
    group = f"lookup-build-{strategy}"
    sc.setJobGroup(group, group)
    try:
        df = t.lookup(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert len(df.collect()) == 2

"""One unit of work per Spark task: the lake's per-bucket scaffold
(``LakeTable._map_units``), compaction's bucket writes and the
readers' split lists (``sources.readers.task_frame``) each give every
unit a task of its own. A hash repartition of n small ids leaves tasks
empty and runs several units one after another in one task."""

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.sources.readers import task_frame

SIZES = [1, 2, 3, 8, 16, 64]
SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.LongType()),
])
EVENTS = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("placement") / "t")
    return LakeTable.create(spark, root, SCHEMA, ["k"], num_buckets=4)


@pytest.mark.parametrize("n", SIZES)
def test_map_units_one_unit_per_task(table, n):
    units = [1000 + 7 * i for i in range(n)]  # not 0..n-1

    def step(u):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        return pa.table({"unit": pa.array([u], pa.int64()),
                         "pid": pa.array([pid], pa.int64())})

    out = T.StructType().add("unit", "long").add("pid", "long")
    rows = table._map_units(units, step, out).collect()
    assert sorted(r["unit"] for r in rows) == units  # each unit once
    assert len({r["pid"] for r in rows}) == n  # each in its own task


@pytest.mark.parametrize("n", SIZES)
def test_task_frame_row_i_in_partition_i(spark, n):
    rows = [(10 * i + 3, f"split-{i}") for i in range(n)]

    def where(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for pdf in batches:
            yield pd.DataFrame({"task_id": pdf["task_id"], "cond": pdf["cond"],
                                "pid": [pid] * len(pdf)})

    df = task_frame(spark, rows, "task_id int, cond string")
    assert df.columns == ["task_id", "cond"]
    got = df.mapInPandas(where, "task_id int, cond string, pid long").collect()
    assert sorted((r["pid"], r["task_id"], r["cond"]) for r in got) == [
        (i, *row) for i, row in enumerate(rows)
    ]


def test_task_frame_empty(spark):
    df = task_frame(spark, [], "task_id int, cond string")
    assert df.columns == ["task_id", "cond"] and df.count() == 0


@pytest.mark.parametrize("nb", [8, 16])
def test_compact_writes_each_bucket_in_its_own_task(spark, tmp_path, nb, monkeypatch):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], num_buckets=nb)
    # a base file and a delta file per bucket, so every bucket compacts
    for strategy in ("spj", "mor"):
        ups = [(f"key{i}", 1, "U") for i in range(40 * nb)]
        merge_into(t, spark.createDataFrame(ups, EVENTS), strategy=strategy).commit()
    m = t.manifest()
    assert all(m.delta_files.get(str(b)) for b in range(nb))
    # each bucket's step leaves a "<bucket>-<partition id>" mark
    marks = tmp_path / "marks"
    marks.mkdir()
    real = LakeTable._map_units

    def spy(self, unit_ids, step, schema):
        def marked(u):
            from pyspark import TaskContext

            (marks / f"{u}-{TaskContext.get().partitionId()}").touch()
            return step(u)

        return real(self, unit_ids, marked, schema)

    monkeypatch.setattr(LakeTable, "_map_units", spy)
    t.compact()
    files = t.manifest().files
    assert sorted(int(b) for b in files) == list(range(nb))
    assert all(len(fs) == 1 for fs in files.values())
    task_of = dict(tuple(map(int, p.name.split("-"))) for p in marks.iterdir())
    assert sorted(task_of) == list(range(nb))
    assert len(set(task_of.values())) == nb, task_of
    assert t.read().count() == 40 * nb

"""Safe type-widening schema evolution (operators/schema_evolution):
int-chain and float-chain promotions widen the table schema in place
(old narrow parquet files read natively under the widened schema —
Spark 4 parquet type widening), narrower batches cast up on write, and
key/bucket-routing columns refuse every type change (their hashes are
type-sensitive; a widened key would re-route buckets)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.operators.schema_evolution import (
    SchemaEvolutionError,
    evolve_schema,
    widened_type,
)

S = T.StructType


def _f(n, t):
    return T.StructField(n, t)


def test_widened_type_lattice():
    assert widened_type(T.IntegerType(), T.LongType()) == T.LongType()
    assert widened_type(T.LongType(), T.ByteType()) == T.LongType()
    assert widened_type(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert widened_type(T.IntegerType(), T.DoubleType()) is None  # lossy
    assert widened_type(T.StringType(), T.LongType()) is None
    assert widened_type(T.LongType(), T.LongType()) == T.LongType()


def test_evolve_schema_widening_rules():
    cur = S([_f("k", T.StringType()), _f("v", T.IntegerType()),
             _f("x", T.FloatType())])
    # batch wider -> schema widens (non-key cols)
    out = evolve_schema(
        cur, S([_f("k", T.StringType()), _f("v", T.LongType()),
                _f("x", T.DoubleType())]),
        frozen_cols={"k"},
    )
    assert [f.dataType for f in out.fields] == [
        T.StringType(), T.LongType(), T.DoubleType()]
    # batch narrower -> no change
    out2 = evolve_schema(
        cur, S([_f("v", T.ByteType())]), frozen_cols={"k"})
    assert out2 == cur
    # frozen col: even a safe widening refuses
    with pytest.raises(SchemaEvolutionError, match="key/bucket"):
        evolve_schema(
            S([_f("k", T.IntegerType()), _f("v", T.IntegerType())]),
            S([_f("k", T.LongType())]),
            frozen_cols={"k"},
        )
    # non-widening change refuses
    with pytest.raises(SchemaEvolutionError, match="not a safe widening"):
        evolve_schema(cur, S([_f("v", T.StringType())]))


@pytest.mark.parametrize("strategy", ["spj", "mor"])
def test_lake_merge_widens_midstream(spark, tmp_path, strategy):
    schema = S([_f("repo", T.StringType()), _f("path", T.StringType()),
                _f("size", T.IntegerType()), _f("score", T.FloatType())])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["repo", "path"],
        num_buckets=4,
    )

    def batch(rows, types="int"):
        sz = T.IntegerType() if types == "int" else T.LongType()
        sc = T.FloatType() if types == "int" else T.DoubleType()
        s = S([_f("repo", T.StringType()), _f("path", T.StringType()),
               _f("size", sz), _f("score", sc),
               _f("op", T.StringType())])
        return spark.createDataFrame(rows, s)

    merge_into(
        t, batch([("r1", "a", 10, 1.5, "U"), ("r2", "b", 20, 2.5, "U")]),
        strategy=strategy,
    ).commit()
    # epoch 2 arrives WIDENED (upstream ALTER COLUMN): schema evolves,
    # old narrow files stay readable in place
    merge_into(
        t, batch([("r1", "a", 3_000_000_000, 9.25, "U"),
                  ("r3", "c", 30, 3.5, "U")], types="long"),
        strategy=strategy,
    ).commit()
    m = t.manifest()
    assert m.schema["size"].dataType == T.LongType()
    assert m.schema["score"].dataType == T.DoubleType()
    got = {(r["repo"], r["path"]): (r["size"], r["score"])
           for r in t.read().collect()}
    assert got[("r1", "a")] == (3_000_000_000, 9.25)
    assert got[("r2", "b")] == (20, 2.5)  # old narrow file, widened read
    # epoch 3 arrives NARROW again: casts up, schema unchanged
    merge_into(
        t, batch([("r2", "b", 21, 2.75, "U")]), strategy=strategy,
    ).commit()
    assert t.manifest().schema["size"].dataType == T.LongType()
    got = {(r["repo"], r["path"]): r["size"] for r in t.read().collect()}
    assert got[("r2", "b")] == 21
    if strategy == "mor":
        t.compact()
        assert {(r["repo"], r["path"]): r["size"] for r in t.read().collect()} == got


def test_key_column_widening_refused(spark, tmp_path):
    schema = S([_f("id", T.IntegerType()), _f("v", T.IntegerType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["id"],
                         num_buckets=2)
    wide = S([_f("id", T.LongType()), _f("v", T.IntegerType()),
              _f("op", T.StringType())])
    with pytest.raises(SchemaEvolutionError, match="key/bucket"):
        merge_into(t, spark.createDataFrame([(1, 2, "U")], wide))


def test_widened_table_change_feed_and_view(spark, tmp_path):
    """The widened column flows through the change feed and an
    incremental agg view without recompute divergence."""
    from datax_spark.lake.matview import AggView, AggViewSpec

    schema = S([_f("repo", T.StringType()), _f("path", T.StringType()),
                _f("size", T.LongType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         ["repo", "path"], num_buckets=2)
    view = AggView.create(
        spark, str(tmp_path / "v"), t,
        AggViewSpec(group_cols=("repo",), sum_cols=("size",)), num_buckets=2,
    )
    narrow = S([_f("repo", T.StringType()), _f("path", T.StringType()),
                _f("size", T.IntegerType()), _f("op", T.StringType())])
    merge_into(t, spark.createDataFrame(
        [("r1", "a", 5, "U"), ("r1", "b", 7, "U")], narrow)).commit()
    view.refresh(t)
    got = {r["repo"]: r["sum_size"] for r in view.read().collect()}
    assert got == {"r1": 12}


def test_widening_preserves_nonnull_constraint():
    """r3 ADVICE: widening changes the TYPE only — a non-nullable
    column must stay non-nullable unless the incoming field is itself
    nullable."""
    cur = S([T.StructField("k", T.StringType()),
             T.StructField("v", T.IntegerType(), nullable=False)])
    inc_nn = S([T.StructField("v", T.LongType(), nullable=False)])
    out = evolve_schema(cur, inc_nn)
    assert out["v"].dataType == T.LongType()
    assert out["v"].nullable is False
    inc_n = S([T.StructField("v", T.LongType(), nullable=True)])
    assert evolve_schema(cur, inc_n)["v"].nullable is True

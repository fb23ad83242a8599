"""Property-based tests (hypothesis): dx_filter's null rules, LWW
dedup, and schema evolution hold for arbitrary inputs, not just the
fixtures. Each property batches all generated rows into ONE Spark job
per example to keep runtime sane."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12),
)


def ref_drops(value: str | None, op: str, lit: str) -> bool:
    """Pure-python reference of FilterTransformer.java:20-311 rules."""
    if op in (">", ">=", "<", "<="):
        if value is None:
            return False
        return {
            ">": value > lit, ">=": value >= lit,
            "<": value < lit, "<=": value <= lit,
        }[op]
    if op == "=":
        return lit.lower() == "null" if value is None else value == lit
    if op == "!=":
        return lit.lower() != "null" if value is None else value != lit
    if op == "like":
        return value is not None and re.fullmatch(lit, value) is not None
    if op == "not like":
        return value is None or re.fullmatch(lit, value) is None
    raise ValueError(op)


@given(
    vals=st.lists(texts, min_size=1, max_size=30),
    op=st.sampled_from([">", ">=", "<", "<=", "=", "!=", "like", "not like"]),
    lit=st.sampled_from(["abc", "null", "a.*", "", "zz"]),
)
@settings(**SETTINGS)
def test_dx_filter_matches_reference(spark, vals, op, lit):
    from datax_spark.functions.transforms import dx_filter_drops

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)],
        T.StructType([
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ]),
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", dx_filter_drops(F.col("v"), op, lit, "string").alias("d")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == ref_drops(v, op, lit), (v, op, lit)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),           # key
            st.integers(0, 1_000_000),   # lsn (order)
            st.text(max_size=8),         # payload
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_lww_dedup_matches_reference(spark, rows):
    from datax_spark.operators.dedup import lww_dedup

    df = spark.createDataFrame(
        [(k, lsn, p) for k, lsn, p in rows], ["k", "lsn", "p"]
    )
    got = {
        r["k"]: (r["lsn"], r["p"])
        for r in lww_dedup(df, keys=["k"], order_cols=["lsn", "p"]).collect()
    }
    ref: dict[int, tuple] = {}
    for k, lsn, p in rows:
        if k not in ref or (lsn, p) > ref[k]:
            ref[k] = (lsn, p)
    assert got == ref


@given(
    base=st.lists(st.sampled_from(["a", "b", "c", "d"]), unique=True, min_size=1),
    extra=st.lists(st.sampled_from(["c", "d", "e", "f"]), unique=True),
)
@settings(**SETTINGS)
def test_evolve_schema_additive(base, extra):
    from datax_spark.operators.schema_evolution import evolve_schema

    cur = T.StructType([T.StructField(n, T.StringType()) for n in base])
    inc = T.StructType([T.StructField(n, T.StringType()) for n in extra])
    out = evolve_schema(cur, inc)
    names = [f.name for f in out.fields]
    # prefix preserved, new fields appended in incoming order, no dupes
    assert names[: len(base)] == base
    assert names == base + [n for n in extra if n not in base]
    # idempotent and monotone
    assert [f.name for f in evolve_schema(out, inc).fields] == names


_ASCII_KEY = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E,
                           exclude_characters="'"),
    min_size=1, max_size=12,
)


@given(keys=st.lists(_ASCII_KEY, min_size=2, max_size=40, unique=True),
       n=st.integers(min_value=1, max_value=12))
@settings(**SETTINGS)
def test_string_split_predicates_partition_property(keys, n):
    """For ANY printable-ASCII key population and slice count, the
    generated predicates — executed as real SQL (DuckDB) — assign
    every key to EXACTLY one slice: no loss, no duplication. This is
    the contract that matters for parallel JDBC scans; slice balance
    is best-effort, coverage is not."""
    import duckdb

    from datax_spark.sources.readers import string_split_predicates

    lo, hi = min(keys), max(keys)
    preds = string_split_predicates("k", lo, hi, n, include_null_bucket=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    matches = [
        con.execute(f"SELECT count(*) FROM t WHERE {p}").fetchone()[0]
        for p in preds
    ]
    assert sum(matches) == len(keys)
    per_key = con.execute(
        "SELECT k, " + " + ".join(
            f"(CASE WHEN {p} THEN 1 ELSE 0 END)" for p in preds
        ) + " AS hits FROM t"
    ).fetchall()
    assert all(h == 1 for _, h in per_key), per_key


@given(left=st.integers(-10**12, 10**12), gap=st.integers(0, 10**6),
       n=st.integers(1, 64))
@settings(**SETTINGS)
def test_bigint_split_points_property(left, gap, n):
    """Points are monotone, endpoints exact, widths differ by <= 1
    (remainder spreading) — for any range and slice count."""
    from datax_spark.sources.readers import bigint_split_points

    right = left + gap
    pts = bigint_split_points(left, right, n)
    assert pts[0] == left and pts[-1] == right
    assert all(a <= b for a, b in zip(pts, pts[1:]))
    if gap >= n:
        widths = [b - a for a, b in zip(pts, pts[1:])]
        assert max(widths) - min(widths) <= 1


# ---------------------------------------------------------------------------
# Whole-engine property: ANY changelog replays to the sequential fold
# ---------------------------------------------------------------------------

_KEYS = ["a", "b", "a\x00b", "1:x", ";", "émoji🚀", ""]
_event = st.tuples(
    st.sampled_from(_KEYS),                # repo
    st.sampled_from(_KEYS),                # path
    st.sampled_from(["I", "U", "D"]),      # op
    st.text(alphabet=st.characters(min_codepoint=0, max_codepoint=0x24F),
            max_size=8),                   # content incl. control chars
)


@given(events=st.lists(_event, min_size=1, max_size=40),
       n_epochs=st.integers(min_value=1, max_value=3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_replay_equals_sequential_fold_property(spark, tmp_path_factory,
                                                events, n_epochs):
    """For ANY sequence of I/U/D events over adversarial keys
    (NUL/metachar/emoji/empty) split into arbitrary epochs, the fused
    default engine's final table equals the obviously-correct python
    fold: apply events in (commit, lsn) order, last writer wins,
    delete removes the key. Covers delete-of-nonexistent,
    delete-then-reinsert within an epoch, epochs that empty the whole
    table, and keys colliding into the same bucket (num_buckets=2)."""
    import shutil

    from datax_spark.engine.replay import ReplayConfig, ReplayEngine

    # total order: commit ties across epochs broken by lsn; commit is
    # the epoch tag so cross-epoch order matches epoch order
    per_epoch = max(1, -(-len(events) // n_epochs))
    rows = [
        (repo, path, op, f"c{i // per_epoch:04d}", i,
         content if op != "D" else None, i // per_epoch)
        for i, (repo, path, op, content) in enumerate(events)
    ]
    state: dict[tuple[str, str], str] = {}
    for repo, path, op, _c, _lsn, content, _e in rows:
        if op == "D":
            state.pop((repo, path), None)
        else:
            state[(repo, path)] = content

    root = tmp_path_factory.mktemp("prop")
    ev = spark.createDataFrame(
        rows, "repo string, path string, op string, commit string, "
              "lsn long, content string, epoch int",
    )
    ev.write.partitionBy("epoch").parquet(str(root / "ev"))
    eng = ReplayEngine(
        spark, str(root / "ev"), str(root / "t"), str(root / "m"),
        ReplayConfig(num_buckets=2),
    )
    eng.run()
    got = {(r["repo"], r["path"]): r["content"]
           for r in eng.table().read().collect()}
    assert got == state
    shutil.rmtree(root, ignore_errors=True)


# ---------- change-feed diff kernel (pure Arrow, no Spark) ----------

_key_text = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=126), max_size=6
)
_val_text = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(min_codepoint=0, max_codepoint=126), max_size=8),
)
_state = st.dictionaries(
    keys=st.tuples(_key_text, _key_text),
    values=st.tuples(
        _val_text,
        st.one_of(st.none(), st.integers(-5, 5)),
        st.one_of(st.none(), st.binary(max_size=4)),
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.integers(-2, 2)), max_size=3),
        ),
    ),
    max_size=12,
)


@given(old=_state, new=_state, include_preimage=st.booleans())
@settings(max_examples=200, deadline=None)
def test_bucket_changes_arrow_matches_reference(old, new, include_preimage):
    """bucket_changes_arrow == the obvious per-key dict diff, for
    arbitrary key/payload bytes (incl. NUL, which pandas string concat
    silently strips — the kernel must not), non-UTF-8 binary values,
    lists with null elements, nulls, and empty sides; with
    ``include_preimage`` an update is the old image as
    update_preimage directly followed by the new image as
    update_postimage. Covers composite_key_array injectivity and the
    null-vs-literal fingerprint encoding in one property."""
    import pyarrow as pa

    from datax_spark.lake.table import bucket_changes_arrow

    schema = pa.schema(
        [
            pa.field("k1", pa.string()),
            pa.field("k2", pa.string()),
            pa.field("v", pa.string()),
            pa.field("n", pa.int64()),
            pa.field("b", pa.binary()),
            pa.field("l", pa.list_(pa.int64())),
        ]
    )
    payload = schema.names[2:]

    def tbl(state):
        ks = sorted(state)
        cols = {"k1": [k[0] for k in ks], "k2": [k[1] for k in ks]}
        for i, c in enumerate(payload):
            cols[c] = [state[k][i] for k in ks]
        return pa.table(cols, schema=schema)

    expected = {}
    for k in old.keys() - new.keys():
        expected[k] = [("delete", *old[k])]
    for k in new.keys() - old.keys():
        expected[k] = [("insert", *new[k])]
    for k in old.keys() & new.keys():
        if old[k] != new[k]:
            expected[k] = (
                [("update_preimage", *old[k]), ("update_postimage", *new[k])]
                if include_preimage
                else [("update", *new[k])]
            )

    res = bucket_changes_arrow(
        tbl(old), tbl(new), ["k1", "k2"], schema, 9, include_preimage
    )
    got = {}
    for r in res.to_pylist():
        got.setdefault((r["k1"], r["k2"]), []).append(
            (r["_change_type"], *[r[c] for c in payload])
        )
    assert got == expected
    assert set(res.column("_commit_version").to_pylist()) <= {9}


@given(
    rows=st.lists(
        st.tuples(
            st.text(max_size=20),                      # repo: any unicode
            st.text(max_size=30),                      # path
            st.integers(min_value=-2**31, max_value=2**31 - 1),
        ),
        min_size=1,
        max_size=200,
    ),
    nb=st.sampled_from([3, 8, 16]),
)
@settings(**SETTINGS)
def test_murmur3_bucket_is_shuffle_partition(spark, rows, nb):
    """The exchange-aligned invariant for ARBITRARY key values
    (arbitrary unicode incl. surrogate-adjacent text, empty strings):
    after groupBy(keys) with exactly nb shuffle partitions and AQE
    coalescing off, every output row's partition id equals
    pmod(murmur3(keys), nb) — the table's murmur3 bucket. One Spark
    job per example."""
    from datax_spark.engine.replay import aligned_shuffle_confs

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


# ---------------------------------------------------------------------------
# Incremental matview maintenance == recompute, for arbitrary churn
# (lake/matview.py): random upsert/delete batches over a small key
# space — group-moving updates, NULL groups (sentinel), NULL measures,
# retractions of extremes, group death — then the maintained view must
# equal a pure-pandas GROUP BY of the surviving rows.

batches_strategy = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),           # key id
            st.sampled_from(["U", "U", "U", "D"]),           # op (upsert-heavy)
            st.one_of(st.none(), st.sampled_from(["g0", "g1", "g2"])),  # group
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        ),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=batches_strategy)
def test_matview_equals_recompute_under_arbitrary_churn(spark, tmp_path_factory, batches):
    import pandas as pd
    from pyspark.sql import types as TT

    from datax_spark.lake import LakeTable, merge_into
    from datax_spark.lake.matview import AggView, AggViewSpec

    tmp = tmp_path_factory.mktemp("mv_prop")
    schema = TT.StructType([
        TT.StructField("k", TT.StringType()),
        TT.StructField("g", TT.StringType()),
        TT.StructField("m", TT.LongType()),
    ])
    src = LakeTable.create(spark, str(tmp / "src"), schema, ["k"], num_buckets=4)
    view = AggView.create(
        spark, str(tmp / "view"), src,
        AggViewSpec(group_cols=("g",), sum_cols=("m",),
                    min_cols=("m",), max_cols=("m",),
                    group_fill=(("g", "@null"),)),
        num_buckets=4,
    )
    state: dict[str, tuple] = {}
    for batch in batches:
        rows = {}
        for kid, op, g, m in batch:  # one row per key per batch
            rows[f"k{kid}"] = (op, g, m)
        data = [
            (k, g, m, op) for k, (op, g, m) in rows.items()
        ]
        df = spark.createDataFrame(
            data,
            TT.StructType(schema.fields + [TT.StructField("op", TT.StringType())]),
        )
        merge_into(src, df, op_col="op").commit()
        view.refresh(src)
        for k, (op, g, m) in rows.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = (g, m)

    # pure-pandas reference over the surviving rows
    if state:
        ref = pd.DataFrame(
            [(g if g is not None else "@null", m) for g, m in state.values()],
            columns=["g", "m"],
        )
        exp = (
            ref.groupby("g", dropna=False)
            .agg(n_rows=("m", "size"), sum_m=("m", "sum"),
                 min_m=("m", "min"), max_m=("m", "max"))
            .reset_index()
        )
        # pandas sums all-NaN groups to 0; SQL says NULL
        allnull = ref.groupby("g")["m"].count() == 0
        for g in allnull[allnull].index:
            exp.loc[exp["g"] == g, "sum_m"] = None
        expected = {
            r["g"]: (r["n_rows"], r["sum_m"], r["min_m"], r["max_m"])
            for _, r in exp.iterrows()
        }
    else:
        expected = {}

    got = {
        r["g"]: (r["n_rows"], r["sum_m"], r["min_m"], r["max_m"])
        for r in view.read().collect()
    }

    def norm(d):
        return {
            g: tuple(None if v is None or (isinstance(v, float) and pd.isna(v))
                     else int(v) for v in vals)
            for g, vals in d.items()
        }

    assert norm(got) == norm(expected)


# ---- per-file bloom filter primitives (lake/table.py) ----
# no-false-negative is the CORRECTNESS property (a false negative
# silently drops rows from a read); false positives only cost IO.

_bloomable = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.text(max_size=40),
    st.binary(max_size=40),
)


@settings(max_examples=200, deadline=None)
@given(
    population=st.lists(_bloomable, max_size=200),
    probes=st.lists(_bloomable, min_size=1, max_size=20),
)
def test_bloom_never_false_negative(population, probes):
    from datax_spark.lake.table import (
        _BLOOM_K,
        _bloom_encode,
        _bloom_may_match,
        _bloom_positions,
    )
    import base64

    encs = [_bloom_encode(v) for v in population]
    assert all(e is not None for e in encs)
    m_bits = max(64, -(-len(encs) * 10 // 8) * 8)
    bits = bytearray(m_bits // 8)
    for e in encs:
        for pos in _bloom_positions(e, m_bits):
            bits[pos >> 3] |= 1 << (pos & 7)
    bloom = {"m": m_bits, "k": _BLOOM_K,
             "b64": base64.b64encode(bytes(bits)).decode()}

    pop = set(population)
    for p in probes:
        if p in pop:
            assert _bloom_may_match(bloom, "=", p), (
                f"false negative for {p!r}")
    # IN of all probes: must match iff any probe is present (one-sided)
    if any(p in pop for p in probes):
        assert _bloom_may_match(bloom, "in", probes)
    # non-equality ops never consult the bloom
    assert _bloom_may_match(bloom, "<", probes[0])


@given(v=st.integers(min_value=-(10**12), max_value=10**12))
@settings(max_examples=50, deadline=None)
def test_bloom_encode_separates_types(v):
    from datax_spark.lake.table import _bloom_encode

    assert _bloom_encode(v) != _bloom_encode(str(v))
    assert _bloom_encode(None) is None
    assert _bloom_encode(bool(v % 2)) is None  # bools never bloomed


# ---------------------------------------------------------------------------
# Incremental join-view maintenance == recompute, for arbitrary churn
# on BOTH sides (lake/joinview.py): random fact upsert/delete batches
# (fk changes, NULL fks, deletes) interleaved with dim
# upsert/delete batches — the maintained left-join view must equal a
# pure-pandas join of the surviving states after every refresh window.

jv_batches_strategy = st.lists(
    st.tuples(
        # fact batch: (key id, op, fk dim id or None, value)
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=7),
                st.sampled_from(["U", "U", "U", "D"]),
                st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
                st.integers(min_value=-50, max_value=50),
            ),
            min_size=0, max_size=8,
        ),
        # dim batch: (dim id, op, attr)
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.sampled_from(["U", "U", "D"]),
                st.integers(min_value=0, max_value=99),
            ),
            min_size=0, max_size=4,
        ),
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=jv_batches_strategy)
def test_joinview_equals_recompute_under_arbitrary_churn(
    spark, tmp_path_factory, batches
):
    from pyspark.sql import types as TT

    from datax_spark.lake import LakeTable, merge_into
    from datax_spark.lake.joinview import JoinView, JoinViewSpec

    tmp = tmp_path_factory.mktemp("jv_prop")
    fschema = TT.StructType([
        TT.StructField("k", TT.StringType()),
        TT.StructField("fk", TT.StringType()),
        TT.StructField("v", TT.LongType()),
    ])
    dschema = TT.StructType([
        TT.StructField("dk", TT.StringType()),
        TT.StructField("attr", TT.LongType()),
    ])
    fact = LakeTable.create(spark, str(tmp / "f"), fschema, ["k"], num_buckets=4)
    dim = LakeTable.create(spark, str(tmp / "d"), dschema, ["dk"], num_buckets=2)
    view = JoinView.create(
        spark, str(tmp / "v"), fact, dim,
        JoinViewSpec(on=(("fk", "dk"),), how="left", right_prefix="d_"),
        num_buckets=4,
    )
    fstate: dict[str, tuple] = {}
    dstate: dict[str, int] = {}
    for fbatch, dbatch in batches:
        frows, drows = {}, {}
        for kid, op, fk, v in fbatch:  # one row per key per batch
            frows[f"k{kid}"] = (op, None if fk is None else f"d{fk}", v)
        for did, op, attr in dbatch:
            drows[f"d{did}"] = (op, attr)
        if frows:
            merge_into(fact, spark.createDataFrame(
                [(k, fk, v, op) for k, (op, fk, v) in frows.items()],
                TT.StructType(fschema.fields + [TT.StructField("op", TT.StringType())]),
            )).commit()
        if drows:
            merge_into(dim, spark.createDataFrame(
                [(dk, attr, op) for dk, (op, attr) in drows.items()],
                TT.StructType(dschema.fields + [TT.StructField("op", TT.StringType())]),
            )).commit()
        view.refresh(fact, dim)
        for k, (op, fk, v) in frows.items():
            if op == "D":
                fstate.pop(k, None)
            else:
                fstate[k] = (fk, v)
        for dk, (op, attr) in drows.items():
            if op == "D":
                dstate.pop(dk, None)
            else:
                dstate[dk] = attr
        expected = {
            k: (fk, v, dstate.get(fk) if fk is not None else None)
            for k, (fk, v) in fstate.items()
        }
        got = {
            r["k"]: (r["fk"], r["v"], r["d_attr"])
            for r in view.read().collect()
        }
        assert got == expected, f"diverged after batch: {got} != {expected}"

"""Incremental lake-to-lake replication (CDC fan-out downstream)."""

import pytest
from pyspark.sql import types as T

from datax_spark.lake import LakeTable, merge_into
from datax_spark.lake.replicate import sync

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)


def _upserts(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1], "U", r[2], r[3]) for r in rows],
        "repo string, path string, op string, lsn long, content string",
    )


def _state(t, version=None):
    return {
        tuple(r[k] for k in ("repo", "path")): tuple(
            r[k] for k in r.asDict() if k not in ("repo", "path")
        )
        for r in t.read(version=version).collect()
    }


def test_seed_incremental_noop_and_deletes(spark, tmp_path):
    src_root, rep_root = str(tmp_path / "src"), str(tmp_path / "rep")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit()

    r = sync(src, rep_root)
    assert r.mode == "seed" and r.synced_to == src.current_version()
    rep = LakeTable.load(spark, rep_root)
    assert _state(rep) == _state(src)

    # source moves: update + delete + insert across two commits
    upd = spark.createDataFrame(
        [("r1", "a", "U", 3, "x2"), ("r2", "b", "D", 4, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(src, upd).commit()
    merge_into(src, _upserts(spark, [("r3", "c", 5, "z")])).commit()

    r = sync(src, rep_root)
    assert r.mode == "incremental" and r.synced_to == src.current_version()
    assert _state(rep) == _state(src)
    assert _state(rep) == {("r1", "a"): (3, "x2"), ("r3", "c"): (5, "z")}

    # completed sync re-run = no-op (exactly-once on the watermark)
    v = rep.current_version()
    r = sync(src, rep_root)
    assert r.mode == "noop" and rep.current_version() == v

    # a non-replica target is rejected
    with pytest.raises(ValueError):
        sync(src, src_root)


def test_schema_evolution_flows_to_replica(spark, tmp_path):
    src_root, rep_root = str(tmp_path / "src"), str(tmp_path / "rep")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    sync(src, rep_root)

    evolved = spark.createDataFrame(
        [("r2", "b", "U", 2, "y", "py3")],
        "repo string, path string, op string, lsn long, content string, lang string",
    )
    merge_into(src, evolved).commit()

    r = sync(src, rep_root)
    rep = LakeTable.load(spark, rep_root)
    assert r.mode == "incremental"
    assert "lang" in rep.read().columns
    assert _state(rep) == _state(src)
    assert _state(rep)[("r1", "a")] == (1, "x", None)  # backfilled null


def test_repair_after_source_history_expired(spark, tmp_path):
    """When the consumed source snapshot is retired, sync repairs via a
    full cross-table diff and still converges — including deletes that
    happened inside the lost window."""
    src_root, rep_root = str(tmp_path / "src"), str(tmp_path / "rep")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [
        ("r1", "a", 1, "x"), ("r2", "b", 2, "y"), ("r4", "n", 5, None), ("r5", "z", 6, "\x00"),
    ])).commit()
    sync(src, rep_root)

    # the lost window also swaps NULL and the literal "\x00" between two
    # keys (same lsn), which the repair diff must carry as updates
    upd = spark.createDataFrame(
        [("r2", "b", "D", 3, None), ("r3", "c", "U", 4, "z"),
         ("r4", "n", "U", 5, "\x00"), ("r5", "z", "U", 6, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(src, upd).commit()
    src.expire_snapshots(keep_last=1)
    src.vacuum()

    r = sync(src, rep_root)
    rep = LakeTable.load(spark, rep_root)
    assert r.mode == "repair"
    assert _state(rep) == _state(src)
    assert ("r2", "b") not in _state(rep)  # the delete in the lost window landed
    assert _state(rep)[("r4", "n")] == (5, "\x00") and _state(rep)[("r5", "z")] == (6, None)

    # repair is idempotent too
    assert sync(src, rep_root).mode == "noop"


def test_cli_replicate_job(spark, tmp_path, capsys):
    """`python -m datax_spark --job spec.json` with a replicate spec:
    dry-run validates, the real run syncs, a re-run is a no-op."""
    import json

    from datax_spark.cli import main

    src_root, rep_root = str(tmp_path / "src"), str(tmp_path / "rep")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    spec = tmp_path / "job.json"
    spec.write_text(json.dumps(
        {"replicate": {"source_root": src_root, "replica_root": rep_root}}
    ))

    assert main(["--job", str(spec), "--dry-run"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "mode": "replicate",
        "source_version": 1,
        "replica_exists": False,
        "streaming": False,
    }

    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "seed" and out["synced_to"] == 1
    assert _state(LakeTable.load(spark, rep_root)) == _state(src)

    merge_into(src, _upserts(spark, [("r2", "b", 2, "y")])).commit()
    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "incremental"
    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "noop"


def test_cli_replicate_streaming_job(spark, tmp_path, capsys):
    """`{"replicate": {..., "streaming": true}}`: each invocation
    drains the lake_changes stream into the replica (seed on first
    run), exactly-once across re-runs."""
    import json

    from datax_spark.cli import main

    src_root, rep_root = str(tmp_path / "src"), str(tmp_path / "rep")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    spec = tmp_path / "job.json"
    spec.write_text(json.dumps({"replicate": {
        "source_root": src_root,
        "replica_root": rep_root,
        "streaming": True,
        "checkpoint_root": str(tmp_path / "ck"),
    }}))

    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "replicate_stream" and out["synced_to"] == 1
    assert _state(LakeTable.load(spark, rep_root)) == _state(src)

    merge_into(src, _upserts(spark, [("r2", "b", 2, "y")])).commit()
    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["synced_to"] == 2
    rep = LakeTable.load(spark, rep_root)
    assert _state(rep) == _state(src)
    v = rep.current_version()
    # drained: a re-run moves nothing
    assert main(["--job", str(spec)]) == 0
    assert LakeTable.load(spark, rep_root).current_version() == v


def _jdbc_read(spark, url, table):
    return (
        spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
    )


def _jdbc_p(tmp_path, name):
    return {
        "url": f"jdbc:derby:{tmp_path}/{name};create=true",
        "table": "code_state",
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        # Derby maps StringType to CLOB (not equality-comparable); the
        # swap predicates need comparable key columns
        "createTableColumnTypes": (
            '"repo" VARCHAR(128), "path" VARCHAR(256), "content" VARCHAR(4000)'
        ),
    }


def _jdbc_state(spark, url, keys=("repo", "path")):
    return {
        tuple(r[k] for k in keys): tuple(
            v for k, v in sorted(r.asDict().items()) if k not in keys
        )
        for r in _jdbc_read(spark, url, "code_state").collect()
    }


def _lake_state(t, keys=("repo", "path")):
    return {
        tuple(r[k] for k in keys): tuple(
            v for k, v in sorted(r.asDict().items()) if k not in keys
        )
        for r in t.read().collect()
    }


def test_jdbc_sync_seed_incremental_delete_noop(spark, tmp_path):
    """Lake -> RDBMS replication (the reference's mysqlwriter-fed CDC
    job): seed creates target + watermark, incremental applies only the
    change feed in ONE transaction that advances the watermark, deletes
    land, and a completed window re-runs as a no-op."""
    from datax_spark.lake.jdbc_sync import jdbc_sync

    p = _jdbc_p(tmp_path, "js1")
    src = LakeTable.create(
        spark, str(tmp_path / "src"), SCHEMA, ["repo", "path"], num_buckets=4
    )
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit()

    r = jdbc_sync(src, p)
    assert r.mode == "seed" and r.synced_to == src.current_version() and r.upserts == 2
    assert _jdbc_state(spark, p["url"]) == _lake_state(src)

    upd = spark.createDataFrame(
        [("r1", "a", "U", 3, "x2"), ("r2", "b", "D", 4, None)],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(src, upd).commit()
    merge_into(src, _upserts(spark, [("r3", "c", 5, "z")])).commit()

    r = jdbc_sync(src, p)
    assert r.mode == "incremental" and (r.upserts, r.deletes) == (2, 1)
    assert _jdbc_state(spark, p["url"]) == _lake_state(src)
    assert ("r2", "b") not in _jdbc_state(spark, p["url"])

    # exactly-once: the watermark says this window is consumed
    r = jdbc_sync(src, p)
    assert r.mode == "noop"
    # stage tables were dropped inside the transaction
    with pytest.raises(Exception):
        _jdbc_read(spark, p["url"], "code_state_dx_ups").collect()


def test_jdbc_sync_schema_evolution_and_txn_rollback(spark, tmp_path):
    """Additive source evolution ALTERs the target inside the apply
    transaction; a failing ALTER rolls the WHOLE window back (target
    rows and watermark untouched), and the corrected retry lands it."""
    from datax_spark.lake.jdbc_sync import jdbc_sync

    p = _jdbc_p(tmp_path, "js2")
    src = LakeTable.create(
        spark, str(tmp_path / "src2"), SCHEMA, ["repo", "path"], num_buckets=4
    )
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    jdbc_sync(src, p)

    evolved = spark.createDataFrame(
        [("r2", "b", "U", 2, "y", "py3")],
        "repo string, path string, op string, lsn long, content string, lang string",
    )
    merge_into(src, evolved).commit()

    # a bad evolved type fails the ALTER -> the transaction rolls back
    before = _jdbc_state(spark, p["url"])
    with pytest.raises(Exception):
        jdbc_sync(src, {**p, "evolveColumnTypes": {"lang": "NOT A TYPE"}})
    assert _jdbc_state(spark, p["url"]) == before  # nothing applied

    r = jdbc_sync(src, {**p, "evolveColumnTypes": {"lang": "VARCHAR(64)"}})
    assert r.mode == "incremental"
    got = _jdbc_state(spark, p["url"])
    assert got == _lake_state(src)
    assert got[("r1", "a")] == ("x", None, 1)  # (content, lang, lsn): lang backfilled NULL


def test_jdbc_sync_repair_after_history_expired(spark, tmp_path):
    """Expired incremental window on the source -> full-snapshot swap,
    still one transaction, still convergent including lost deletes."""
    from datax_spark.lake.jdbc_sync import jdbc_sync

    p = _jdbc_p(tmp_path, "js3")
    src = LakeTable.create(
        spark, str(tmp_path / "src3"), SCHEMA, ["repo", "path"], num_buckets=4
    )
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x"), ("r2", "b", 2, "y")])).commit()
    jdbc_sync(src, p)

    upd = spark.createDataFrame(
        [("r2", "b", "D", 3, None), ("r3", "c", "U", 4, "z")],
        "repo string, path string, op string, lsn long, content string",
    )
    merge_into(src, upd).commit()
    src.expire_snapshots(keep_last=1)
    src.vacuum()

    r = jdbc_sync(src, p)
    assert r.mode == "repair"
    assert _jdbc_state(spark, p["url"]) == _lake_state(src)
    assert jdbc_sync(src, p).mode == "noop"


def test_cli_replicate_jdbc_job(spark, tmp_path, capsys):
    """`{"replicate": {"source_root": ..., "jdbc": {...}}}`: the CLI
    drives the lake->RDBMS sync — seed, then incremental, then noop."""
    import json

    from datax_spark.cli import main

    p = _jdbc_p(tmp_path, "jscli")
    src_root = str(tmp_path / "src")
    src = LakeTable.create(spark, src_root, SCHEMA, ["repo", "path"], num_buckets=4)
    merge_into(src, _upserts(spark, [("r1", "a", 1, "x")])).commit()
    spec = tmp_path / "job.json"
    spec.write_text(json.dumps({"replicate": {"source_root": src_root, "jdbc": p}}))

    assert main(["--job", str(spec), "--dry-run"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "replicate_jdbc", "source_version": 1,
                   "target": "code_state"}

    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "seed" and out["upserts"] == 1
    assert _jdbc_state(spark, p["url"]) == _lake_state(src)

    merge_into(src, _upserts(spark, [("r2", "b", 2, "y")])).commit()
    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "incremental" and out["synced_to"] == 2
    assert _jdbc_state(spark, p["url"]) == _lake_state(src)

    assert main(["--job", str(spec)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sync_mode"] == "noop"

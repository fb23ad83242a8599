"""The large-run LWW oracle (tools/verify_existing.py) on small logs: an
exact match across a schema evolution, a log that never evolved, one
altered table row, and an unresolvable tie."""

import ast
import importlib.util
import os
import shutil

import pytest
from pyspark.sql import functions as F

from datax_spark.engine import ReplayConfig, ReplayEngine
from datax_spark.fixtures.changelog import ChangelogSpec, write_events
from datax_spark.lake.table import LakeTable

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "verify_existing.py",
)
_spec = importlib.util.spec_from_file_location("verify_existing", _PATH)
ve = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ve)


def _replay(spark, root, evolve_from_epoch):
    spec = ChangelogSpec(
        n_events=3_000, n_repos=20, paths_per_repo=40, events_per_epoch=1_000,
        evolve_from_epoch=evolve_from_epoch, seed=5,
    )
    write_events(spark, spec, f"{root}/events")
    ReplayEngine(
        spark, f"{root}/events", f"{root}/table", f"{root}/metrics",
        ReplayConfig(num_buckets=4),
    ).run()


def _verify(spark, root):
    ve.hash_events(spark, f"{root}/events", f"{root}/hashed")
    ve.export_state(spark, f"{root}/table", f"{root}/state")
    con = ve.connect(str(root))
    ve.build_winners(con, f"{root}/hashed")
    return ve.compare(con, f"{root}/state")


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """A replayed log whose schema gains lang_variant mid-log; tests
    that alter it work on a copy (manifests hold relative paths)."""
    root = tmp_path_factory.mktemp("evolved")
    _replay(spark, root, evolve_from_epoch=1)
    return root


def test_oracle_matches_replay_across_evolution(spark, evolved, tmp_path):
    shutil.copytree(evolved, tmp_path, dirs_exist_ok=True)
    r = _verify(spark, tmp_path)
    assert r["missing"] == 0 and r["extra"] == 0
    assert r["oracle_rows"] == r["rows"] > 0


def test_oracle_matches_log_without_lang_variant(spark, tmp_path):
    _replay(spark, tmp_path, evolve_from_epoch=None)
    assert "lang_variant" not in spark.read.parquet(f"{tmp_path}/events").columns
    r = _verify(spark, tmp_path)
    assert r["missing"] == 0 and r["extra"] == 0
    assert r["oracle_rows"] == r["rows"] > 0


def test_oracle_reports_one_altered_row(spark, evolved, tmp_path):
    shutil.copytree(evolved, tmp_path, dirs_exist_ok=True)
    t = LakeTable.load(spark, f"{tmp_path}/table")
    row = t.read().orderBy("repo", "path").first()
    n = t.update_where(
        {"content": F.lit("altered")},
        filters=[("repo", "=", row["repo"]), ("path", "=", row["path"])],
    )
    assert n == 1
    r = _verify(spark, tmp_path)
    assert (r["missing"], r["extra"]) == (1, 1)


def test_oracle_refuses_tied_winners(spark, tmp_path):
    # two events at the same key AND (commit, lsn): no LWW rule picks one
    rows = [
        ("r", "a.py", "U", "c01", 1, "py", "x"),
        ("r", "a.py", "U", "c01", 1, "py", "y"),
        ("r", "b.py", "U", "c02", 2, "py", "z"),
    ]
    spark.createDataFrame(
        rows, "repo string, path string, op string, commit string, lsn long, "
        "lang string, content string",
    ).write.parquet(f"{tmp_path}/events")
    ve.hash_events(spark, f"{tmp_path}/events", f"{tmp_path}/hashed")
    con = ve.connect(str(tmp_path))
    with pytest.raises(ValueError, match="same \\(commit, lsn\\)"):
        ve.build_winners(con, f"{tmp_path}/hashed")


def test_oracle_imports_no_engine_code():
    # independence: the oracle reads raw events and the finished table,
    # never the engine's dedup / merge / replay code
    mods = set()
    for node in ast.walk(ast.parse(open(_PATH).read())):
        if isinstance(node, ast.ImportFrom):
            mods.add(node.module)
        elif isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
    banned = {"datax_spark.operators.dedup", "datax_spark.lake.merge",
              "datax_spark.engine.replay", "datax_spark.engine"}
    assert not mods & banned

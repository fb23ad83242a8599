"""The local-mode Python worker daemon (datax_spark/pyworker.py): an
unchanged zip on ``sys.path`` is not re-read on
``importlib.invalidate_caches()``, a rewritten one is, live workers run
the patch, and a session from ``get_spark`` starts its workers from any
cwd with no PYTHONPATH."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from datax_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ re-reads archives lazily"
)


@pytest.fixture
def patched(monkeypatch):
    # restore the stock method after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert pyworker.install_zip_cache_patch()
    assert pyworker.install_zip_cache_patch()  # idempotent


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _import_from_zip(monkeypatch, tmp_path, name):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {name: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    return archive


@needs_patch
def test_unchanged_archive_is_not_reread(patched, monkeypatch, tmp_path):
    archive = _import_from_zip(monkeypatch, tmp_path, "dx_zip_unchanged_a")
    importlib.invalidate_caches()  # first call reads and stamps
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


@needs_patch
def test_rewritten_archive_is_reread(patched, monkeypatch, tmp_path):
    archive = _import_from_zip(monkeypatch, tmp_path, "dx_zip_rewrite_a")
    importlib.invalidate_caches()
    _write_zip(archive, {"dx_zip_rewrite_a": "X = 1\n", "dx_zip_rewrite_b": "Y = 2\n"})
    monkeypatch.delitem(sys.modules, "dx_zip_rewrite_b", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("dx_zip_rewrite_b").Y == 2


def test_live_worker_runs_patched_method(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        flag = getattr(zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False)
        yield pa.RecordBatch.from_pydict(
            {"patched": pa.array([flag]), "py313": pa.array([sys.version_info >= (3, 13)])}
        )

    assert spark.conf.get("spark.python.daemon.module") == "datax_spark.pyworker"
    rows = spark.range(4, numPartitions=2).mapInArrow(probe, "patched boolean, py313 boolean")
    got = rows.collect()
    assert len(got) == 2
    assert all(r.patched != r.py313 for r in got)


def test_fresh_process_outside_repo(tmp_path):
    """No cwd or PYTHONPATH help: the daemon module must still import,
    and a caller's spark.executorEnv.PYTHONPATH must still reach the
    workers."""
    caller = tmp_path / "caller_lib"
    caller.mkdir()
    (caller / "dx_caller_mod.py").write_text("K = 10\n")
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            import pandas as pd
            from pyspark.sql.functions import pandas_udf
            from datax_spark.session import get_spark

            spark = get_spark(cores=1, extra_conf={{
                "spark.driver.memory": "1g",
                "spark.executorEnv.PYTHONPATH": {str(caller)!r},
            }})

            @pandas_udf("long")
            def plus_k(s: pd.Series) -> pd.Series:
                import dx_caller_mod
                return s + dx_caller_mod.K

            print("RESULT", sorted(r[0] for r in spark.range(3).select(plus_k("id")).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    p = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "RESULT [10, 11, 12]" in p.stdout

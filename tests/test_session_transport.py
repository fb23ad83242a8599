"""The local-mode Python worker transport (datax_spark/session.py):
``get_spark`` runs Python workers, the accumulator server and result
serving over Unix domain sockets in a 0700 per-process directory
``/tmp/dxs-<pid>-<random>``, removes it at exit, and sweeps the
directories that killed processes left behind."""

from __future__ import annotations

import os
import signal
import stat
import subprocess
import sys
import textwrap

import pyarrow as pa
from pyspark.sql.functions import arrow_udf

from datax_spark import session
from datax_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIR_KEY = "spark.python.unix.domain.socket.dir"


def test_session_uses_unix_sockets_in_private_dir(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = spark.conf.get(DIR_KEY)
    assert d == session.python_socket_dir()  # reused, not remade
    assert os.path.dirname(d) == "/tmp"
    assert os.path.basename(d).startswith(f"dxs-{os.getpid()}-")
    st = os.lstat(d)
    assert stat.S_ISDIR(st.st_mode)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(os.path.join(d, f".{'0' * 36}.sock").encode()) <= 107


def test_python_paths_round_trip(spark):
    @arrow_udf("long")
    def plus_one(v: pa.Array) -> pa.Array:
        return pa.compute.add(v, 1)

    got = sorted(r[0] for r in spark.range(6, numPartitions=3).select(plus_one("id")).collect())
    assert got == [1, 2, 3, 4, 5, 6]

    def double(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays([pa.compute.multiply(b.column(0), 2)], ["id"])

    df = spark.range(16, numPartitions=16).mapInArrow(double, "id long")
    assert sorted(r.id for r in df.collect()) == [2 * i for i in range(16)]

    acc = spark.sparkContext.accumulator(0)
    spark.sparkContext.parallelize(range(10), 4).foreach(lambda x: acc.add(x))
    assert acc.value == 45
    # the sockets of this session's daemon and accumulator server
    assert any(n.endswith(".sock") for n in os.listdir(spark.conf.get(DIR_KEY)))


def _child(tmp_path, body):
    script = tmp_path / "child.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys, time
            sys.path.insert(0, {REPO!r})
            from datax_spark.session import get_spark

            spark = get_spark(cores=1, extra_conf={{"spark.driver.memory": "1g"}})
            print("DIR", spark.conf.get({DIR_KEY!r}), flush=True)
            assert spark.range(4, numPartitions=2).mapInArrow(lambda it: it, "id long").count() == 4
            print("RAN", flush=True)
            """
        )
        + textwrap.dedent(body)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    return subprocess.Popen(
        [sys.executable, str(script)], cwd=tmp_path, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, start_new_session=True,
    )


def _read_dir(p):
    line = p.stdout.readline()
    assert line.startswith("DIR "), line
    assert p.stdout.readline() == "RAN\n"
    return line.split()[1]


def test_clean_exit_removes_dir(tmp_path):
    p = _child(tmp_path, "spark.stop()\n")
    d = _read_dir(p)
    assert p.wait(timeout=300) == 0
    assert not os.path.exists(d)


def test_sigkilled_dir_swept_by_next_session(spark, tmp_path):
    p = _child(tmp_path, "time.sleep(600)\n")
    try:
        d = _read_dir(p)
        assert os.path.isdir(d)
    finally:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait(timeout=60)
    assert os.path.isdir(d)  # no exit hook ran
    mine = spark.conf.get(DIR_KEY)
    again = get_spark(app_name="datax_spark_tests", cores=8, shuffle_partitions=8)
    assert again.conf.get(DIR_KEY) == mine and os.path.isdir(mine)
    assert not os.path.exists(d)

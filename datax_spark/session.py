"""SparkSession builder with the engine's standard configuration.

Local-mode testing uses ``local[N]``; the same settings are what we
would ship in spark-defaults for a multi-executor cluster (AQE on,
shuffle partitions sized to cores, Arrow enabled for pandas UDFs).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import stat
import tempfile

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Python workers talk to the JVM over Unix domain sockets bound at
# ``<dir>/.<uuid4>.sock``. sun_path holds 107 bytes plus the NUL, and
# perfbench and CI point $TMPDIR (and java.io.tmpdir) at deep paths, so
# the directory is a short one directly under /tmp.
_SOCK_ROOT = "/tmp"
_SOCK_PREFIX = "dxs-"
_SOCK_NAME_RE = re.compile(re.escape(_SOCK_PREFIX) + r"(\d+)-[A-Za-z0-9_]+")
_SOCK_PATH_MAX = 107
_SOCK_NAME_LEN = len("/.") + 36 + len(".sock")
# one directory per process, shared by every session it builds
_sock_dir: tuple[int, str] | None = None  # (owner pid, path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _sweep_dead_socket_dirs() -> None:
    """Remove this uid's ``/tmp/dxs-<pid>-*`` directories whose process
    is gone (a SIGKILLed process never runs its exit hook)."""
    uid = os.getuid()
    try:
        names = os.listdir(_SOCK_ROOT)
    except OSError:
        return
    for name in names:
        m = _SOCK_NAME_RE.fullmatch(name)
        if m is None or _pid_alive(int(m.group(1))):
            continue
        path = os.path.join(_SOCK_ROOT, name)
        try:
            st = os.lstat(path)
        except OSError:
            continue
        if stat.S_ISDIR(st.st_mode) and st.st_uid == uid:
            shutil.rmtree(path, ignore_errors=True)


def _remove_socket_dir(owner: int, path: str) -> None:
    # a forked child inherits this hook; only the owner removes the dir
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)


def python_socket_dir() -> str:
    """This process's directory for the Python worker sockets.

    Made once per process as ``/tmp/dxs-<pid>-<random>`` with mode 0700
    and removed at exit; each call first removes the directories of dead
    processes. In Unix-socket mode Spark sends no per-connection
    auth secret, so the directory's permissions are the only access
    control: a directory that is not ours or not 0700 is never reused."""
    global _sock_dir
    _sweep_dead_socket_dirs()
    pid = os.getpid()
    if _sock_dir is not None and _sock_dir[0] == pid:
        try:
            st = os.lstat(_sock_dir[1])
        except OSError:
            st = None
        if (
            st is not None
            and stat.S_ISDIR(st.st_mode)
            and st.st_uid == os.getuid()
            and stat.S_IMODE(st.st_mode) == 0o700
        ):
            return _sock_dir[1]
    path = tempfile.mkdtemp(prefix=f"{_SOCK_PREFIX}{pid}-", dir=_SOCK_ROOT)  # mode 0700
    if len(path.encode()) + _SOCK_NAME_LEN > _SOCK_PATH_MAX:
        os.rmdir(path)
        raise RuntimeError(f"socket directory {path!r} leaves no room for a socket name")
    atexit.register(_remove_socket_dir, pid, path)
    _sock_dir = (pid, path)
    return path


def get_spark(
    app_name: str = "datax_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` uses ``local[*]``. Shuffle partitions default to
    2x cores locally; on a real cluster you would size these to
    ~2-3x total executor cores and let AQE coalesce.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 8)
    explicit_shuffle = shuffle_partitions is not None
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)
    # Under spark-submit the JVM gateway is already up and its conf
    # carries the submitted --master (local[N], yarn, k8s, ...).
    # Forcing .master() here would silently override the cluster the
    # operator asked for — the exact bug class the north rule's
    # "spark-submit --py-files at N and 4N executors" form exists to
    # catch. Detect the pre-launched gateway and leave master alone.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ObjectHashAggregateExec (TypedImperativeAggregates such as
        # collect_list/percentile) falls back to sort-based aggregation
        # at 128 distinct keys per partition by default — a CDC batch
        # has 10^5+ keys per partition, so any typed-imperative agg in
        # a user transform would anti-scale with thread count. 1M
        # entries keeps the hash path for any sanely sized partition
        # (~128MB => ~2x10^5 keys) while bounding worst-case agg-map
        # memory per task. NOTE: the core max_by dedup itself is a
        # DeclarativeAggregate and plans as SortAggregate regardless
        # (struct buffer — see docs/PLANS.md for the measured
        # comparison of alternatives; the partial map-side reduction
        # is the property that matters).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    extra_conf = dict(extra_conf or {})
    if not under_submit:
        # Sizing heuristics are local-mode only: on a submitted cluster
        # the operator's --conf (or AQE) owns parallelism and memory.
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
            .config("spark.default.parallelism", str(cores))
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
            # workers start from datax_spark.pyworker (no per-task
            # re-read of pyspark.zip), so the package must be importable
            # on the worker path whatever the caller's cwd and PYTHONPATH
            .config("spark.python.daemon.module", "datax_spark.pyworker")
            # Python workers, the accumulator server and result serving
            # use Unix sockets in a 0700 per-process directory instead
            # of authenticated loopback TCP
            .config("spark.python.unix.domain.socket.enabled", "true")
        )
        if "spark.python.unix.domain.socket.dir" not in extra_conf:
            builder = builder.config("spark.python.unix.domain.socket.dir", python_socket_dir())
        key = "spark.executorEnv.PYTHONPATH"
        parts = [p for p in extra_conf.get(key, "").split(os.pathsep) if p]
        if _PACKAGE_PARENT not in parts:
            parts.append(_PACKAGE_PARENT)
        extra_conf[key] = os.pathsep.join(parts)
    elif explicit_shuffle:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

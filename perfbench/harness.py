"""Host-side plumbing: the sized Spark session, process-tree RSS, the CPU
control job and percentile helpers."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, clamped to [1 GiB, 4 GiB]."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return min(4096, max(1024, total_mb // 8))
    return 2048


def start_session(scratch: str, trace: bool):
    """A ``local[nproc]`` session whose every scratch path lies under
    ``scratch``. With ``trace`` the Spark event log is written to
    ``<scratch>/eventlog``."""
    from datax_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the JVM and the Python workers inherit this environment: workers
    # must import datax_spark, and no scratch file may land in /tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(scratch, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cores=host_cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_control(spark, rows_per_core: int) -> float:
    """Seconds for one shuffle-free, codegen-only xxhash job over
    ``rows_per_core * nproc`` rows: what the host gives right now,
    independent of the engine."""
    cores = host_cores()
    t0 = time.monotonic()
    spark.range(0, rows_per_core * cores, 1, cores * 4).selectExpr(
        "sum(cast(xxhash64(id) as double))"
    ).collect()
    return time.monotonic() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return user + nice + system + irq + softirq, steal


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (driver,
    gateway JVM, Python workers), read from /proc. Each process counts
    its proportional share of pages it shares (``Pss``), so the pages
    forked Python workers share are counted once."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``period``
    seconds in a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.

    Returns ``{"percentile": p, "value": v, "n": len(values)}``; with
    fewer than 11 samples no percentile qualifies and the maximum is
    given with ``percentile`` = ``"max"``."""
    n = len(values)
    ordered = sorted(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10:
            rank = max(1, math.ceil(p * n / 100.0 - 1e-9))  # nearest rank
            return {"percentile": p, "value": ordered[rank - 1], "n": n}
    return {"percentile": "max", "value": ordered[-1] if ordered else 0.0, "n": n}

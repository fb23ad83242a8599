"""The same-window CPU control shared by the benchmark scripts.

A pure-CPU, codegen-only, shuffle-free Spark job: it measures what the
host gives right now, independent of any engine design choice. This
host class's vCPUs steal, so a timing is only compared with another
taken next to a control run in the same window.
"""

from __future__ import annotations

import time
import weakref

# sessions whose control plan has run once: the first run of the plan
# pays codegen + JIT warm-up (measured 1.06-2.14 s vs 0.53-0.74 s for
# the second), which is not host drift
_warm: weakref.WeakSet = weakref.WeakSet()


def cpu_control(spark, rows: int, partitions: int) -> float:
    """Wall seconds, rounded to ms, of ``sum(cast(xxhash64(id) as
    double))`` over ``spark.range(rows)`` in ``partitions`` partitions.
    The first call for a session runs the plan once untimed first."""

    def run() -> None:
        spark.range(0, rows, 1, partitions).selectExpr(
            "sum(cast(xxhash64(id) as double))"
        ).collect()

    if spark not in _warm:
        run()
        _warm.add(spark)
    t0 = time.monotonic()
    run()
    return round(time.monotonic() - t0, 3)

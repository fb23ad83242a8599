"""The same-window CPU control shared by the benchmark scripts.

A pure-CPU, codegen-only, shuffle-free Spark job: it measures what the
host gives right now, independent of any engine design choice. This
host class's vCPUs steal, so a timing is only compared with another
taken next to a control run in the same window.
"""

from __future__ import annotations

import time


def cpu_control(spark, rows: int, partitions: int) -> float:
    """Wall seconds, rounded to ms, of ``sum(cast(xxhash64(id) as
    double))`` over ``spark.range(rows)`` in ``partitions`` partitions."""
    t0 = time.monotonic()
    spark.range(0, rows, 1, partitions).selectExpr(
        "sum(cast(xxhash64(id) as double))"
    ).collect()
    return round(time.monotonic() - t0, 3)

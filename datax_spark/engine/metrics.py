"""Per-partition lineage metrics table.

Counter vocabulary modeled on the reference's Communication metrics
(``CommunicationTool.java:16-50`` — readSucceededRecords/Bytes,
writeReceivedRecords, waitTime…), re-keyed to the unit that matters in
a bucketed lake: (epoch, bucket). One row per bucket per epoch:

    epoch, bucket, n_events, n_deletes, min_lsn, max_lsn (the event
    offsets), bytes_in, n_keys_after_dedup, rows_after_merge, apply_ms

``apply_ms`` is the bucket's own time in its merge task (read current
+ merge + write, timed inside the bucket kernel), so a hot bucket
shows as the row with the largest value; the epoch's wall time is
``EpochResult.apply_ms``.

Written driver-side with pyarrow (the rows are a per-epoch aggregate —
at most num_buckets of them), under ``metrics_root/epoch=N/``,
overwritten on replay so metrics are idempotent too.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = pa.schema(
    [
        ("epoch", pa.int64()),
        ("bucket", pa.int32()),
        ("n_events", pa.int64()),
        ("n_deletes", pa.int64()),
        ("min_lsn", pa.int64()),
        ("max_lsn", pa.int64()),
        ("bytes_in", pa.int64()),
        ("n_keys_after_dedup", pa.int64()),
        ("rows_after_merge", pa.int64()),
        ("apply_ms", pa.float64()),
    ]
)


def write_epoch_metrics(metrics_root: str, epoch: int, rows: list[dict]) -> None:
    d = os.path.join(metrics_root, f"epoch={epoch}")
    if os.path.exists(d):
        shutil.rmtree(d)  # replay-idempotent: overwrite, never append
    os.makedirs(d, exist_ok=True)
    cols = {f.name: [r.get(f.name) for r in rows] for f in METRICS_SCHEMA}
    pq.write_table(pa.table(cols, schema=METRICS_SCHEMA), os.path.join(d, "metrics.parquet"))


def read_metrics(spark: SparkSession, metrics_root: str) -> DataFrame:
    paths = sorted(glob.glob(os.path.join(metrics_root, "epoch=*", "*.parquet")))
    if not paths:
        raise FileNotFoundError(f"no metrics under {metrics_root}")
    return spark.read.parquet(*paths)

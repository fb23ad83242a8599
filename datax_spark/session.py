"""SparkSession builder with the engine's standard configuration.

Local-mode testing uses ``local[N]``; the same settings are what we
would ship in spark-defaults for a multi-executor cluster (AQE on,
shuffle partitions sized to cores, Arrow enabled for pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        )
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

"""SparkSession factory with the engine's scale-aware defaults.

Local mode for tests/bench; on a real cluster the same conf block applies —
AQE owns runtime re-planning (partition coalescing, skew splitting), Arrow
feeds the sorted-stream ``mapInPandas`` kernels, UTC everywhere (the reference's day math is
UTC-midnight based, [EXT] DateUtil.midnightUTC).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Temporarily set session conf keys, restoring the previous values —
    or unsetting keys that had none — even when the body raises mid-loop.

    Used by the driver-synced iterative operators (connected_components,
    bpe_train) that run their rounds with AQE off at a fixed shuffle width
    so checkpointed partitionings stay reusable. NOT re-entrant and NOT
    thread-safe: session conf is global to the SparkSession, so any query
    planned concurrently on the same session while the scope is open plans
    at the scoped values (perf-only — results are unaffected — but
    surprising; this engine assumes a single-threaded driver per session,
    the bench/test harness contract)."""
    prev: dict[str, str | None] = {}
    for k, v in settings.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def get_spark(
    app_name: str = "zipkin-dependencies-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join splitting at scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the mapInPandas linker and path kernels and pandas
        # interchange
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's daemon, minus two costs of $SPARK_HOME's source-only
        # pyspark.zip (worker_daemon.py): it imports an installed PySpark of
        # the zip's release instead, with compiled caches, and skips the
        # zip-archive re-read PySpark triggers before every Python task.
        # Workers must find this package at daemon start (cwd or
        # PYTHONPATH), as the kernels need it anyway;
        # SPARK_CONF=spark.python.daemon.module=pyspark.daemon restores the
        # stock daemon
        .config("spark.python.daemon.module", "zipkin_dependencies_spark.worker_daemon")
        # idempotent day re-runs: overwrite only the partitions being written
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the pre-coalesce width of every shuffle: AQE merges its hash
        # partitions by size at run time (per-core floor below). Scan split
        # size is spark.sql.files.maxPartitionBytes (128m default), unset here
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # the driver-generated events parquet stores TIMESTAMP(NANOS) which
        # Spark has no native type for — read as long, convert at the source
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # the Python kernels' exchanges are column-only repartitions AQE sizes
    # (operators/link.py::trace_links_partitioned): start them at one
    # partition per core at least, unless the caller chose a start width
    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    cores = spark.sparkContext.defaultParallelism
    if (
        spark.conf.get(initial, None) is None
        and cores > int(spark.conf.get("spark.sql.shuffle.partitions"))
    ):
        spark.conf.set(initial, str(cores))
    return spark

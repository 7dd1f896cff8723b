"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same config block is what we
would pass to ``spark-submit`` on a real cluster (AQE, Arrow, UTC,
shuffle partitions sized to cores). Keep all engine-relevant confs here
so bench runs at two parallelism levels stay otherwise identical.
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """$SPARK_DRIVER_MEM, else 40% of MemTotal: in local mode the driver
    JVM hosts every task; Python workers and page cache need the rest."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1024, kib * 2 // 5 // 1024)}m"


def get_spark(
    app_name: str = "news_combinator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to `default_cores()`.
    shuffle_partitions: defaults to cores (local mode rule of thumb --
    on a 1000-executor cluster this would instead be ~2-3x total cores).
    The driver heap is `default_driver_memory()` unless extra_conf sets
    spark.driver.memory.
    """
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    heap = (extra_conf or {}).get("spark.driver.memory") or default_driver_memory()

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", str(heap))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    starting = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if starting:
        print(f"news_combinator_spark: local[{cores}], driver heap {heap}",
              file=sys.stderr)
    return spark

"""SparkSession factory tuned for the engine.

Arrow exchange on (the industrial version of hipipe's zero-copy
C++→Python column hand-off, reference
``include/hipipe/core/python/utility/ndim_vector_converter.hpp:46-60``),
AQE on, UTC session time zone so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """60% of MemTotal, in MB: the rest is left to Python workers,
    off-heap buffers and the OS."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(int(line.split()[1]) * 0.6 / 1024)}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "hipipe_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to the core count — on a real cluster you would
    size this to ~2-3x total executor cores; AQE coalesces at runtime
    either way. The driver heap is ``$SPARK_DRIVER_MEM`` or 60% of the
    host's MemTotal.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for this engine.

Local mode mirrors the driver harness (local[$SPARK_GRAFT_CPUS]); on a
real cluster every setting here except master/driver-memory carries
over unchanged. Without the environment overrides, the core count and
the driver heap come from the box (``box_cpus``,
``box_driver_memory``). AQE is on so skewed scans/joins re-plan at
runtime — the scale path for the 100 TB target.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_HEAP_GB = 16


def box_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity set, which a cpuset-limited container narrows)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return cpus
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:  # no affinity API on this platform
        return str(os.cpu_count() or 1)


def box_driver_memory() -> str:
    """``TERA_SPARK_DRIVER_MEM``, else half the physical RAM, between
    1g and 16g."""
    mem = os.environ.get("TERA_SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 30)
    except (AttributeError, ValueError, OSError):
        return f"{_MAX_HEAP_GB}g"
    return f"{min(_MAX_HEAP_GB, max(1, phys_gb // 2))}g"


def get_spark(
    app_name: str = "tera_spark",
    shuffle_partitions: int | None = None,
    *,
    rocksdb_state: bool = False,
) -> SparkSession:
    """``rocksdb_state=True`` switches Structured Streaming state to the
    RocksDB provider — the scale choice when stateful-operator state
    (sessionizer keys, dedup windows) exceeds executor heap; the default
    in-memory provider is faster for the local test volumes."""
    cpus = box_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else os.cpu_count() or 8, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's 1 MB floor coalesces small-bytes/CPU-heavy shuffles (the
        # HOF view folds: ~10 MB shuffled, seconds of per-row compute) down
        # to a handful of tasks, idling the other cores. 256k keeps
        # parallelism for those without over-splitting wide-payload scans
        # (64k cost ~20% on 1 KB-value folds); it never binds on big
        # shuffles, where the parallelism-first target dwarfs it.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", box_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

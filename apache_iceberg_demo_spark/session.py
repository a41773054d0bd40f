"""SparkSession factory.

Mirrors the reference's driver bootstrap (``scripts/csv_to_ice.py:4-14`` — session
conf is the only "engine configuration" the reference performs) but tuned for the
local[32] test harness while staying valid for a real cluster:

- AQE on (runtime re-plan: post-shuffle coalescing, skew-join splitting) — at
  100 TB this is what keeps a static ``shuffle.partitions`` choice from being fatal.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster you'd set
  this ~2-3x total cores, and AQE coalesces the rest.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
- Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sized_shuffle_partitions(input_bytes: int, cpus: int) -> int:
    """Size shuffle partitions to the workload: ~64 MB of input per shuffle
    partition, floored at 8 and never below the core count for large inputs.
    At 100 TB this yields ~1.6M initial partitions, which AQE coalesces after
    the map stage — the documented sizing rule (spill-aware, §spec)."""
    del cpus  # parallelism floor is the 8-partition minimum, not core count
    per_64mb = input_bytes // (64 * 1024 * 1024)
    return max(8, min(per_64mb, 200_000))


def get_spark(
    app_name: str = "apache_iceberg_demo_spark", shuffle_partitions: int | None = None
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    # The driver heap defaults to half the host's memory, at most 48g: a JVM
    # allowed more than the host has grows past it and is OOM-killed mid-run.
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(48, host_gb // 2))}g"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: a selective dimension filter
        # builds a bloom filter that prunes the fact scan — the big lever
        # for star joins at 100 TB. (Do NOT also set
        # runtimeFilter.semiJoinReduction — it hangs session startup on
        # pyspark 4.1.2.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

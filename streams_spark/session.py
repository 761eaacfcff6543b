"""SparkSession factory tuned for the harness (local[N]) but scale-minded.

Every config here is also correct on a multi-executor cluster: AQE handles
runtime re-planning (skew joins, partition coalescing), shuffle partitions
default to the local core count but should be ~2-3x total cores on a real
cluster, and the session timezone is pinned to UTC so results are comparable
with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Entries of Spark's generated-class cache (a static conf: read once, when
# the JVM first compiles). Spark's default of 100 is below one query mix's
# working set, so a rotation over more than a few queries recompiled its
# classes on every re-run. Measured at sf0.01 on 4 cores: at Spark's
# defaults the 49 bench.HEADLINE rows compiled 774 classes in a first
# pass and 653 again in a second; with the two settings below, 589 and 8.
# One pass over the whole registry compiles 2636 distinct classes, and a
# second pass 38 more whose code inlines a per-run literal or an AQE
# runtime choice. 4096 holds the registry and its churn with ~50% spare.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """`spark.driver.memory` unless SPARK_DRIVER_MEMORY overrides it:
    two thirds of the RAM available at start-up, in whole GiB, between
    1g and 16g. In local mode this one JVM also runs every task; the
    rest is left to the Python workers and the OS. Where /proc/meminfo
    is missing, total physical RAM stands in for available RAM."""
    try:
        with open("/proc/meminfo") as fh:
            avail = next(
                int(line.split()[1]) * 1024
                for line in fh
                if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration):
        avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, avail * 2 // 3 // 2**30))}g"


def get_spark(app_name: str = "pystreams", shuffle_partitions: int | None = None) -> SparkSession:
    n = default_parallelism()
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # name every whole-stage class alike, not after its stage id: AQE
        # numbers stages in the order they materialize, which varies from
        # run to run, and a new name is a new class to compile (the id
        # stays in the plan). Without it the registry's second pass above
        # recompiles 185 classes, not 38, and q_kmv_setops 8-18 per run.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in the source layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

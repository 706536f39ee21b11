"""SparkSession factory.

Mirrors the reference's session builders (/root/reference/airflow/config/
read_delta.py:10-30 and /root/reference/spark/SaveDelta.scala:74-84) minus
the S3A/Delta wiring, plus the scale-oriented defaults the reference lacks
(AQE, skew-join handling, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    n = os.environ.get("SPARK_GRAFT_CPUS")
    if n:
        return int(n)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


#: share of physical memory the local driver heap defaults to
DRIVER_MEM_SHARE = 0.3


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else a share of physical memory (at
    least 1 GB): in local mode the driver heap is the only memory knob,
    and Spark's 1g default would spill or thrash every shuffle."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or f"{max(1024, int(phys * DRIVER_MEM_SHARE) >> 20)}m")


def get_spark(app_name: str = "samdis-engine", shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    On a real cluster the same conf applies; only ``master`` changes.
    ``spark.sql.shuffle.partitions`` is a floor — AQE coalesces down and
    splits skewed partitions at runtime, which is the 100 TB-safe default.
    """
    n = shuffle_partitions or default_parallelism()
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the driver's events.parquet has stored ts as TIMESTAMP(NANOS) in
        # some rounds (read as int64 ns) and TIMESTAMP(MICROS, ntz) in
        # others; the source adapter (sources/tables.py) normalizes both
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        b = b.master(f"local[{n}]").config("spark.driver.memory",
                                           driver_memory())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(executors: int = 1000, cores_per_executor: int = 4,
                 target_partition_mb: int = 128) -> dict[str, str]:
    """Recommended conf for the real 100 TB deployment (documented contract;
    local runs don't need it). Sizing rules:

    - shuffle partitions ≈ 2-3× total cores so every wave is full and AQE
      has room to coalesce; with 100 TB inputs this also keeps the average
      post-shuffle partition near target_partition_mb.
    - AQE owns runtime re-planning (coalesce, skew split, join demotion).
    - Kryo + zstd shuffle: CPU-cheap, 2-3× smaller shuffle files.
    - maxPartitionBytes bounds scan task size so a 100 TB scan yields
      ~800k tasks, not 8M.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(target_partition_mb * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes":
            str(target_partition_mb * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.speculation": "true",
        "spark.task.maxFailures": "4",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }

"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-at-scale first:
  - AQE on (runtime shuffle-partition coalescing, skew-join splitting,
    broadcast-join conversion) — free wins at 100 TB.
  - Arrow on — every Python boundary is vectorized.
  - UTC session timezone by default, though no result depends on it:
    event time is TIMESTAMP_NTZ and only functions/time.py converts it,
    with helpers that ignore the session zone.
  - shuffle.partitions sized to the local core count; on a real cluster
    AQE coalesces the 2× over-provisioned number down.

The reference engine had no session management at all — each trainer
grabbed ``dataframe.rdd`` and hand-rolled parallelism
(distkeras/trainers.py ~L350). Here the session *is* the engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 48g. A fixed 48g let one JVM
    grow past what a 15.7 GB host holds: a verify_local-style run was
    OOM-killed at 13.1 GB resident while a test session ran beside it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(
    app_name: str = "dist_keras_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local-mode parallelism so the bench
    driver can pin core counts, and ``SPARK_GRAFT_DRIVER_MEM`` for the
    driver heap (default: half of physical memory, at most 48g).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2× cores: enough granularity for AQE to coalesce, not so many
        # that task overhead dominates at small SF.
        shuffle_partitions = max(cpus, 1) * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Generated-class cache: the default 100 entries evicts hot
        # codegen classes in long many-query sessions, and re-Janino-
        # compiling a wide plan costs seconds (measured 5-35s spikes on
        # the LSH pipeline after ~11 unrelated queries). Classes are
        # small; 1000 entries removes the compilation storms.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-oriented defaults.

Local mode (`local[N]`) is the sandbox proxy for a multi-executor cluster;
every setting below is the one we'd ship on a 1000-executor cluster:
AQE for runtime re-planning (post-shuffle coalescing + skew-join splitting,
which defuses hot-entity skew, SURVEY.md §4), Arrow for the pandas-UDF
extraction hot path, and shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """About half of physical RAM, capped at 48g: the driver JVM shares the
    host with its Python workers, so a heap sized past RAM gets the whole
    process OOM-killed mid-run instead of spilling."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1024, min(ram_mb // 2, 48 * 1024))}m"


def get_spark(
    app_name: str = "graphrag_litex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches amortize per-batch pandas construction in the
        # extraction UDF (default 10k; 20k measured best at 150-byte rows).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves stage-table size vs snappy; shared-disk write
        # bandwidth is the scarcest resource in local mode (and often on
        # clusters too).
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory tuned for this engine.

Local test profile is ``local[N]`` (single JVM), but every setting here is
chosen to also hold on a multi-executor cluster at ~100 TB scale:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy
  switches — the knobs that matter when static estimates are wrong at scale.
- Arrow on: every Pandas-UDF boundary (the YAML/frontmatter readers, the
  embedding kernels) moves data in columnar batches, not pickled rows.
- ``spark.sql.shuffle.partitions`` is only a *default*; at cluster scale AQE
  coalesces it post-shuffle, and the heavy operators below additionally size
  their own repartitions from data volume, not from this constant.
- ``spark.driver.memory`` is ``SPARK_GRAFT_DRIVER_MEM`` when set (the
  deployment setting), else about 60% of the host's physical memory, so a
  local session never asks for more heap than the machine has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(phys * 0.6) >> 30)}g"


def get_spark(app_name: str = "staticql-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet (e.g. pandas-written event tables) is
        # unsupported by the vectorized reader; surface it as int64 nanos
        # and convert explicitly (streaming.load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()

"""SparkSession factory with the engine's tuned configuration.

Scale posture (SURVEY.md section 4): Arrow enabled for every pandas UDF,
bounded Arrow batches so one giant document cannot blow an executor
(north-rule ``maxRecordsPerBatch``), AQE on for runtime coalescing/skew.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: r6: 512 -> 8192 rows, now paired with a BYTE bound (Spark 4's
#: maxBytesPerBatch). 512-row batches made the small-matrix numpy kernels
#: (PQ encode: 8 blocks x 16 centroids per batch) overhead-dominated; the
#: byte cap is the honest giant-row guard the record cap only proxied
#: (512 rows x 1 MB plain_text was 512 MB under the old setting; now any
#: batch stops at 32 MB regardless of row width).
DEFAULT_MAX_RECORDS_PER_BATCH = 8192
DEFAULT_MAX_BYTES_PER_BATCH = 32 << 20
#: local mode: one JVM hosts all task threads — size the heap for the
#: thread count or GC serializes the interpreted-HOF allocation storm.
#: 64g (was 24g): a 47-query session accumulates plans/codegen/broadcasts,
#: and at 24g the LAST-built queries ran 3-5x their isolated cost from GC
#: pressure on a 32-core / 125 GiB host (curation_funnel 5.0 s in-sweep vs
#: 1.05 s isolated; 64g sweep: 1.14 s — guide §5). So 64g is the cap, not
#: the default: a heap larger than the host's RAM gets the process killed
#: instead of collected.
MAX_DRIVER_MEM_GB = 64


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half
    the host's ``MemTotal`` in whole GiB (at least 1g) capped at
    ``MAX_DRIVER_MEM_GB``, else the cap when ``meminfo`` cannot be read.
    The other half is left to the Python workers (one per task thread) and
    the page cache. Heap is a max, not a reservation; cluster deployments
    size executors separately anyway."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_gib = int(line.split()[1]) >> 21  # kB -> GiB, halved
                    return f"{max(1, min(MAX_DRIVER_MEM_GB, half_gib))}g"
    except (OSError, ValueError, IndexError):
        pass
    return f"{MAX_DRIVER_MEM_GB}g"


def get_spark(
    app_name: str = "spark-text-extract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(DEFAULT_MAX_BYTES_PER_BATCH))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory tuned for the extraction workload.

Key choices (SURVEY §4):
- Arrow enabled. Input batches to ``mapInPandas`` are bounded by Spark's
  ``maxBytesPerBatch`` (64 MiB) and ``maxRecordsPerBatch`` (1024), both
  constants here: 1024 rows amortize Arrow transfer + UDF dispatch overhead
  on ~kB documents (measured 30% faster than 256), and the byte cap, which
  Spark checks on each batch's real bytes, shrinks a batch of multi-MB
  documents down to one row if need be so it still fits worker memory.
- AQE on: coalesces post-shuffle partitions and splits skewed ones at runtime.
- ``spark.sql.shuffle.partitions`` sized to cores (local mode); on a real
  cluster this scales with executor count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pdfextractor-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES; extracted text
        # shuffles ~5x lz4-compressed, and the per-doc work downstream of a
        # dedup/window exchange (PII regexes, flag chains) is CPU-dense per
        # byte. With parallelismFirst the coalesce target is
        # max(total/parallelism, minPartitionSize); the 1 MiB default folds
        # a ~1 MB shuffle (thousands of documents) into ONE task. 64k keeps
        # small-corpus runs parallel and is a no-op at scale, where
        # total/parallelism dominates.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or (cores or 32)))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()

"""SparkSession factory tuned for the extraction workload, and the two
helpers every per-row Python stage runs on.

- ``salted(df, key)`` is the one partition rule for per-document work:
  ``repartition(2 x defaultParallelism, xxhash64(key))``, so the 50-100x
  document tail spreads uniformly instead of clumping in input order.
- ``map_rows(df, fn, schema)`` is the one Arrow batch loop: ``fn`` maps one
  input row to any number of output rows.

Key choices (SURVEY §4):
- Arrow enabled. Input batches to ``map_rows`` are bounded by Spark's
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
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


def salted(df: DataFrame, key: str, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` on ``xxhash64(key)`` into ``num_partitions``
    partitions, 2 x defaultParallelism by default: two tasks per core let a
    core that drew a heavy document pick up the next partition."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, F.xxhash64(key))


def map_rows(df: DataFrame, fn: Callable[..., Iterable[dict]],
             schema: StructType) -> DataFrame:
    """Run ``fn`` over every row of ``df`` in Arrow batches (``mapInPandas``).

    ``fn`` receives one row's values in ``df``'s column order and returns an
    iterable of output rows, each a dict keyed by ``schema``'s field names;
    a missing key is null and an extra key is ignored. A one-to-one stage
    returns a one-element list."""
    cols = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [out for vals in pdf.itertuples(index=False, name=None)
                    for out in fn(*vals)]
            if not rows:
                # a frame of empty lists is float64, which Arrow cannot
                # convert to array/struct columns; this one stays object
                yield pd.DataFrame(columns=cols)
                continue
            # column-wise construction: a dict of lists skips the per-row
            # key alignment that list-of-dicts construction pays
            yield pd.DataFrame({c: [r.get(c) for r in rows] for c in cols})

    return df.mapInPandas(batches, schema=schema)

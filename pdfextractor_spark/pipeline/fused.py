"""Fused extraction: pages -> silver in ONE Arrow-batched ``mapInPandas``.

When the bronze stage is not being checkpointed (pure-throughput runs, or
clusters where recomputation is cheaper than materialization), fusing the
text-extraction UDF and the structuring UDF into a single python runner
halves the Arrow serialization volume — the multi-KB raw text crosses the
JVM<->Python boundary once instead of three times — and runs one python
worker per task instead of two. The staged bronze -> silver path
(``bronze.extract_bronze`` + ``silver.extract_silver``) remains the
checkpoint/resume mode.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .schema import SILVER_SCHEMA

__all__ = ["FUSED_SCHEMA", "extract_fused"]

FUSED_SCHEMA = StructType(
    list(SILVER_SCHEMA.fields)
    + [
        StructField("parser", StringType()),
        StructField("n_chars", LongType()),
        StructField("text_match", BooleanType()),
    ]
)

_COLS = [f.name for f in FUSED_SCHEMA.fields]


def _fused_batches_factory(mode: str, bmp_filter: bool):
    def _fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .bronze import _extract_one
        from .silver import build_report_row

        for pdf in batches:
            rows = []
            for url, html, text, lang in zip(pdf["url"], pdf["html"], pdf["text"], pdf["lang"]):
                raw_text, parser, _n_pages, error, _enc = _extract_one(
                    html, text if isinstance(text, str) else None
                )
                row = build_report_row(url, lang, raw_text, mode=mode, bmp_filter=bmp_filter)
                if error is not None and row.get("error") is None:
                    row["error"] = error
                row["parser"] = parser
                row["n_chars"] = len(raw_text) if raw_text is not None else None
                row["text_match"] = (
                    (raw_text == text) if (isinstance(text, str) and raw_text is not None) else None
                )
                rows.append(row)
            # column-wise construction: pandas builds a DataFrame from a dict
            # of lists without the per-row key alignment that list-of-dicts
            # construction pays (measurable at Arrow-batch sizes)
            yield pd.DataFrame({c: [r.get(c) for r in rows] for c in _COLS})

    return _fused_batches


def extract_fused(pages_df: DataFrame, num_partitions: int | None = None,
                  mode: str = "exact", bmp_filter: bool = False) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) -> full silver rows, one UDF.

    Salted repartition on xxhash64(url) defuses large-document skew exactly
    as in the staged path."""
    spark = pages_df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    salted = pages_df.select("url", "html", "text", "lang").repartition(n, F.xxhash64("url"))
    return salted.mapInPandas(_fused_batches_factory(mode, bmp_filter), schema=FUSED_SCHEMA)

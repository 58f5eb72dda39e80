"""Fused extraction: pages -> silver in ONE Arrow-batched Python stage.

When the bronze stage is not being checkpointed (pure-throughput runs, or
clusters where recomputation is cheaper than materialization), fusing the
text-extraction UDF and the structuring UDF into a single python runner
halves the Arrow serialization volume — the multi-KB raw text crosses the
JVM<->Python boundary once instead of three times — and runs one python
worker per task instead of two. The staged bronze -> silver path
(``bronze.extract_bronze`` + ``silver.extract_silver``) remains the
checkpoint/resume mode. ``fused_row`` is the per-row function, shared with
the streaming path (``streaming.stream.stream_extract``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import map_rows, salted
from .bronze import _bronze_row
from .schema import SILVER_SCHEMA
from .silver import build_report_row

__all__ = ["FUSED_SCHEMA", "extract_fused", "fused_row"]

FUSED_SCHEMA = StructType(
    list(SILVER_SCHEMA.fields)
    + [
        StructField("parser", StringType()),
        StructField("n_chars", LongType()),
        StructField("text_match", BooleanType()),
    ]
)


def fused_row(url, html, text, lang, *, mode: str = "exact",
              bmp_filter: bool = False) -> dict:
    """One pages row -> its fused row: ``_bronze_row`` then
    ``build_report_row``. A bronze error is kept only when the report has
    none of its own."""
    b = _bronze_row(url, None, html, text, lang)
    row = build_report_row(url, lang, b["raw_text"], mode=mode, bmp_filter=bmp_filter)
    if b["error"] is not None and row["error"] is None:
        row["error"] = b["error"]
    row.update(parser=b["parser"], n_chars=b["n_chars"], text_match=b["text_match"])
    return row


def extract_fused(pages_df: DataFrame, num_partitions: int | None = None,
                  mode: str = "exact", bmp_filter: bool = False) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) -> full silver rows, one UDF.

    Salted repartition on xxhash64(url) defuses large-document skew exactly
    as in the staged path."""
    pages = salted(pages_df.select("url", "html", "text", "lang"), "url", num_partitions)
    return map_rows(pages, lambda *row: [fused_row(*row, mode=mode, bmp_filter=bmp_filter)],
                    FUSED_SCHEMA)

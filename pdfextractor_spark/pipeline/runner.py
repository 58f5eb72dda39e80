"""End-to-end medallion run with checkpoint/resume.

pages -> bronze (text extraction) -> silver (structuring) -> gold aggregates,
each stage committed as an Iceberg snapshot when the session has an Iceberg
catalog and as a parquet directory otherwise (see pipeline.tableio). Bronze
and silver are keyed stages of ``lineage.write_stage``, each with a
``_lineage`` table next to it: an interrupted run appends only the urls a
stage lacks (the J7 anti-join), and a silver built under another
``mode``/``bmp_filter`` is rebuilt, never appended to.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from .bronze import extract_bronze
from .gold import (
    bronze_content_audit_summary, cost_table_rows, gold_cost_summary,
    gold_coverage, gold_lang_rollup, gold_pattern_usage,
    reextract_candidates, silver_anomaly_summary,
)
from .lineage import config_fingerprint, write_stage
from .silver import extract_silver
from .tableio import write_checkpoint

__all__ = ["run_pipeline"]


def run_pipeline(spark: SparkSession, pages_df: DataFrame, out_dir: str,
                 mode: str = "exact", bmp_filter: bool = False,
                 resume: bool = True) -> dict:
    """Run pages->bronze->silver->gold. Returns timing + counts summary."""
    t0 = time.time()
    timings: dict[str, float] = {}

    bronze_stage = write_stage(pages_df, os.path.join(out_dir, "bronze"), "bronze",
                               extract_bronze, key="url", resume=resume)
    bronze = bronze_stage.df
    timings["bronze_sec"] = time.time() - t0

    t1 = time.time()
    silver = write_stage(
        bronze_stage, os.path.join(out_dir, "silver"), "silver",
        lambda df: extract_silver(df, mode=mode, bmp_filter=bmp_filter),
        config_fingerprint(mode=mode, bmp_filter=bmp_filter),
        key="url", resume=resume, bytes_col="report_json").df
    timings["silver_sec"] = time.time() - t1

    t2 = time.time()
    tables = cost_table_rows(silver)
    gold = {
        "lang_rollup": gold_lang_rollup(silver),
        "pattern_usage": gold_pattern_usage(tables),
        "cost_summary": gold_cost_summary(tables),
        "coverage": gold_coverage(silver),
        # data-quality diagnostics (SURVEY §2.10b): the re-do list for the
        # next resume pass and the corpus anomaly/quality rollups
        "reextract_candidates": reextract_candidates(bronze),
        "content_audit": bronze_content_audit_summary(bronze),
        "anomaly_summary": silver_anomaly_summary(silver),
    }
    for name, df in gold.items():
        write_checkpoint(df, os.path.join(out_dir, f"gold_{name}"), mode="overwrite")
    timings["gold_sec"] = time.time() - t2

    totals = bronze.selectExpr(
        "count(*) as n",
        "sum(case when error is not null then 1 else 0 end) as e",
        "sum(case when text_match then 1 else 0 end) as m",
        "sum(case when text_match is not null then 1 else 0 end) as t",
    ).first()
    timings["total_sec"] = time.time() - t0
    return {
        "docs": totals["n"],
        "errors": int(totals["e"] or 0),
        "byte_identical_matched": int(totals["m"] or 0),
        "byte_identical_total": int(totals["t"] or 0),
        **{k: round(v, 3) for k, v in timings.items()},
    }

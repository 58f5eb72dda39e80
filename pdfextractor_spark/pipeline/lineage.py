"""Checkpointed stages: per-partition lineage and the one resume rule.

The reference persists ``*.state.json`` with processed/remaining lists after
every chunk (backend/scripts/chunked_mdeq_extraction.js:107-166); here each
checkpointed stage carries a ``_lineage`` table (stage, partition id, doc
count, bytes, failures, config fingerprint, input row count) from which
:func:`write_stage` decides, whole stage or nothing, to keep, append or
rebuild:

* a stage is reused only while its recorded ``config_fp`` matches. It chains
  the upstream stage's fingerprint, so it covers upstream config too;
* a **keyed** stage (bronze, silver, cleaned) then appends the rows of the
  input keys it lacks: the J7 anti-join against the done keys;
* a **count-validated** stage (the corpus-global flagged and corpus) is kept
  whole; its fingerprint also covers its ``input_rows``, so a rebuild from a
  changed input reaches every later stage, even one whose row count it
  leaves as it was.

Both err only toward recomputation: a lineage without ``config_fp`` reads as
stale, and a rebuild drops the old lineage before it overwrites the data,
which is always written before the new lineage.
"""

from __future__ import annotations

import hashlib
from typing import Callable, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tableio

__all__ = ["Stage", "config_fingerprint", "stage_lineage", "resume_remaining",
           "write_stage"]

_LINEAGE_SCHEMA = ("stage string, partition_id int, doc_count long, bytes long, "
                   "failures long, config_fp string, input_rows long")


class Stage(NamedTuple):
    """A checkpointed stage as :func:`write_stage` left it."""
    df: DataFrame      # the stage, read back from its checkpoint
    rows: int
    action: str        # "kept", "appended" or "rebuilt"
    added: int         # rows this call wrote (all of them on a rebuild)
    config_fp: str     # chained over every upstream stage


def config_fingerprint(**params) -> str:
    """Deterministic fingerprint of a stage's semantics-affecting config.
    DataFrame/model values can't be fingerprinted cheaply — callers pass
    a presence marker (bool) for those, so SWAPPING e.g. the benchmark
    table without changing row counts is (documented) not detected, but
    ENABLING/disabling/retuning any stage is."""
    def _norm(v):
        if isinstance(v, dict):
            return {k: _norm(x) for k, x in sorted(v.items())}
        if isinstance(v, (list, tuple)):
            return [_norm(x) for x in v]
        if isinstance(v, (set, frozenset)):
            return sorted(map(repr, v))
        return v if isinstance(v, (int, float, str, bool, type(None))) \
            else f"<{type(v).__name__}>"

    return hashlib.sha1(repr(_norm(params)).encode()).hexdigest()[:16]


def stage_lineage(df: DataFrame, stage: str, error_col: str = "error",
                  bytes_col: str = "raw_text") -> DataFrame:
    """Per-partition rollup: (stage, partition_id, doc_count, bytes, failures)."""
    base = df.withColumn("partition_id", F.spark_partition_id())
    byts = (F.sum(F.length(F.col(bytes_col))) if bytes_col in df.columns else F.lit(0)).alias("bytes")
    fails = (F.sum(F.when(F.col(error_col).isNotNull(), 1).otherwise(0))
             if error_col in df.columns else F.lit(0)).alias("failures")
    return (
        base.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            byts,
            fails,
        )
        .select(F.lit(stage).alias("stage"), "partition_id", "doc_count",
                F.coalesce(F.col("bytes"), F.lit(0)).alias("bytes"), "failures")
    )


def resume_remaining(input_df: DataFrame, done_df: DataFrame, key: str = "url") -> DataFrame:
    """J7: input rows not yet present in the completed stage output.

    The done-side is pruned to the join key before the anti-join so only the
    key column is shuffled/broadcast; AQE picks broadcast vs sort-merge at
    runtime from actual size."""
    done_keys = done_df.select(key).distinct()
    return input_df.join(done_keys, on=key, how="left_anti")


def write_stage(x: DataFrame | Stage, path: str, stage: str,
                build: Callable[[DataFrame], DataFrame], config_fp: str = "", *,
                key: str | None = None, resume: bool = True,
                error_col: str = "error", bytes_col: str = "raw_text") -> Stage:
    """Keep, append to or rebuild the checkpointed stage at ``path``.

    ``x`` is the input: a source DataFrame, or the upstream :class:`Stage`
    (its fingerprint, and for a count-validated stage its row count, chain
    into this one's). ``build`` maps input rows to stage rows. With ``key``
    the stage is keyed, without it count-validated, which needs an upstream
    :class:`Stage`; ``resume=False`` always rebuilds. Storage is
    format-dispatched (``pipeline.tableio``): Iceberg snapshot commits when a
    catalog is configured, parquet otherwise.
    """
    src, upstream_fp = (x.df, x.config_fp) if isinstance(x, Stage) else (x, "")
    # a keyed stage is validated by its keys, a count-validated one by counts
    input_rows = None if key is not None else x.rows
    spark = src.sparkSession
    fp = config_fingerprint(upstream=upstream_fp, config=config_fp, input_rows=input_rows)
    ref = tableio.checkpoint_ref(spark, path)
    lin_path = path.rstrip("/") + "_lineage"
    lin_ref = tableio.checkpoint_ref(spark, lin_path)

    rec = None
    if resume and tableio.checkpoint_exists(spark, ref) \
            and tableio.checkpoint_exists(spark, lin_ref):
        lin = tableio.read_checkpoint(spark, lin_ref)
        if "config_fp" in lin.columns:
            rec = lin.agg(F.max("config_fp").alias("fp"),
                          F.sum("doc_count").alias("rows")).first()
    if rec is not None and rec["fp"] == fp:
        before = int(rec["rows"])
        if key is None:
            return Stage(tableio.read_checkpoint(spark, ref), before, "kept", 0, fp)
        todo = resume_remaining(src, tableio.read_checkpoint(spark, ref), key=key)
        tableio.write_checkpoint(build(todo), path, mode="append")
    else:
        before = None
        tableio.drop_checkpoint(spark, lin_ref)
        tableio.write_checkpoint(build(src), path, mode="overwrite")

    written = tableio.read_checkpoint(spark, ref)
    parts = stage_lineage(written, stage, error_col=error_col, bytes_col=bytes_col).collect()
    rows = sum(p["doc_count"] for p in parts)
    if rows == before:
        return Stage(written, rows, "kept", 0, fp)
    # an empty stage still records one row, so its fingerprint persists.
    # From pandas the rows travel as Arrow; from a list they would start a
    # Python-worker job, about 1 s per stage
    lineage = pd.DataFrame([(*p, fp, input_rows) for p in parts]
                           or [(stage, None, 0, 0, 0, fp, input_rows)])
    tableio.write_checkpoint(spark.createDataFrame(lineage, _LINEAGE_SCHEMA).coalesce(1),
                             lin_path, mode="overwrite")
    if before is None:
        return Stage(written, rows, "rebuilt", rows, fp)
    return Stage(written, rows, "appended", rows - before, fp)

"""Checkpointed stages: one lineage row per commit and the one resume rule.

The reference persists ``*.state.json`` with processed/remaining lists after
every chunk (backend/scripts/chunked_mdeq_extraction.js:107-166); here each
checkpointed stage carries a ``_lineage`` table with one row per commit
(stage, action, doc count, bytes, failures, config fingerprint, input row
count), counted by the write job itself: a ``rebuilt`` row, then an
``appended`` row per keyed resume that adds rows. From it
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

Both err only toward recomputation: a lineage without ``action`` (an older
layout) reads as stale, and a rebuild drops the old lineage before it
overwrites the data, which is always written before the new lineage row.
"""

from __future__ import annotations

import hashlib
from typing import Callable, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import tableio

__all__ = ["Stage", "config_fingerprint", "resume_remaining", "write_stage"]

_LINEAGE_SCHEMA = ("stage string, action string, doc_count long, bytes long, "
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


def resume_remaining(input_df: DataFrame, done_df: DataFrame, key: str = "url") -> DataFrame:
    """J7: input rows not yet present in the completed stage output.

    The done-side is pruned to the join key before the anti-join so only the
    key column is shuffled/broadcast; AQE picks broadcast vs sort-merge at
    runtime from actual size."""
    done_keys = done_df.select(key).distinct()
    return input_df.join(done_keys, on=key, how="left_anti")


def _write_counted(df: DataFrame, path: str, mode: str, error_col: str,
                   bytes_col: str) -> dict:
    """Write ``df`` as the checkpoint at ``path``; return the rows, bytes and
    failures the write job itself counted. The observation is the frame's
    last operator, so it runs in the write's result stage, where Spark
    applies each task's update once: a retried task cannot count twice."""
    obs = Observation()
    byts = (F.coalesce(F.sum(F.length(bytes_col)), F.lit(0))
            if bytes_col in df.columns else F.lit(0))
    fails = F.count(error_col) if error_col in df.columns else F.lit(0)
    tableio.write_checkpoint(
        df.observe(obs, F.count(F.lit(1)).alias("rows"), byts.alias("bytes"),
                   fails.alias("failures")),
        path, mode=mode)
    return obs.get


def write_stage(x: DataFrame | Stage, path: str, stage: str,
                build: Callable[[DataFrame], DataFrame], config_fp: str = "", *,
                key: str | None = None, resume: bool = True,
                error_col: str = "error", bytes_col: str = "raw_text") -> Stage:
    """Keep, append to or rebuild the checkpointed stage at ``path``.

    ``x`` is the input: a source DataFrame, or the upstream :class:`Stage`
    (its fingerprint, and for a count-validated stage its row count, chain
    into this one's). ``build`` maps input rows to stage rows. With ``key``
    the stage is keyed, without it count-validated, which needs an upstream
    :class:`Stage`; ``resume=False`` always rebuilds. ``pipeline.tableio``
    places ``path``: an Iceberg table when the session has an Iceberg
    catalog, a parquet directory otherwise.
    """
    src, upstream_fp = (x.df, x.config_fp) if isinstance(x, Stage) else (x, "")
    # a keyed stage is validated by its keys, a count-validated one by counts
    input_rows = None if key is not None else x.rows
    spark = src.sparkSession
    fp = config_fingerprint(upstream=upstream_fp, config=config_fp, input_rows=input_rows)
    lin_path = path.rstrip("/") + "_lineage"

    rec = None
    if resume and tableio.checkpoint_exists(spark, path) \
            and tableio.checkpoint_exists(spark, lin_path):
        lin = tableio.read_checkpoint(spark, lin_path)
        if "action" in lin.columns:
            rec = lin.agg(F.max("config_fp").alias("fp"),
                          F.sum("doc_count").alias("rows")).first()
    if rec is not None and rec["fp"] == fp:
        before = int(rec["rows"])
        if key is None:
            return Stage(tableio.read_checkpoint(spark, path), before, "kept", 0, fp)
        todo = resume_remaining(src, tableio.read_checkpoint(spark, path), key=key)
        counts = _write_counted(build(todo), path, "append", error_col, bytes_col)
        written = tableio.read_checkpoint(spark, path)
        # the total comes from the checkpoint (a metadata count), not from
        # lineage + delta: rows a crashed run appended without its lineage
        # row are skipped by the anti-join, so only this counts them
        added = written.count() - before
        if added == 0:
            return Stage(written, before, "kept", 0, fp)
        action, mode = "appended", "append"
    else:
        tableio.drop_checkpoint(spark, lin_path)
        counts = _write_counted(build(src), path, "overwrite", error_col, bytes_col)
        written, before, added, action, mode = None, 0, counts["rows"], "rebuilt", "overwrite"

    # From pandas the row travels as Arrow; from a list it would start a
    # Python-worker job, about 1 s per stage
    row = pd.DataFrame([(stage, action, added, counts["bytes"], counts["failures"],
                         fp, input_rows)])
    tableio.write_checkpoint(spark.createDataFrame(row, _LINEAGE_SCHEMA).coalesce(1),
                             lin_path, mode=mode)
    # a rebuild reads its data back only now: a parquet read runs a schema
    # job, and none runs between the data write and the row vouching for it
    if written is None:
        written = tableio.read_checkpoint(spark, path)
    return Stage(written, before + added, action, added, fp)

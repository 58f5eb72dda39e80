"""Checkpointed, resumable execution of the corpus-preparation pipeline.

``pipeline.webclean`` declares the 14-stage cleaning plan as one lazy
DataFrame — the right shape for a single pass, but a 100 TB preparation
run checkpoints at stage boundaries so a failure (or a re-crawl delta)
resumes instead of recomputing days of work. This is the corpus-prep
analogue of ``pipeline.runner``: one ``lineage.write_stage`` call per
natural phase of the pipeline:

1. ``cleaned`` — the PER-DOCUMENT prefix (url dedup, robots gate,
   extraction, C4, Gopher repetition), keyed by url: a resumed or
   incremental run appends only the urls absent from the checkpoint.
2. ``flagged`` — the CORPUS-GLOBAL cleaning stages (line dedup, quality
   stats, exact content dedup, decontamination, PII, NB gate) ending in
   the ``keep`` flag; all-or-nothing, count-validated against ``cleaned``.
3. ``corpus`` — SELECTION/ASSEMBLY (keep filter, per-host cap, DSIR
   resample, shard packing), count-validated against ``flagged``. The
   one-row ``prep_report`` accounting lands next to it as
   ``gold_prep_report``.

One validity rule, stored in each phase's ``_lineage`` table: a phase is
reused only while its chained ``config_fp`` matches — it covers every
upstream phase's config, so e.g. a new ``unicode_form`` rebuilds all
three — and, for the two global phases, its ``input_rows`` too. The
fingerprint is taken over the very arguments the phase is built with;
DataFrame and model values enter it as type markers, so swapping e.g. the
robots table for another is not detected. Both checks err only toward
recomputation, never toward a stale serve.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from .lineage import config_fingerprint, write_stage
from .tableio import read_checkpoint, write_checkpoint
from .webclean import _flag_stages, _perdoc_stages, _select_stages, prep_report

__all__ = ["run_corpus_prep"]


def run_corpus_prep(
    spark: SparkSession, pages: DataFrame, out_dir: str, *,
    resume: bool = True,
    extract: bool | None = None,
    extract_mode: str = "default",
    unicode_form: str | None = None,
    url_col: str = "url", ts_col: str = "warc_ts", text_col: str = "text",
    robots: tuple | None = None,
    benchmark: DataFrame | None = None,
    badwords: list[str] | None = None,
    url_quality: dict | None = None,
    host_boilerplate: dict | None = None,
    dup_line_min_count: int | None = 2,
    dedup_span_width: int | None = None,
    quality_floor: float | None = None,
    compression_band: tuple[float, float] | None = None,
    max_docs_per_host: int | None = None,
    redact: bool = True,
    bpe_merges: list | None = None,
    nb_filter: dict | None = None,
    langid: dict | None = None,
    semdedup: dict | None = None,
    dsir: dict | None = None,
    shard_budget: int | None = None,
) -> dict:
    """Run the corpus-prep pipeline with stage checkpoints. Parameters
    mirror ``prepare_training_corpus`` (always the production
    ``filter_rows=True`` semantics: the robots gate removes rows before
    extraction, selection stages run). Returns a summary dict with per-
    stage timings, row counts, resume bookkeeping, and the prep_report
    accounting row."""
    summary: dict = {}
    t0 = time.time()

    # --- phase 1: per-document prefix, url-resumable ----------------------
    perdoc_cfg = dict(extract=extract, extract_mode=extract_mode,
                      unicode_form=unicode_form, robots=robots,
                      badwords=badwords, url_quality=url_quality)
    cleaned = write_stage(
        pages, os.path.join(out_dir, "cleaned"), "cleaned",
        lambda df: _perdoc_stages(df, url_col=url_col, ts_col=ts_col,
                                  text_col=text_col, filter_rows=True,
                                  **perdoc_cfg),
        config_fingerprint(**perdoc_cfg),
        key=url_col, resume=resume, bytes_col=text_col)
    summary["cleaned_appended"] = -1 if cleaned.action == "rebuilt" else cleaned.added
    summary["cleaned_rows"] = cleaned.rows
    summary["cleaned_sec"] = round(time.time() - t0, 3)

    # --- phase 2: corpus-global flags, count-validated --------------------
    t1 = time.time()
    flag_cfg = dict(
        benchmark=benchmark, host_boilerplate=host_boilerplate,
        dup_line_min_count=dup_line_min_count,
        dedup_span_width=dedup_span_width, quality_floor=quality_floor,
        compression_band=compression_band, redact=redact,
        bpe_merges=bpe_merges, nb_filter=nb_filter, langid_cfg=langid,
        semdedup_cfg=semdedup,
        want_wcid=nb_filter is not None or dsir is not None or langid is not None)
    flagged = write_stage(
        cleaned, os.path.join(out_dir, "flagged"), "flagged",
        lambda df: _flag_stages(df, url_col=url_col, text_col=text_col,
                                robots_flagged=False, **flag_cfg),
        config_fingerprint(**flag_cfg), resume=resume, bytes_col=text_col)
    summary["flagged_recomputed"] = flagged.action == "rebuilt"
    summary["flagged_rows"] = flagged.rows
    summary["flagged_sec"] = round(time.time() - t1, 3)

    # --- phase 3: selection/assembly + accounting, count-validated --------
    t2 = time.time()
    select_cfg = dict(max_docs_per_host=max_docs_per_host,
                      bpe_merges=bpe_merges, dsir=dsir,
                      shard_budget=shard_budget)
    corpus = write_stage(
        flagged, os.path.join(out_dir, "corpus"), "corpus",
        lambda df: _select_stages(df, url_col=url_col, text_col=text_col,
                                  **select_cfg),
        config_fingerprint(**select_cfg), resume=resume, bytes_col=text_col)
    report_path = os.path.join(out_dir, "gold_prep_report")
    if corpus.action == "rebuilt":
        write_checkpoint(prep_report(flagged.df, text_col=text_col),
                         report_path, mode="overwrite")
    summary["corpus_recomputed"] = corpus.action == "rebuilt"
    summary["corpus_rows"] = corpus.rows
    summary["corpus_sec"] = round(time.time() - t2, 3)
    report = read_checkpoint(spark, report_path).collect()[0].asDict()
    summary["prep_report"] = {k: (int(v) if v is not None else 0)
                              for k, v in report.items()}
    summary["total_sec"] = round(time.time() - t0, 3)
    return summary

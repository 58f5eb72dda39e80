"""Gold layer: corpus-level aggregates as pure native DataFrame plans
(whole-stage codegen; no Python in the hot path).

A4 cross-report cost summary (ref: backend/routes/reportSummary.js:21-108),
A5 per-report rollup (backend/routes/list.js:38-73),
A6 coverage audit (backend/scripts/audit_mdeq_cost_coverage.js),
W3 cross-corpus BMP dedupe (backend/scripts/dedupe_bmps.js).

A4 and A5 are computed here and nowhere else: ``run_pipeline`` and the
driver queries both pass ``cost_table_rows(silver)`` (or that frame
written to parquet) to the three cost rollups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cost_table_rows",
    "gold_pattern_usage",
    "gold_cost_summary",
    "gold_report_costs",
    "gold_coverage",
    "reextract_candidates",
    "discover_missing_cost_clusters",
    "uncaptured_cost_lines",
    "encoding_mix",
    "bronze_content_audit",
    "bronze_content_audit_summary",
    "silver_anomaly_audit",
    "silver_anomaly_summary",
    "gold_bmp_dedupe",
    "gold_lang_rollup",
]


def cost_table_rows(silver: DataFrame) -> DataFrame:
    """One row per silver cost table: ``(url, table_id, pattern_id, conf,
    r, c)``, the flat frame every A4/A5 rollup reads. ``explode_outer``
    keeps a report with no tables as one all-null row, so the per-report
    rollup still sees it (zero tables, zero totals)."""
    return (
        silver.select("url", F.explode_outer("cost_tables").alias("t"))
        .select(
            "url",
            F.col("t.id").alias("table_id"),
            F.col("t.pattern_id").alias("pattern_id"),
            F.col("t.pattern_confidence").alias("conf"),
            F.col("t.total_reported").alias("r"),
            F.col("t.total_computed").alias("c"),
        )
    )


def _weighted() -> Column:
    """A table's confidence-weighted computed total: ``c * min(conf, 1)``
    when both are positive, else 0."""
    c, conf = F.col("c"), F.col("conf")
    return F.when((c > 0) & (conf > 0), c * F.least(conf, F.lit(1.0))).otherwise(0.0)


def gold_pattern_usage(rows: DataFrame) -> DataFrame:
    """Per-patternId rollup over ``cost_table_rows``: count, totals,
    confidence-weighted computed, within-1%/5% discrepancy buckets, avg
    discrepancy (null when no table has both totals). Tables without a
    pattern id are left out. Sorted by totalComputed desc
    (reportSummary.js:84-97)."""
    t = rows.where(F.col("pattern_id").isNotNull())
    r_pos = F.col("r").isNotNull() & (F.col("r") > 0)
    c_pos = F.col("c").isNotNull() & (F.col("c") > 0)
    both = r_pos & c_pos
    # try_divide: common-subexpression elimination evaluates ``rel`` ahead
    # of the ``both`` guard, and an ANSI divide by c = 0 would fail the job
    rel = F.try_divide(F.abs(F.col("r") - F.col("c")), F.col("c"))
    return (
        t.groupBy("pattern_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(r_pos, F.col("r")).otherwise(0.0)).alias("total_reported"),
            F.sum(F.when(c_pos, F.col("c")).otherwise(0.0)).alias("total_computed"),
            F.sum(_weighted()).alias("weighted_computed"),
            F.sum(F.when(r_pos, 1).otherwise(0)).alias("with_reported_totals"),
            F.sum(F.when(both, 1).otherwise(0)).alias("total_with_both"),
            F.sum(F.when(both & (rel <= 0.01), 1).otherwise(0)).alias("within_1pct"),
            F.sum(F.when(both & (rel <= 0.05), 1).otherwise(0)).alias("within_5pct"),
            F.sum(F.when(both, F.col("r") - F.col("c")).otherwise(0.0)).alias("sum_discrepancy"),
        )
        .withColumn("pct_within_1pct",
                    F.when(F.col("total_with_both") > 0, F.col("within_1pct") / F.col("total_with_both")).otherwise(F.lit(0.0)))
        .withColumn("pct_within_5pct",
                    F.when(F.col("total_with_both") > 0, F.col("within_5pct") / F.col("total_with_both")).otherwise(F.lit(0.0)))
        .withColumn("avg_discrepancy",
                    F.when(F.col("total_with_both") > 0, F.col("sum_discrepancy") / F.col("total_with_both")))
        .orderBy(F.col("total_computed").desc())
    )


def gold_report_costs(rows: DataFrame) -> DataFrame:
    """Per-report cost rollup (A5) over ``cost_table_rows``: the report's
    table count (every table, with or without a pattern id; the
    reference counts the table list), Σreported/Σcomputed over positive
    table totals, tables with any positive total, discrepancy, and the
    confidence-weighted Σcomputed the A4 summary adds up."""
    return (
        rows.groupBy("url")
        .agg(
            F.count("table_id").alias("tables"),
            F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0.0)).alias("total_reported"),
            F.sum(F.when(F.col("c") > 0, F.col("c")).otherwise(0.0)).alias("total_computed"),
            F.sum(F.when((F.col("r") > 0) | (F.col("c") > 0), 1).otherwise(0)).alias("tables_with_costs"),
            F.sum(_weighted()).alias("total_computed_weighted"),
        )
        .withColumn("discrepancy", F.col("total_reported") - F.col("total_computed"))
    )


def gold_cost_summary(rows: DataFrame) -> DataFrame:
    """Corpus totals (A4 headline numbers) over ``cost_table_rows``, one
    aggregation of the per-report rollup: reportCount (distinct urls),
    reportsWithCosts, Σreported, Σcomputed, confidence-weighted Σ."""
    return gold_report_costs(rows).agg(
        F.count(F.lit(1)).alias("report_count"),
        F.sum(F.when((F.col("total_reported") > 0) | (F.col("total_computed") > 0), 1).otherwise(0)).alias("reports_with_costs"),
        F.sum("total_reported").alias("total_reported"),
        F.sum("total_computed").alias("total_computed"),
        F.sum("total_computed_weighted").alias("total_computed_weighted"),
    )


def gold_coverage(silver: DataFrame) -> DataFrame:
    """Coverage audit (A6): totalReports, withCost, coveragePct, adaptive
    usage, error counts."""
    has_cost = F.size(F.col("cost_tables")) > 0
    has_adaptive = F.exists("cost_tables", lambda t: t["pattern_id"] == F.lit("adaptive_generic_costs"))
    # some silver projections drop n_chars; the truncation counter then
    # reports 0 rather than failing the whole audit
    n_chars = (F.col("n_chars") if "n_chars" in silver.columns
               else F.lit(None).cast("long"))
    return silver.agg(
        F.count(F.lit(1)).alias("total_reports"),
        F.sum(F.when(has_cost, 1).otherwise(0)).alias("with_cost"),
        F.round(F.avg(F.when(has_cost, 1.0).otherwise(0.0)), 6).alias("coverage_pct"),
        F.sum(F.when(has_adaptive, 1).otherwise(0)).alias("with_adaptive"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        # image-only PDFs: parsed but no text layer (reference's needs-OCR
        # bucket, mdeq_coverage_summary.json 6/51)
        F.sum(F.when(F.col("error") == "empty-text", 1).otherwise(0)).alias("needs_ocr"),
        # exactly-18000-char texts are the reference's truncation marker
        # (ref: backend/scripts/detect_reextract_candidates.js:4,24 and the
        # suspectedTrunc counter in audit_mdeq_cost_coverage.js)
        F.sum(F.when(n_chars == 18000, 1).otherwise(0)).alias("suspected_trunc"),
    )


def reextract_candidates(bronze: DataFrame) -> DataFrame:
    """Bronze rows likely truncated and worth re-extracting (ref:
    backend/scripts/detect_reextract_candidates.js:20-30): text length
    exactly 18000 (the reference pipeline's historical truncation size)
    or a tiny fragment under 600 chars on a part-numbered id (the
    reference matched ``-N.json`` filenames; here the url's trailing
    ``-N``). Feeds the J7 resume anti-join as the re-do list — native
    filter, no shuffle."""
    tiny = (F.col("url").rlike(r"-\d+$")
            & (F.col("n_chars") > 0) & (F.col("n_chars") < 600))
    return (bronze
            .where((F.col("n_chars") == 18000) | tiny)
            .select("url", "n_chars",
                    F.when(F.col("n_chars") == 18000,
                           F.lit("exact_18000_truncation"))
                    .otherwise(F.lit("tiny_fragment")).alias("reason")))


def discover_missing_cost_clusters(silver: DataFrame, bronze: DataFrame,
                                   num_partitions: int | None = None) -> DataFrame:
    """Dollar-cluster diagnostic over reports with NO parsed cost tables
    (ref: backend/scripts/discover_missing_cost_clusters.js) — the miner
    that surfaced the §2.10 pattern backlog. Left-semi join prunes
    bronze to the missing set BEFORE any text moves (only urls shuffle);
    the sequential per-doc scan runs as an Arrow-batched mapInPandas.
    Returns one row per cluster; rank the output by header_signature
    frequency to find the next pattern to implement."""
    import pandas as pd
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    from ..extraction.clusters import find_cost_clusters
    from ..extraction.textutil import split_newlines

    schema = StructType([
        StructField("url", StringType()),
        StructField("start_line", IntegerType()),
        StructField("end_line", IntegerType()),
        StructField("money_line_count", IntegerType()),
        StructField("header_signature", StringType()),
        StructField("sample", ArrayType(StringType())),
    ])
    missing = silver.where(F.size("cost_tables") == 0).select("url")
    docs = (bronze.join(missing, "url", "left_semi")
            .select("url", "raw_text")
            .where(F.col("raw_text").isNotNull()))

    def scan(batches):
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["raw_text"]):
                for c in find_cost_clusters(split_newlines(text or "")):
                    rows.append({"url": url, **{k: c[k] for k in (
                        "start_line", "end_line", "money_line_count",
                        "header_signature", "sample")}})
            yield pd.DataFrame(rows, columns=cols)

    spark = bronze.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    return docs.repartition(n, F.xxhash64("url")).mapInPandas(scan, schema=schema)


_COST_HEADER_RE = (r"(?i)(Activity\s+Size/Amount\s+Estimated\s+Cost)"
                   r"|(BMPs?\s+Amount\s+Estimated\s+Cost)|(Cost Estimate:)")
_COST_LINE_RE = (r"(\$\s?\d{1,3}(,\d{3})*(\.\d{2})?)"
                 r"|(\d{1,3}(,\d{3})*\s?@\s?\$\d)")
_BMP_HINT_RE = (r"(?i)(streambank|stabilization|fencing|ponds?"
                r"|grade stabilization|heavy use area|tank|trough"
                r"|cover crops?|riparian|buffer|nutrient management)")
_ACTIVITY_HINT_RE = (r"(?i)(education|outreach|monitoring"
                     r"|technical assistance|project management"
                     r"|implementation|coordination)")


def encoding_mix(bronze: DataFrame) -> DataFrame:
    """Charset mix of the HTML slice of a bronze table: per sniffed
    encoding (sources/encoding.py provenance column), doc count and share
    of html rows, largest first. One partial-agg shuffle; the crawl-ops
    dashboard number that says whether the corpus is drifting away from
    UTF-8 (and how much text a utf-8-only decode would have mangled)."""
    html = bronze.where(F.col("parser") == "html")
    counts = html.groupBy(
        F.coalesce(F.col("encoding"), F.lit("unknown")).alias("encoding"),
    ).agg(F.count(F.lit(1)).alias("docs"))
    # share via a broadcast 1-row total (NOT a global window: the counts
    # frame is bounded by the WHATWG label space, but the plan shape
    # should still never say "move everything to one partition")
    total = counts.agg(F.sum("docs").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("share", F.round(F.col("docs") / F.col("_total"), 6))
            .drop("_total")
            .orderBy(F.col("docs").desc(), "encoding"))


def bronze_content_audit(bronze: DataFrame) -> DataFrame:
    """Per-document content-signal audit of bronze text (ref: backend/
    scripts/analyze_bronze_bmps_costs.js:21-52 analyzeText): cost-header
    presence, counts of cost/BMP-hint/activity-hint lines, and the
    abrupt-ending truncation heuristic over the last three non-empty
    lines (short tail next to a Figure reference, or no terminal
    punctuation ending in a >=12-char word). Entirely native: the line
    scan is higher-order filter/exists over split lines — map-only, no
    explode shuffle, no UDF. (The reference's multipart-variance pass
    doesn't apply: rows carry whole documents, SURVEY S5.)"""
    lines = F.split(F.coalesce(F.col("raw_text"), F.lit("")), r"\r?\n")
    trimmed_hits = lambda pat: F.size(F.filter(  # noqa: E731
        lines, lambda l: F.trim(l).rlike(pat)))
    non_empty = F.filter(lines, lambda l: F.length(F.trim(l)) > 0)
    tail3 = F.slice(non_empty, -3, 3)
    last = F.element_at(non_empty, -1)
    has_tail = F.size(non_empty) > 0
    trunc = F.when(~has_tail, F.lit(False)).otherwise(
        ((F.length(last) < 15)
         & F.exists(tail3, lambda t: t.contains("Figure")))
        | (~F.trim(last).rlike(r"[.!?]$") & F.trim(last).rlike(r"\w{12,}$")))
    return bronze.select(
        "url",
        F.exists(lines, lambda l: F.trim(l).rlike(_COST_HEADER_RE)).alias("cost_header"),
        trimmed_hits(_COST_LINE_RE).alias("cost_lines"),
        trimmed_hits(_ACTIVITY_HINT_RE).alias("activity_lines"),
        trimmed_hits(_BMP_HINT_RE).alias("bmp_lines"),
        trunc.alias("suspected_trunc"),
        F.length(F.coalesce(F.col("raw_text"), F.lit(""))).alias("length"),
    )


def bronze_content_audit_summary(bronze: DataFrame) -> DataFrame:
    """Corpus rollup of the bronze content audit (globalStats in the
    reference script)."""
    a = bronze_content_audit(bronze)
    return a.agg(
        F.count(F.lit(1)).alias("total_files"),
        F.sum(F.col("cost_header").cast("int")).alias("with_cost_header"),
        F.sum((F.col("cost_lines") > 0).cast("int")).alias("with_cost_lines"),
        F.sum((F.col("activity_lines") > 0).cast("int")).alias("with_activities"),
        F.sum(F.col("suspected_trunc").cast("int")).alias("suspected_truncation"),
    )


def uncaptured_cost_lines(silver: DataFrame, bronze: DataFrame) -> DataFrame:
    """Lines that look like cost-table content but are NOT represented by
    any detected pattern (ref: backend/scripts/audit_cost_patterns.js:
    18-42): a trimmed line with a cost cue AND a money amount is flagged
    unless some detected table's title contains the line's first 30
    chars (lowercased). Native end to end — the per-line scan is an
    indexed transform+filter over split lines; the only shuffle is the
    url join against the silver titles."""
    cue = r"(?i)(cost|unit cost|total cost|estimated cost|match|budget)"
    money = r"\$[0-9][0-9,]{2,}(\.[0-9]{2})?"
    titles = silver.select(
        "url",
        F.transform("cost_tables",
                    lambda t: F.lower(F.coalesce(t["title"], F.lit("")))).alias("titles"))
    docs = (bronze.select("url", "raw_text")
            .where(F.col("raw_text").isNotNull())
            .join(titles, "url", "left")
            .withColumn("titles", F.coalesce(
                F.col("titles"), F.array().cast("array<string>"))))
    entries = F.transform(
        F.split("raw_text", r"\r?\n"),
        lambda l, i: F.struct((i + 1).alias("line"), F.trim(l).alias("text")))
    flagged = F.filter(entries, lambda s: (
        (s["text"] != "") & s["text"].rlike(cue) & s["text"].rlike(money)
        & ~F.exists("titles", lambda t: t.contains(
            F.lower(F.substring(s["text"], 1, 30))))))
    return (docs.select("url", F.explode(flagged).alias("f"))
            .select("url", F.col("f.line").alias("line"),
                    F.substring("f.text", 1, 160).alias("text")))


def silver_anomaly_audit(silver: DataFrame) -> DataFrame:
    """Per-report anomaly audit (ref: backend/scripts/
    audit_silver_coverage.js:12-37 analyzeReport): zero-goal/zero-BMP
    flags, suspicious slug heuristics (double underscore, under 3
    -/_ tokens, the corpus's two known typos), and up to 3 sample
    too-short goal titles (<3 words) / BMP names (<2 words). Entirely
    native higher-order functions — no UDF, map-only."""
    slug = F.regexp_replace(F.regexp_replace(F.lower(
        F.element_at(F.split(F.col("url"), "/"), -1)),
        r"[^a-z0-9_-]+", "-"), r"-{2,}", "-")
    reasons = F.array_compact(F.array(
        F.when(slug.contains("__"), F.lit("double_underscore")),
        F.when(F.size(F.split(slug, "[-_]")) < 3, F.lit("too_short_tokens")),
        F.when(slug.contains("elelment"), F.lit("typo:element")),
        F.when(slug.contains("watersehd"), F.lit("typo:watershed")),
    ))
    bad_goals = F.slice(F.filter(
        F.transform("goals", lambda g: g["title"]),
        lambda t: t.isNotNull() & (F.size(F.split(F.trim(t), r"\s+")) < 3)), 1, 3)
    bad_bmps = F.slice(F.filter(
        F.transform("bmps", lambda b: b["name"]),
        lambda n: n.isNotNull() & (F.size(F.split(F.trim(n), r"\s+")) < 2)), 1, 3)
    return silver.select(
        F.col("url"), slug.alias("id"),
        F.size("goals").alias("goals"), F.size("bmps").alias("bmps"),
        (F.size("goals") == 0).alias("zero_goals"),
        (F.size("bmps") == 0).alias("zero_bmps"),
        F.when(F.size(reasons) > 0, reasons).alias("suspicious_title"),
        F.when(F.size(bad_goals) > 0, bad_goals).alias("bad_goal_samples"),
        F.when(F.size(bad_bmps) > 0, bad_bmps).alias("bad_bmp_samples"),
    )


def silver_anomaly_summary(silver: DataFrame) -> DataFrame:
    """Corpus rollup of the anomaly audit (audit_silver_coverage.js
    main(): totals, 1-decimal averages, zero-coverage counts)."""
    a = silver_anomaly_audit(silver)
    return a.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("goals").alias("total_goals"),
        F.sum("bmps").alias("total_bmps"),
        F.round(F.avg("goals"), 1).alias("avg_goals"),
        F.round(F.avg("bmps"), 1).alias("avg_bmps"),
        F.sum(F.col("zero_goals").cast("int")).alias("zero_goal"),
        F.sum(F.col("zero_bmps").cast("int")).alias("zero_bmp"),
        F.sum(F.when(F.col("suspicious_title").isNotNull(), 1).otherwise(0)).alias("suspicious_titles"),
    )


def gold_bmp_dedupe(b: DataFrame) -> DataFrame:
    """Cross-corpus BMP dedupe by canonical name keeping max confidence (W3),
    over the flat ``(name, category, confidence)`` rows of silver's exploded
    ``bmps``. Canonicalization is expressed natively: lowercase, collapse
    whitespace, strip trailing punctuation, (feet)->(ft), naive
    de-pluralization."""
    canon0 = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.trim(F.lower(F.col("name"))), r"\s+", " "), r"[,:;]+$", ""), r"\((feet|ft)\)", "(ft)")
    b = b.withColumn("canon0", canon0)
    singular = F.expr("substring(canon0, 1, length(canon0) - 1)")
    canon = F.when(
        F.col("canon0").rlike(r"^[a-z0-9 \-()\/]{4,}$")
        & F.col("canon0").endswith("s")
        & (F.length("canon0") > 4)
        & (F.length("canon0") - 1 > 3),
        singular,
    ).otherwise(F.col("canon0"))
    w = Window.partitionBy("canon").orderBy(F.col("confidence").desc_nulls_last(), F.col("name"))
    return (
        b.withColumn("canon", canon)
        .drop("canon0")
        .where(F.col("canon") != "")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def gold_lang_rollup(silver: DataFrame) -> DataFrame:
    """Per-language entity yield (the flagship smoke aggregate)."""
    return (
        silver.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("total_goals").alias("goals"),
            F.sum("total_bmps").alias("bmps"),
            F.sum("total_activities").alias("activities"),
            F.sum(F.when(F.size("cost_tables") > 0, 1).otherwise(0)).alias("docs_with_cost_tables"),
            F.round(F.avg("avg_goal_confidence"), 6).alias("avg_goal_confidence"),
        )
        .orderBy("lang")
    )

"""Explicit StructType schemas for every stage (SURVEY §1.3: columnar tables
with fixed schemas replace the reference's implicit per-file JSON)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

BRONZE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("raw_text", StringType()),
    StructField("parser", StringType()),       # pdf | html | passthrough | error
    StructField("n_pages", IntegerType()),
    StructField("n_chars", LongType()),
    StructField("text_match", BooleanType()),  # byte-identical vs parity column (null if absent)
    StructField("error", StringType()),
    StructField("encoding", StringType()),     # WHATWG-sniffed charset (html rows only)
])

_GOAL = StructType([
    StructField("id", StringType()),
    StructField("title", StringType()),
    StructField("status", StringType()),
    StructField("pollutant", StringType()),
    StructField("reduction_percent", DoubleType()),
    StructField("baseline_value", DoubleType()),
    StructField("target_value", DoubleType()),
    StructField("deadline_year", StringType()),
    StructField("responsible", StringType()),
    StructField("confidence", DoubleType()),
    StructField("is_primary", BooleanType()),
    StructField("primary_reason", StringType()),
])

_BMP = StructType([
    StructField("id", StringType()),
    StructField("name", StringType()),
    StructField("category", StringType()),
    StructField("quantity", DoubleType()),
    StructField("unit", StringType()),
    StructField("verb", StringType()),
    StructField("confidence", DoubleType()),
    StructField("source", StringType()),
])

_ACTIVITY = StructType([
    StructField("id", StringType()),
    StructField("description", StringType()),
    StructField("verb", StringType()),
    StructField("frequency", StringType()),
    StructField("due_year", StringType()),
    StructField("responsible", StringType()),
    StructField("cost_value", DoubleType()),
    StructField("confidence", DoubleType()),
])

_COST_ROW = StructType([
    StructField("name", StringType()),
    StructField("quantity", DoubleType()),
    StructField("unit", StringType()),
    StructField("unit_cost", DoubleType()),
    StructField("total_cost", DoubleType()),
    StructField("landowner_match", DoubleType()),
])

_COST_TABLE = StructType([
    StructField("id", StringType()),
    StructField("title", StringType()),
    StructField("pattern_id", StringType()),
    StructField("pattern_confidence", DoubleType()),
    StructField("total_reported", DoubleType()),
    StructField("total_computed", DoubleType()),
    StructField("discrepancy", DoubleType()),
    StructField("rows", ArrayType(_COST_ROW)),
])

SILVER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("lang", StringType()),
    StructField("total_goals", IntegerType()),
    StructField("total_bmps", IntegerType()),
    StructField("total_activities", IntegerType()),
    StructField("primary_goals", IntegerType()),
    StructField("total_metrics", IntegerType()),
    StructField("completion_rate", DoubleType()),
    StructField("avg_goal_confidence", DoubleType()),
    StructField("strong_goals", IntegerType()),
    StructField("goals", ArrayType(_GOAL)),
    StructField("bmps", ArrayType(_BMP)),
    StructField("activities", ArrayType(_ACTIVITY)),
    StructField("monitoring_count", IntegerType()),
    StructField("outreach_count", IntegerType()),
    StructField("geography_count", IntegerType()),
    StructField("cost_tables", ArrayType(_COST_TABLE)),
    StructField("fallback_goal_heuristic_used", BooleanType()),
    StructField("bmp_fallback_applied", BooleanType()),
    StructField("report_json", StringType()),
    StructField("error", StringType()),
])

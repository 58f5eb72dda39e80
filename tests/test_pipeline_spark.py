"""Spark pipeline tests: bronze extraction, silver structuring, fused path,
lineage + anti-join resume, end-to-end runner."""

import os

import pyspark.sql.functions as F
import pytest

from pdfextractor_spark.corpus import generate_pages
from pdfextractor_spark.pipeline.bronze import extract_bronze
from pdfextractor_spark.pipeline.fused import extract_fused
from pdfextractor_spark.pipeline.lineage import resume_remaining, stage_lineage
from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA, SILVER_SCHEMA
from pdfextractor_spark.pipeline.silver import extract_silver


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(generate_pages(130), schema=PAGES_SCHEMA).cache()


@pytest.fixture(scope="module")
def bronze(pages):
    return extract_bronze(pages, num_partitions=8).cache()


def test_bronze_byte_parity_and_routing(bronze):
    agg = bronze.groupBy("parser").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("text_match"), 1).otherwise(0)).alias("matched"),
        F.sum(F.when(F.col("text_match").isNotNull(), 1).otherwise(0)).alias("parity_rows"),
    ).collect()
    by = {r["parser"]: r for r in agg}
    assert set(by) == {"pdf", "html", "error"}
    # north-rule invariant: byte-identical extracted text for EVERY parity row
    for p in ("pdf", "html"):
        assert by[p]["parity_rows"] > 0
        assert by[p]["matched"] == by[p]["parity_rows"]
    # corrupt payloads become error rows with messages, never job failures
    errs = bronze.where("parser = 'error'").select("error").collect()
    assert all(r["error"] for r in errs)


def test_silver_schema_and_yield(spark, bronze):
    silver = extract_silver(bronze.select("url", "lang", "raw_text"))
    assert silver.schema == SILVER_SCHEMA
    row = silver.agg(
        F.sum("total_goals").alias("g"),
        F.sum("total_bmps").alias("b"),
        F.sum("total_activities").alias("a"),
        F.sum(F.size("cost_tables")).alias("t"),
    ).collect()[0]
    assert row["g"] > 0 and row["b"] > 0 and row["a"] > 0 and row["t"] > 0


def test_fused_equals_staged_pipeline(spark, pages, bronze):
    staged = extract_silver(bronze.select("url", "lang", "raw_text"))
    fused = extract_fused(pages, num_partitions=8)
    cols = ["url", "total_goals", "total_bmps", "total_activities"]
    s = {tuple(r) for r in staged.select(cols).collect()}
    f = {tuple(r) for r in fused.select(cols).collect()}
    assert s == f


def test_lineage_counts(spark, bronze):
    lin = stage_lineage(bronze, stage="bronze").collect()
    assert all(r["stage"] == "bronze" for r in lin)
    assert sum(r["doc_count"] for r in lin) == 130
    assert sum(r["failures"] for r in lin) >= 1  # corrupt docs counted


def test_resume_anti_join(spark, pages, bronze):
    # first half done -> resume must schedule exactly the other half
    done = bronze.limit(60).select("url")
    remaining = resume_remaining(pages, done, key="url")
    assert remaining.count() == 130 - 60
    # broadcast anti-join: no rows in common
    assert remaining.join(done, "url", "inner").count() == 0


def test_runner_end_to_end_with_resume(spark, tmp_path):
    from pdfextractor_spark.pipeline.runner import run_pipeline

    pages = spark.createDataFrame(generate_pages(40), schema=PAGES_SCHEMA)
    out = str(tmp_path / "stages")
    res1 = run_pipeline(spark, pages, out)
    assert res1["docs"] == 40
    assert res1["byte_identical_matched"] == res1["byte_identical_total"] > 0
    # rerun over the same output dir: resume is idempotent, no duplicates
    res2 = run_pipeline(spark, pages, out)
    assert res2["docs"] == 40
    silver = spark.read.parquet(f"{out}/silver")
    assert silver.count() == 40
    assert silver.select("url").distinct().count() == 40
    # lineage side-tables written per stage
    lin = spark.read.parquet(f"{out}/bronze_lineage")
    assert lin.agg(F.sum("doc_count")).first()[0] == 40


def test_runner_partial_resume_processes_only_remaining(spark, tmp_path):
    from pdfextractor_spark.pipeline.runner import run_pipeline

    all_pages = spark.createDataFrame(generate_pages(30), schema=PAGES_SCHEMA)
    out = str(tmp_path / "partial")
    # simulate an interrupted run: bronze exists for the first 15 docs only
    run_pipeline(spark, all_pages.limit(15), out)
    res = run_pipeline(spark, all_pages, out)
    assert res["docs"] == 30
    silver = spark.read.parquet(f"{out}/silver")
    assert silver.count() == 30
    assert silver.select("url").distinct().count() == 30
    # the lineage of an appended stage describes the whole stage
    for stage in ("bronze", "silver"):
        lin = spark.read.parquet(f"{out}/{stage}_lineage")
        assert lin.agg(F.sum("doc_count")).first()[0] == 30


def test_runner_mode_change_rebuilds_silver_only(spark, tmp_path):
    """Silver is fingerprinted by its config: a rerun with another ``mode``
    into the same dir rebuilds silver (never serves the old mode's rows)
    and keeps bronze, which has no config."""
    from pdfextractor_spark.pipeline.runner import run_pipeline

    pages = spark.createDataFrame(generate_pages(30), schema=PAGES_SCHEMA)

    def reports(d):
        return sorted((r["url"], r["report_json"]) for r in
                      spark.read.parquet(f"{d}/silver").select("url", "report_json").collect())

    out = str(tmp_path / "stages")
    run_pipeline(spark, pages, out, mode="exact")
    exact = reports(out)
    bronze_files = {f for f in os.listdir(f"{out}/bronze") if f.endswith(".parquet")}
    res = run_pipeline(spark, pages, out, mode="naive")
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, pages, fresh, mode="naive")
    naive = reports(fresh)
    assert naive != exact  # the two modes really differ on this corpus
    assert reports(out) == naive
    assert res["docs"] == 30
    # bronze kept: an overwrite would have replaced its part files
    assert bronze_files <= set(os.listdir(f"{out}/bronze"))


def test_error_rows_propagate_not_crash(spark):
    bad = spark.createDataFrame(
        [("u1", None, b"%PDF-1.4 garbage\x00", None, "en")],
        schema=PAGES_SCHEMA,
    )
    out = extract_bronze(bad, num_partitions=1).collect()
    assert len(out) == 1
    assert out[0]["parser"] == "error"
    assert out[0]["raw_text"] is None


def test_reextract_candidates_and_trunc_audit(spark):
    """A6 suspected_trunc + the detect_reextract_candidates heuristic
    (ref: backend/scripts/detect_reextract_candidates.js:20-30): length
    exactly 18000 flags truncation, <600 chars on a part-numbered url
    flags an orphaned fragment; everything else passes."""
    from pdfextractor_spark.pipeline.gold import gold_coverage, reextract_candidates

    rows = [
        ("http://x/full-doc", 18000),        # exact truncation size
        ("http://x/plan-2", 120),            # tiny part fragment
        ("http://x/plan-3", 900),            # part-numbered but big enough
        ("http://x/normal", 17999),          # near-miss length
        ("http://x/tiny-but-unnumbered", 50),
        ("http://x/empty-7", 0),             # zero-length excluded (len > 0)
    ]
    bronze = spark.createDataFrame(rows, "url string, n_chars long")
    out = {r["url"]: r["reason"] for r in reextract_candidates(bronze).collect()}
    assert out == {"http://x/full-doc": "exact_18000_truncation",
                   "http://x/plan-2": "tiny_fragment"}

    silver_like = bronze.withColumn("cost_tables", F.array().cast("array<struct<pattern_id:string>>")) \
                        .withColumn("error", F.lit(None).cast("string"))
    cov = gold_coverage(silver_like).collect()[0]
    assert cov["suspected_trunc"] == 1 and cov["total_reports"] == 6

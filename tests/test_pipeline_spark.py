"""Spark pipeline tests: bronze extraction, silver structuring, fused path,
lineage + anti-join resume, end-to-end runner."""

import os

import pyspark.sql.functions as F
import pytest

from pdfextractor_spark.corpus import generate_pages
from pdfextractor_spark.pipeline.bronze import extract_bronze
from pdfextractor_spark.pipeline.fused import extract_fused
from pdfextractor_spark.pipeline import tableio
from pdfextractor_spark.pipeline.lineage import resume_remaining, write_stage
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


def test_lineage_counts(spark, pages, bronze, tmp_path):
    # the runner's bronze write: one lineage row, counted by the write job
    out = str(tmp_path / "bronze")
    write_stage(pages, out, "bronze", extract_bronze, key="url")
    lin = spark.read.parquet(f"{out}_lineage").collect()
    assert [(r["stage"], r["action"]) for r in lin] == [("bronze", "rebuilt")]
    assert sum(r["doc_count"] for r in lin) == 130
    assert sum(r["failures"] for r in lin) >= 1  # corrupt docs counted
    assert lin[0]["bytes"] == bronze.agg(F.sum(F.length("raw_text"))).first()[0]


def test_write_stage_runs_no_job_past_the_lineage_write(spark, tmp_path):
    """A fresh ``write_stage`` runs at most one job more than a plain
    checkpoint write of the same frame and the read that hands it back
    (parquet infers the schema in a job): the lineage write. Its counts
    come from the data write itself, not from a scan of what it wrote."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(f"u{i}", "x" * i, None) for i in range(40)],
                               "url string, raw_text string, error string")

    def jobs(group, write):
        sc.setJobGroup(group, group)
        try:
            write()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def plain_write():
        tableio.write_checkpoint(df, str(tmp_path / "plain"))
        tableio.read_checkpoint(spark, str(tmp_path / "plain"))

    plain = jobs(f"plain-{tmp_path.name}", plain_write)
    staged = jobs(f"stage-{tmp_path.name}",
                  lambda: write_stage(df, str(tmp_path / "stage"), "s", lambda d: d,
                                      key="url"))
    assert plain >= 1
    assert staged <= plain + 1, (staged, plain)


def test_write_stage_resumes_a_uri_path(spark, tmp_path):
    """A checkpoint addressed by a ``file://`` URI is found again: the
    storage probe goes through the path's Hadoop FileSystem."""
    df = spark.createDataFrame([(f"u{i}", "x" * i, None) for i in range(40)],
                               "url string, raw_text string, error string")
    path = "file://" + str(tmp_path / "uri" / "stage")
    assert write_stage(df, path, "s", lambda d: d, key="url").action == "rebuilt"
    again = write_stage(df, path, "s", lambda d: d, key="url")
    assert (again.action, again.rows) == ("kept", 40)


def test_resume_anti_join(spark, pages, bronze):
    # first half done -> resume must schedule exactly the other half
    done = bronze.limit(60).select("url")
    remaining = resume_remaining(pages, done, key="url")
    assert remaining.count() == 130 - 60
    # broadcast anti-join: no rows in common
    assert remaining.join(done, "url", "inner").count() == 0


def _gold_rows(df):
    """``df``'s rows in a fixed order: sorted on the non-float fields, so
    float sums that differ in their last bits do not reorder them."""
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple(str(v) for v in r if not isinstance(v, float)))


def test_runner_end_to_end_with_resume(spark, tmp_path):
    from pdfextractor_spark.pipeline import gold
    from pdfextractor_spark.pipeline.runner import run_pipeline

    sc = spark.sparkContext
    pages = spark.createDataFrame(generate_pages(40), schema=PAGES_SCHEMA)
    out = str(tmp_path / "stages")
    group = f"runner-{tmp_path.name}"
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        res1 = run_pipeline(spark, pages, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # every job of the run, the concurrent gold batch's included, ran
    # under the caller's job group
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    assert sc.statusTracker().getJobIdsForGroup(group)
    assert res1["docs"] == 40
    assert res1["byte_identical_matched"] == res1["byte_identical_total"] > 0
    # each gold table is its pipeline.gold function over the written stages
    silver = tableio.read_checkpoint(spark, f"{out}/silver")
    bronze = tableio.read_checkpoint(spark, f"{out}/bronze")
    tables = gold.cost_table_rows(silver)
    expected = {
        "lang_rollup": gold.gold_lang_rollup(silver),
        "pattern_usage": gold.gold_pattern_usage(tables),
        "cost_summary": gold.gold_cost_summary(tables),
        "coverage": gold.gold_coverage(silver),
        "reextract_candidates": gold.reextract_candidates(bronze),
        "content_audit": gold.bronze_content_audit_summary(bronze),
        "anomaly_summary": gold.silver_anomaly_summary(silver),
    }
    for name, want in expected.items():
        got = tableio.read_checkpoint(spark, f"{out}/gold_{name}")
        assert got.columns == want.columns, name
        got_rows, want_rows = _gold_rows(got), _gold_rows(want)
        assert len(got_rows) == len(want_rows), name
        for g, w in zip(got_rows, want_rows):
            assert g == pytest.approx(w, rel=1e-9, abs=1e-9), name
    # rerun over the same output dir: resume is idempotent, no duplicates
    res2 = run_pipeline(spark, pages, out)
    assert res2["docs"] == 40
    silver = spark.read.parquet(f"{out}/silver")
    assert silver.count() == 40
    assert silver.select("url").distinct().count() == 40
    # lineage side-tables written per stage
    lin = spark.read.parquet(f"{out}/bronze_lineage")
    assert lin.agg(F.sum("doc_count")).first()[0] == 40


def test_run_batch_raises_after_every_call_ends(spark):
    """The gold batch helper returns results in call order, runs each call
    under the caller's job group, and on failure raises the error only
    after the other calls have returned, leaving no thread behind."""
    import threading
    import time

    from pdfextractor_spark.pipeline.runner import _run_batch

    sc = spark.sparkContext
    threads, ended = [], []

    def call(value=None, delay=0.0, fail=False):
        def run():
            threads.append(threading.current_thread())
            time.sleep(delay)
            if fail:
                raise ValueError("gold build failed")
            ended.append(value)
            return value if value is not None else sc.getLocalProperty("spark.jobGroup.id")
        return run

    sc.setJobGroup("run-batch", "run-batch")
    try:
        assert _run_batch(spark, [call(1), call(), call(2, delay=0.1)]) == [1, "run-batch", 2]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    ended.clear()
    with pytest.raises(ValueError, match="gold build failed"):
        _run_batch(spark, [call(fail=True), call("slow", delay=0.5), call("quick")])
    assert sorted(ended) == ["quick", "slow"]
    assert len(threads) == 6 and not any(t.is_alive() for t in threads)


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

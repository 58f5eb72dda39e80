"""Checkpoint/resume for the corpus-prep runner (pipeline/webrunner.py).

Mirrors the medallion runner's contract (north rule: resumable from
checkpoint with one lineage row per commit): the per-document phase
resumes by url anti-join, the corpus-global phases revalidate against
their recorded input row count, and the end-to-end result matches the
single-pass ``prepare_training_corpus`` declaration.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdfextractor_spark.pipeline.webclean import prepare_training_corpus
from pdfextractor_spark.pipeline.webrunner import run_corpus_prep


def _pages(spark, n=40, start=0):
    # distinct texts (the exact-content dedup collapses identical ones)
    # with enough terminally-punctuated sentences to pass the C4 gate
    rows = [
        (f"https://site{i % 5}.org/p/{i}",
         1_700_000_000 + i,
         ". ".join(f"Document {i} carries unique sentence number {j} here"
                   for j in range(6)) + ".",
         "en")
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(
        rows, "url string, ts long, text string, lang string"
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("ts"))).drop("ts")


def _robots(spark):
    return spark.createDataFrame(
        [("site0.org", "User-agent: *\nDisallow: /p/1"),
         ("site1.org", "")],
        "host string, robots_txt string")


def _collect(df, cols=("url", "text")):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _lineage_rows(spark, out):
    """(action, doc_count) of each commit of the ``cleaned`` stage."""
    return _collect(spark.read.parquet(os.path.join(out, "cleaned_lineage")),
                    ("action", "doc_count"))


def test_run_corpus_prep_matches_single_pass(spark, tmp_path):
    pages = _pages(spark)
    robots = (_robots(spark), "trainingbot")
    bench = spark.createDataFrame(
        [("Document 3 carries unique sentence number 0 here and more "
          "benchmark words to make thirteen grams total for the check",)],
        "text string")
    kw = dict(extract=False, robots=robots, benchmark=bench,
              dup_line_min_count=None, quality_floor=0.0,
              max_docs_per_host=6)
    expected = prepare_training_corpus(pages, filter_rows=True, **kw)
    summary = run_corpus_prep(spark, pages, str(tmp_path / "run"), **kw)
    got = spark.read.parquet(str(tmp_path / "run" / "corpus"))
    assert _collect(got) == _collect(expected)
    assert summary["corpus_rows"] == expected.count()
    assert summary["cleaned_appended"] == -1  # full build
    assert summary["flagged_recomputed"] and summary["corpus_recomputed"]
    # accounting landed as gold and matches the kept corpus
    assert summary["prep_report"]["docs_in"] == summary["cleaned_rows"]
    # lineage side-tables rode every stage checkpoint
    for stage in ("cleaned", "flagged", "corpus"):
        lin = spark.read.parquet(str(tmp_path / "run" / f"{stage}_lineage"))
        assert lin.agg(F.sum("doc_count")).first()[0] == summary[f"{stage}_rows"]


def test_run_corpus_prep_resume_is_noop_and_incremental(spark, tmp_path):
    out = str(tmp_path / "run")
    kw = dict(extract=False, dup_line_min_count=None, max_docs_per_host=100)
    first = run_corpus_prep(spark, _pages(spark, n=30), out, **kw)
    assert first["cleaned_rows"] == 30

    # identical rerun: nothing appended, nothing recomputed
    second = run_corpus_prep(spark, _pages(spark, n=30), out, **kw)
    assert second["cleaned_appended"] == 0
    assert not second["flagged_recomputed"] and not second["corpus_recomputed"]
    assert second["corpus_rows"] == first["corpus_rows"]
    assert _lineage_rows(spark, out) == [("rebuilt", 30)]

    # incremental input: only the 10 new urls run the per-doc phase, and
    # the count change invalidates (recomputes) the global phases
    third = run_corpus_prep(spark, _pages(spark, n=40), out, **kw)
    assert third["cleaned_appended"] == 10
    assert third["cleaned_rows"] == 40
    # the appended stage's lineage describes all of it, not the first run
    lin = spark.read.parquet(os.path.join(out, "cleaned_lineage"))
    assert lin.agg(F.sum("doc_count")).first()[0] == 40
    # one lineage row per commit: the build, then the append
    assert _lineage_rows(spark, out) == [("appended", 10), ("rebuilt", 30)]
    assert third["flagged_recomputed"] and third["corpus_recomputed"]
    # the resumed run converges to the from-scratch result
    scratch = prepare_training_corpus(_pages(spark, n=40),
                                      filter_rows=True, **kw)
    got = spark.read.parquet(os.path.join(out, "corpus"))
    assert _collect(got) == _collect(scratch)


def test_rows_appended_without_a_lineage_row_still_count(spark, tmp_path):
    """A run that crashed after appending to ``cleaned`` but before writing
    its lineage row: the rerun's anti-join skips those rows, so the stage
    total must come from the checkpoint, or the global phases would keep
    the flagged stage built from 30 rows."""
    out = str(tmp_path / "run")
    kw = dict(extract=False, dup_line_min_count=None, max_docs_per_host=100)
    run_corpus_prep(spark, _pages(spark, n=30), out, **kw)
    # the crashed run's append: per-doc output of 10 new urls, no lineage
    side = str(tmp_path / "side")
    run_corpus_prep(spark, _pages(spark, n=10, start=30), side, **kw)
    spark.read.parquet(os.path.join(side, "cleaned")).write.mode("append") \
        .parquet(os.path.join(out, "cleaned"))

    res = run_corpus_prep(spark, _pages(spark, n=40), out, **kw)
    assert res["cleaned_rows"] == 40
    assert res["flagged_recomputed"]
    assert _lineage_rows(spark, out) == [("appended", 10), ("rebuilt", 30)]
    scratch = prepare_training_corpus(_pages(spark, n=40),
                                      filter_rows=True, **kw)
    got = spark.read.parquet(os.path.join(out, "corpus"))
    assert _collect(got) == _collect(scratch)


def test_resume_recomputes_on_config_change(spark, tmp_path):
    """A resumed run with an unchanged config skips the global phases; a
    CHANGED stage config (here quality_floor) invalidates the fingerprint
    and recomputes — the runner must never serve output built under a
    different config as current."""
    pages = _pages(spark, n=20)
    out = str(tmp_path / "run")
    kw = dict(extract=False, dup_line_min_count=None, quality_floor=0.0)
    run_corpus_prep(spark, pages, out, **kw)

    same = run_corpus_prep(spark, pages, out, **kw)
    assert same["cleaned_appended"] == 0
    assert not same["flagged_recomputed"]
    assert not same["corpus_recomputed"]

    changed = run_corpus_prep(spark, pages, out, extract=False,
                              dup_line_min_count=None, quality_floor=0.9)
    assert changed["flagged_recomputed"]
    # selection config unchanged, but its input (flagged) may shrink under
    # the new floor — either way the corpus phase revalidates honestly
    assert spark.read.parquet(out + "/flagged").columns  # phase rewritten


def test_phase1_config_change_forces_full_rebuild(spark, tmp_path):
    """Changing a per-document-phase config (unicode_form here) across a
    resumed run must REBUILD the cleaned checkpoint — appending rows
    extracted under a different config would silently mix semantics —
    and the rebuild must reach the corpus-global phases downstream."""
    # "e" + COMBINING ACUTE ACCENT: NFC composes it to one code point
    pages = _pages(spark).withColumn(
        "text", F.concat("text", F.lit(" The cafe\u0301 menu lists tea.")))
    out = str(tmp_path / "run")
    kw = dict(extract=False, dup_line_min_count=None)
    run_corpus_prep(spark, pages, out, **kw)
    # unchanged config + resume: no rebuild, nothing appended
    s2 = run_corpus_prep(spark, pages, out, **kw)
    assert s2["cleaned_appended"] == 0
    # changed phase-1 config: full rebuild, not an append
    s3 = run_corpus_prep(spark, pages, out, unicode_form="NFC", **kw)
    assert s3["cleaned_appended"] == -1
    assert "unicode_changed" in \
        spark.read.parquet(out + "/cleaned").columns
    assert s3["flagged_recomputed"] and s3["corpus_recomputed"]
    expected = prepare_training_corpus(pages, filter_rows=True,
                                       unicode_form="NFC", **kw)
    got = spark.read.parquet(os.path.join(out, "corpus"))
    assert _collect(got) == _collect(expected)


def test_same_size_flagged_rebuild_reaches_corpus(spark, tmp_path):
    """New urls that copy existing texts rebuild ``flagged`` (its input
    grew) but leave its row count unchanged: the exact content dedup now
    keeps the new, lexically smaller url of each copy. The corpus built
    from the old flagged rows must not be served as current."""
    out = str(tmp_path / "run")
    kw = dict(extract=False, dup_line_min_count=None)
    rehost = F.regexp_replace("url", "https://site", "https://zsite")
    run_corpus_prep(spark, _pages(spark, n=20).withColumn("url", rehost), out, **kw)
    pages = _pages(spark, n=20).withColumn("url", rehost) \
        .unionByName(_pages(spark, n=5))  # same texts, urls sort first
    s2 = run_corpus_prep(spark, pages, out, **kw)
    assert s2["cleaned_appended"] == 5 and s2["flagged_recomputed"]
    assert s2["flagged_rows"] == 20 and s2["corpus_recomputed"]
    expected = prepare_training_corpus(pages, filter_rows=True, **kw)
    got = spark.read.parquet(os.path.join(out, "corpus"))
    assert _collect(got) == _collect(expected)

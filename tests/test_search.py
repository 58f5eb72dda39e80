"""BM25 keyword search (ops/search.py): exact math twin + plan shape."""

from __future__ import annotations

import math

from pdfextractor_spark.ops.search import bm25_search, tokenize_query


def _bm25_twin(rows, query, k1=1.2, b=0.75):
    """Pure-Python BM25 with the same analysis chain."""
    import re

    terms = tokenize_query(query)
    toks = {i: re.findall(r"[a-z0-9]+", (t or "").lower()) for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for i, _ in rows:
        score, matched = 0.0, 0
        for term in terms:
            tf = toks[i].count(term)
            if tf == 0:
                continue
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(toks[i]) / avgdl))
            matched += 1
        if matched:
            out[i] = (round(score, 4), matched)
    return out


def test_tokenize_query():
    assert tokenize_query("Riparian BUFFER, buffer cost-share!") == [
        "riparian", "buffer", "cost", "share"]
    assert tokenize_query("...") == []


def test_bm25_matches_exact_twin(spark):
    rows = [
        ("d1", "Riparian buffer installation along the stream buffer zone."),
        ("d2", "Cost share program for riparian landowners and buffers."),
        ("d3", "Unrelated page about asphalt pavement maintenance."),
        ("d4", "buffer buffer buffer buffer buffer buffer buffer buffer"),
        ("d5", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    query = "riparian buffer"
    got = {r["doc_id"]: (r["score"], r["matched_terms"])
           for r in bm25_search(docs, query, topk=None).collect()}
    assert got == _bm25_twin(rows, query)
    # term saturation: 8x repetition must not dominate a 2-term match
    ranked = [r["doc_id"] for r in bm25_search(docs, query).collect()]
    assert ranked[0] == "d1"
    # topk truncates
    assert len(bm25_search(docs, query, topk=2).collect()) == 2
    # empty query -> empty typed frame; topk=0 -> zero rows, not "all"
    assert bm25_search(docs, "!!!").count() == 0
    assert bm25_search(docs, query, topk=0).count() == 0


def test_bm25_empty_query_schema_matches_scored_schema(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string")
    scored = bm25_search(docs, "alpha")
    empty = bm25_search(docs, "!!!")
    # names + types must match so unions/appends don't fork (nullability
    # flags legitimately differ between computed and literal frames)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == \
        [(f.name, f.dataType) for f in scored.schema.fields]
    assert scored.unionByName(empty).count() == scored.count()


def test_bm25_plan_shape(spark):
    """Doc table is never shuffled: tf columns are map-side, stats is a
    1-row broadcast, topk is TakeOrderedAndProject."""
    docs = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", "beta gamma")],
        "doc_id string, text string")
    plan = (bm25_search(docs, "alpha beta")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan
    # the only Exchanges allowed are the 1-row stats agg + broadcast —
    # never a hash partitioning of the document table itself
    import re as _re

    assert _re.findall(r"Exchange hashpartitioning[^\n]*", plan) == []


def test_bm25_batch_matches_single_query_runs(spark):
    """bm25_search_batch == N independent bm25_search runs, exactly
    (scores, matched_terms, per-query top-k membership and order)."""
    from pdfextractor_spark.ops.search import bm25_search_batch

    rows = [
        ("d1", "Riparian buffer installation along the stream buffer zone."),
        ("d2", "Cost share program for riparian landowners and buffers."),
        ("d3", "Unrelated page about asphalt pavement maintenance."),
        ("d4", "buffer buffer buffer buffer buffer buffer buffer buffer"),
        ("d5", None),
        ("d6", "stream maintenance cost and pavement cost"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    queries = [("q1", "riparian buffer"), ("q2", "pavement COST cost"),
               ("q3", "zzz-no-hit"), ("q4", "...")]

    batch = bm25_search_batch(docs, queries, topk=None)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = (
            r["score"], r["matched_terms"])
    for qid, q in queries:
        want = {r["doc_id"]: (r["score"], r["matched_terms"])
                for r in bm25_search(docs, q, topk=None).collect()}
        assert got.get(qid, {}) == want, qid

    # per-query topk: same membership AND order as the single-query runs
    topk = bm25_search_batch(docs, queries, topk=2).collect()
    for qid, q in queries:
        want = [r["doc_id"] for r in bm25_search(docs, q, topk=2).collect()]
        assert [r["doc_id"] for r in topk if r["query_id"] == qid] == want

    # dict input and precomputed corpus stats give identical results
    n = len(rows)
    avgdl = sum(len((t or "").lower().split()) for _, t in rows) / n
    # avgdl must match the engine's tokenizer, not str.split
    import re as _re
    avgdl = sum(len(_re.findall(r"[a-z0-9]+", (t or "").lower()))
                for _, t in rows) / n
    pre = bm25_search_batch(docs, dict(queries), topk=None,
                            corpus_stats=(n, avgdl))
    assert sorted(map(tuple, pre.collect())) == \
        sorted(map(tuple, batch.collect()))

    # all-empty workload -> typed empty frame
    assert bm25_search_batch(docs, [("q", "!!!")]).count() == 0


def test_bm25_batch_query_dataframe_is_bounded(spark, monkeypatch):
    """A query DataFrame is collected to the driver: more rows than
    MAX_BATCH_QUERIES raise, exactly MAX_BATCH_QUERIES pass."""
    import pytest

    from pdfextractor_spark.ops import search

    monkeypatch.setattr(search, "MAX_BATCH_QUERIES", 3)
    docs = spark.createDataFrame([("d1", "alpha beta")], "doc_id string, text string")
    qs = [("q1", "alpha"), ("q2", "beta"), ("q3", "gamma"), ("q4", "alpha beta")]
    at_cap = spark.createDataFrame(qs[:3], "query_id string, q string")
    assert search.bm25_search_batch(docs, at_cap).count() == 2
    over = spark.createDataFrame(qs, "query_id string, q string")
    with pytest.raises(ValueError, match="MAX_BATCH_QUERIES=3"):
        search.bm25_search_batch(docs, over)


def test_bm25_batch_plan_one_scan_no_text_shuffle(spark):
    """The batch plan reads the corpus text ONCE for scoring (plus the
    1-row stats agg — zero with corpus_stats supplied), filters exploded
    tokens with a broadcast join, and never shuffles the document text:
    every Exchange carries only ids/ints/doubles."""
    from pdfextractor_spark.ops.search import bm25_search_batch

    docs = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", "beta gamma"), ("d3", "alpha alpha")],
        "doc_id string, text string")
    df = bm25_search_batch(docs, [("q1", "alpha"), ("q2", "beta gamma")],
                           topk=5, corpus_stats=(3, 2.0))
    df.collect()  # AQE finalizes the plan (ReuseExchange is applied there)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Python" not in final
    assert "BroadcastHashJoin" in final  # vocab + df + query-term joins
    # ONE corpus scan: the df branch reuses the (doc, term) tf exchange
    # (the no-op `_tf >= 1` filter keeps the subtrees identical)
    assert final.count("Scan ExistingRDD[doc_id") == 1
    assert "ReusedExchange" in final
    # no Exchange ever mentions the text column — text never shuffles
    import re as _re

    for ex in _re.findall(r"Exchange hashpartitioning\([^)]*\)", final):
        assert "text" not in ex, ex

"""Keyword search: TF-IDF / Okapi BM25 ranking over a documents table.

The retrieval primitive every corpus workbench needs next to ANN: exact
lexical ranking (Robertson & Walker's BM25 as published and as shipped in
Lucene — idf = ln((N - df + 0.5)/(df + 0.5) + 1), the non-negative
variant). Spark-first plan, built for a 10^12-doc table:

- tokenization and per-term term frequencies are MAP-SIDE column
  expressions (``regexp_extract_all`` + higher-order ``filter`` per query
  term — the query is a small literal list, so there is no explode and
  the document table is never shuffled);
- corpus statistics (N, avgdl, per-term document frequencies) reduce to
  ONE aggregation row (partial map-side agg), broadcast back via
  ``crossJoin(broadcast(...))``;
- scoring is a pure projection; ``topk`` uses ``orderBy().limit()``
  (TakeOrderedAndProject: per-partition heaps, k rows to the driver).

Scores are rounded (default 4 dp) so floating-point association order
cannot flip equal-score ties across engines; ties then break on doc id.
No reference counterpart (the reference has no search surface); this is
graft-brief capability with a full DuckDB oracle (same math in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["tokenize_query", "bm25_search", "bm25_search_batch"]

_TOKEN_RX = r"[a-z0-9]+"

# Most queries a DataFrame input to ``bm25_search_batch`` may hold: they are
# collected to the driver and re-broadcast as the (query_id, term) table.
MAX_BATCH_QUERIES = 100_000


def tokenize_query(query: str) -> list[str]:
    """Deterministic query analysis: lowercase alnum runs, first
    occurrence kept, duplicates dropped (BM25 sums each distinct term
    once; repeating a term in the query must not double its weight)."""
    import re

    seen: dict[str, None] = {}
    for t in re.findall(_TOKEN_RX, query.lower()):
        seen.setdefault(t)
    return list(seen)


def bm25_search(docs: DataFrame, query: str, *, id_col: str = "doc_id",
                text_col: str = "text", k1: float = 1.2, b: float = 0.75,
                topk: int | None = 10, round_dp: int = 4) -> DataFrame:
    """Rank ``docs`` against ``query`` by Okapi BM25.

    Returns ``(id_col, score, matched_terms)`` ordered by score desc then
    id asc; ``topk=None`` returns every matching doc (score > 0)."""
    terms = tokenize_query(query)
    if not terms:
        # empty TYPED frame with the id column's REAL type (a string
        # hardcode would make the empty-query schema diverge from the
        # scored schema and break unions/appends on only that path)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        id_field = docs.schema[id_col]
        return docs.sparkSession.createDataFrame(
            [], StructType([StructField(id_col, id_field.dataType),
                            StructField("score", DoubleType()),
                            StructField("matched_terms", IntegerType())]))
    # null text = empty doc: it still counts toward N and avgdl (matching
    # any offline twin that sees the row), it just cannot match terms
    toks = F.expr(
        f"regexp_extract_all(lower(coalesce({text_col}, '')), '{_TOKEN_RX}', 0)")
    def _tf(term: str):
        # closure via factory: pyspark HOF lambdas must be unary (a second
        # parameter means "element, index"), so default-arg binding is out
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    tf_cols = {f"_tf_{i}": _tf(term) for i, term in enumerate(terms)}
    staged = docs.select(
        F.col(id_col), F.size(toks).alias("_dl"),
        *[c.alias(n) for n, c in tf_cols.items()])
    stats = staged.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[F.sum((F.col(n) > 0).cast("long")).alias(f"_df_{i}")
          for i, n in enumerate(tf_cols)])
    scored = staged.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    matched = F.lit(0)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        df = F.col(f"_df_{i}").cast("double")
        idf = F.log((F.col("_n") - df + 0.5) / (df + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
        score = score + F.when(
            tf > 0, idf * tf * (k1 + 1.0) / denom).otherwise(0.0)
        matched = matched + (tf > 0).cast("int")
    out = (scored
           .withColumn("score", F.round(score, round_dp))
           .withColumn("matched_terms", matched)
           .where(F.col("matched_terms") > 0)
           .select(id_col, "score", "matched_terms")
           .orderBy(F.col("score").desc(), F.col(id_col)))
    return out.limit(topk) if topk is not None else out


def bm25_search_batch(docs: DataFrame, queries, *, id_col: str = "doc_id",
                      text_col: str = "text", k1: float = 1.2,
                      b: float = 0.75, topk: int | None = 10,
                      round_dp: int = 4,
                      corpus_stats: tuple[int, float] | None = None
                      ) -> DataFrame:
    """Score a BATCH of queries in one corpus scan (same math, same
    rounding, same tie-breaks as ``bm25_search`` — pinned by a pytest twin
    against N single-query runs).

    ``queries``: ``[(query_id, query_string), ...]`` (or a dict). The
    query workload is driver-small by definition; a DataFrame input is
    collected first and must hold at most ``MAX_BATCH_QUERIES`` rows
    (``ValueError`` otherwise). Duplicate ``(query_id, term)`` pairs
    collapse, matching ``tokenize_query``'s distinct-term semantics.

    Plan (the 1/Q-scan fix for the single-query op's one-scan-per-query
    cost, VERDICT r4): the classic inverted-index shape —

    - tokens explode map-side into narrow ``(doc, dl, term)`` rows and are
      immediately filtered by a BROADCAST join against the union query
      vocabulary (no shuffle; rows that survive are query-term hits only,
      so exchange volume scales with matches, not corpus tokens);
    - per-``(doc, term)`` tf and per-term df reduce with map-side partial
      aggregation (two int-only shuffles, the second one term-sized);
    - per-term contributions join the broadcast ``(query_id, term)`` table
      and reduce per ``(query_id, doc)`` (one more int/double-only
      shuffle). The document TEXT is never shuffled anywhere.
    - corpus stats (N, avgdl) are ONE 1-row broadcast; pass
      ``corpus_stats=(N, avgdl)`` (precomputed once for the table, the
      100 TB pattern) to skip the second corpus scan entirely.

    Returns ``(query_id, id_col, score, matched_terms)``; ``topk`` keeps
    the top-k PER QUERY (rank window partitioned by query_id — never a
    global sort)."""
    if isinstance(queries, DataFrame):
        queries = [(r[0], r[1]) for r in queries.limit(MAX_BATCH_QUERIES + 1).collect()]
        if len(queries) > MAX_BATCH_QUERIES:
            raise ValueError(f"bm25_search_batch: query DataFrame holds more than "
                             f"MAX_BATCH_QUERIES={MAX_BATCH_QUERIES} rows")
    elif isinstance(queries, dict):
        queries = list(queries.items())
    spark = docs.sparkSession
    qterms = sorted({(qid, t) for qid, q in queries
                     for t in tokenize_query(q)})
    if not qterms:
        from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                                       StructField, StructType)

        id_field = docs.schema[id_col]
        # query_id's type must match what the scored path would infer
        # from the caller's tuples (an all-no-hit workload with int ids
        # returning query_id:string would fork the schema on exactly the
        # empty branch — the failure the typed id_col already prevents)
        if queries:
            qid_type = spark.createDataFrame(
                [(q[0],) for q in queries], ["query_id"]).schema[0].dataType
        else:
            qid_type = StringType()
        return spark.createDataFrame(
            [], StructType([StructField("query_id", qid_type),
                            StructField(id_col, id_field.dataType),
                            StructField("score", DoubleType()),
                            StructField("matched_terms", IntegerType())]))
    qdf = spark.createDataFrame(qterms, ["query_id", "_term"])
    toks = F.expr(
        f"regexp_extract_all(lower(coalesce({text_col}, '')), '{_TOKEN_RX}', 0)")

    if corpus_stats is not None:
        n_docs, avgdl = corpus_stats
        stats = spark.range(1).select(
            F.lit(int(n_docs)).cast("long").alias("_n"),
            F.lit(float(avgdl)).alias("_avgdl"))
    else:
        stats = docs.agg(F.count(F.lit(1)).alias("_n"),
                         F.avg(F.size(toks)).alias("_avgdl"))

    vocab = F.broadcast(qdf.select("_term").distinct())
    tf_pairs = (docs
                .select(F.col(id_col), F.size(toks).alias("_dl"),
                        F.explode(toks).alias("_term"))
                .join(vocab, "_term")  # map-side broadcast filter
                .groupBy(id_col, "_dl", "_term")
                .agg(F.count(F.lit(1)).cast("double").alias("_tf")))
    # df derives from tf_pairs AFTER the (doc, term) aggregation. The
    # `_tf >= 1` filter is semantically a no-op (counts are >= 1) but
    # keeps this branch's column set identical to the scoring branch's,
    # so both consume the SAME partial-agg + Exchange subtree and
    # ReuseExchange collapses them: the corpus text is scanned once, not
    # once per consumer (pinned in test_bm25_batch_plan_*).
    term_df = F.broadcast(
        tf_pairs.where(F.col("_tf") >= 1).groupBy("_term")
        .agg(F.count(F.lit(1)).cast("double").alias("_df")))
    contrib = (tf_pairs
               .join(term_df, "_term")
               .crossJoin(F.broadcast(stats))
               .join(F.broadcast(qdf), "_term"))
    idf = F.log((F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                + 1.0)
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    scored = (contrib
              .select("query_id", id_col,
                      (idf * F.col("_tf") * (k1 + 1.0) / denom).alias("_c"))
              .groupBy("query_id", id_col)
              .agg(F.round(F.sum("_c"), round_dp).alias("score"),
                   F.count(F.lit(1)).cast("int").alias("matched_terms")))
    if topk is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(id_col))
        scored = (scored.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= topk).drop("_rn"))
    return scored.orderBy("query_id", F.col("score").desc(), F.col(id_col))

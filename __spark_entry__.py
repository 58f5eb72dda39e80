"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full extraction pipeline over the sf0.001
``documents`` table -> per-language entity-yield rollup.

``queries()`` — one entry per implemented operator family from SURVEY.md §2
plus the training-data ops (dedup / similarity / text analysis / multimodal).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every SQL-expressible
query; extraction-engine queries (pandas-UDF semantics) get rows-only checks.
Column names/types are aligned on both sides (explicit aliases + casts).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small constant table WITHOUT Python workers: a list-backed
    ``createDataFrame`` plans a Python scan over defaultParallelism
    slices, and worker creation is serialized JVM-side (~0.14s per fork:
    measured 4.5s for a 97-row table, whether as 32 starved tasks or one
    task draining 32 slices). The pandas route converts driver-side and
    ships Arrow batches — no Python workers at all (~60ms)."""
    import pandas as pd

    cols = [f.split()[0] for f in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=cols)
    return spark.createDataFrame(pdf, schema=schema)


def _silver_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full silver extraction over the documents table (text as the
    document body, doc_id as the url key)."""
    from pdfextractor_spark.pipeline.silver import extract_silver

    docs = _t(spark, sf_dir, "documents")
    bronze_like = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("lang"),
        F.col("text").alias("raw_text"),
    )
    return extract_silver(bronze_like, mode="naive")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: extraction -> lang rollup."""
    from pdfextractor_spark.pipeline.gold import gold_lang_rollup

    silver = _silver_from_documents(spark, "/root/testdata/sf0.001")
    return gold_lang_rollup(silver)


# ---------------------------------------------------------------------------
# Oracle-backed queries (native DataFrame plans, ANSI-SQL-expressible)
# ---------------------------------------------------------------------------


def q_exact_dedup_stats(spark, sf_dir):
    from pdfextractor_spark.ops.dedup import exact_dup_stats

    df = exact_dup_stats(_t(spark, sf_dir, "documents"), "text", "lang")
    return df.select(
        "lang",
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("distinct_docs").cast("long").alias("distinct_docs"),
        F.col("duplicate_docs").cast("long").alias("duplicate_docs"),
    )


def q_canon_dedupe_keep_best(spark, sf_dir):
    # W3 analog: canonical-text dedupe keeping the largest doc
    docs = _t(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), r"[,:;]+$", "")
    w = Window.partitionBy("canon").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    kept = (
        docs.withColumn("canon", canon)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("kept_docs")).orderBy("lang")


def q_token_count_rollup(spark, sf_dir):
    from pdfextractor_spark.ops.textstats import with_token_count

    df = with_token_count(_t(spark, sf_dir, "documents"))
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
            F.sum("approx_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        )
        .orderBy("lang")
    )


def q_quality_rollup(spark, sf_dir):
    from pdfextractor_spark.ops.textstats import quality_rollup

    df = quality_rollup(_t(spark, sf_dir, "documents"))
    return df.select(
        "lang",
        F.col("docs").cast("long").alias("docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "avg_quality",
        "avg_digit_ratio",
        F.col("high_quality_docs").cast("long").alias("high_quality_docs"),
    )


def q_langid_confusion(spark, sf_dir):
    from pdfextractor_spark.ops.textstats import langid_confusion

    return langid_confusion(_t(spark, sf_dir, "documents")).select(
        "lang", "lang_guess", F.col("docs").cast("long").alias("docs")
    )


def q_fingerprint_dups(spark, sf_dir):
    from pdfextractor_spark.ops.textstats import with_fingerprint

    df = with_fingerprint(_t(spark, sf_dir, "documents"))
    dups = (
        df.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
        .where("n > 1")
    )
    return dups.agg(
        F.count(F.lit(1)).cast("long").alias("dup_groups"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("redundant_docs"),
    )


def q_latest_event_per_user(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def q_event_sessions(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epoch on both engines (ts is TIMESTAMP_NTZ; session tz=UTC)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    sess = events.withColumn("new_session", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    return (
        sess.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("sessions"),
            F.count(F.lit(1)).cast("long").alias("events"),
        )
        .orderBy("user_id")
    )


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.round("sum_qty", 4).alias("sum_qty"),
            F.round("sum_base_price", 4).alias("sum_base_price"),
            F.round("sum_disc_price", 4).alias("sum_disc_price"),
            F.round("sum_charge", 4).alias("sum_charge"),
            "avg_qty", "avg_disc", "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    revenue = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("orders"),
    )
    joined = revenue.join(F.broadcast(customer), revenue["o_custkey"] == customer["c_custkey"])
    # Global top-k via orderBy().limit(k): TakeOrderedAndProject computes a
    # per-partition top-10 then merges 10-row heaps on the driver — never a
    # partition-less WindowExec funneling every customer to one task. The
    # rank is attached afterwards on the 10-row result (trivially cheap).
    top = joined.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "c_custkey", "c_name", "revenue", "orders")
    )


def q_customers_without_orders(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    no_orders = customer.join(orders.select("o_custkey").distinct(),
                              customer["c_custkey"] == orders["o_custkey"], "left_anti")
    return (
        no_orders.join(F.broadcast(nation), no_orders["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("customers_without_orders"))
        .orderBy("n_name")
    )


def q_snapshot_diff(spark, sf_dir):
    # J6 analog: per-customer order-count diff between two deterministic halves
    orders = _t(spark, sf_dir, "orders")
    a = orders.where("o_orderkey % 2 = 0").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_a"))
    b = orders.where("o_orderkey % 2 = 1").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_b"))
    joined = a.join(b, "o_custkey", "full_outer")
    status = (
        F.when(F.col("n_a").isNull(), F.lit("ADDED"))
        .when(F.col("n_b").isNull(), F.lit("REMOVED"))
        .when(F.col("n_a") != F.col("n_b"), F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    return (
        joined.withColumn("status", status)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("customers"))
        .orderBy("status")
    )


def q_goal_regex_rollup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.when(F.col("text").rlike(r"\bgoal\b"), 1).otherwise(0)).cast("long").alias("docs_with_goal"),
            F.sum(F.when(F.col("text").rlike(r"\bmonitor\b"), 1).otherwise(0)).cast("long").alias("docs_with_monitor"),
        )
        .orderBy("lang")
    )


def q_ann_topk_cosine(spark, sf_dir):
    from pdfextractor_spark.ops.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5")
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_tumbling_event_windows(spark, sf_dir):
    """Tumbling 1-hour event-time windows per event type (streaming-agg
    analog expressed as a batch date_trunc group)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_revenue_by_nation(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("orders"),
        )
        .orderBy("n_name")
    )


def q_top_parts_per_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    joined = rev.join(F.broadcast(part), rev["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .where("rank <= 3")
        .select("p_brand", "p_partkey", "p_name", "revenue", "rank")
        .orderBy("p_brand", "rank")
    )


def q_nation_setops(spark, sf_dir):
    """Set-operation family (§2.7): nations with customers vs suppliers."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c_n = customer.select(F.col("c_nationkey").alias("nk")).distinct()
    s_n = supplier.select(F.col("s_nationkey").alias("nk")).distinct()
    only_customers = c_n.exceptAll(s_n).distinct()
    both = c_n.intersect(s_n)
    return _local_df(
        spark,
        [(only_customers.count(), both.count())],
        "customers_only long, both long",
    )


def q_order_priority_returns(spark, sf_dir):
    """Semi-join family: orders having >=1 returned lineitem, by priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = li.where("l_returnflag = 'R'").select("l_orderkey").distinct()
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("orders_with_returns"))
        .orderBy("o_orderpriority")
    )


def q_doclen_percentiles(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.expr("round(percentile(n_chars, 0.5), 4)").alias("median_chars"),
            F.expr("round(percentile(n_chars, 0.9), 4)").alias("p90_chars"),
            F.count(F.lit(1)).cast("long").alias("docs"),
        )
        .orderBy("lang")
    )


def q_keyword_presence(spark, sf_dir):
    """P4 presence-marking analog at corpus level: per-lang share of docs
    mentioning a keyword (substring containment, case-insensitive)."""
    docs = _t(spark, sf_dir, "documents")
    has = F.when(F.lower(F.col("text")).contains("data"), 1).otherwise(0)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(has).cast("long").alias("docs_with_keyword"),
            F.round(F.avg(has), 6).alias("presence_rate"),
        )
        .orderBy("lang")
    )


def q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: JSON props ->> k, typed agg per event."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate detection, brute-force oracle-checked
    (the LSH-bucketed variant is the 100 TB scale path)."""
    from pdfextractor_spark.ops.similarity import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (_norm(F.col("a.v")) * _norm(F.col("b.v"))), 6
    )
    near = pairs.select(cos.alias("cosine")).where("cosine >= 0.95")
    return near.agg(
        F.count(F.lit(1)).cast("long").alias("near_dup_pairs"),
        F.round(F.coalesce(F.avg("cosine"), F.lit(0.0)), 6).alias("avg_cosine"),
    )


# ---------------------------------------------------------------------------
# Extraction-engine queries (pandas-UDF semantics -> rows-only checks)
# ---------------------------------------------------------------------------


def q_streaming_extract_smoke(spark, sf_dir):
    """Structured Streaming extraction end-to-end: stage a pages corpus,
    drain it with an availableNow file-stream through the fused UDF into a
    checkpointed parquet sink, return the per-parser rollup of the sink."""
    import tempfile

    from pdfextractor_spark.corpus import generate_pages
    from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA
    from pdfextractor_spark.streaming.stream import stream_extract, stream_pages, write_stream

    tmp = tempfile.mkdtemp(prefix="stream_smoke_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    spark.createDataFrame(generate_pages(80), schema=PAGES_SCHEMA).coalesce(2) \
        .write.mode("overwrite").parquet(src)
    q = write_stream(stream_extract(stream_pages(spark, src)), out, ckpt)
    q.awaitTermination(300)
    silver = spark.read.parquet(out)

    # Bound-flag oracle: the streaming sink must agree with the BATCH fused
    # path on the same staged corpus — per-parser doc/goal/parity rollups
    # join full-outer and every cell must match; byte parity must be total.
    # DuckDB pins docs=80 (corpus literal), rate=1.0 and the flag TRUE.
    from pdfextractor_spark.pipeline.fused import extract_fused

    def _roll(df):
        return df.groupBy("parser").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("total_goals").alias("goals"),
            F.sum(F.when(F.col("text_match"), 1).otherwise(0)).alias("matched"),
            F.sum(F.when(F.col("text_match").isNotNull(), 1).otherwise(0)).alias("parity"),
        )

    s_roll = _roll(silver)
    b_roll = _roll(extract_fused(spark.read.parquet(src), num_partitions=4))
    cols = ["docs", "goals", "matched", "parity"]
    j = (
        s_roll.select("parser", *[F.col(c).alias(f"s_{c}") for c in cols])
        .join(
            b_roll.select("parser", *[F.col(c).alias(f"b_{c}") for c in cols]),
            "parser",
            "full_outer",
        )
    )
    mismatch = F.when(
        sum([(F.col(f"s_{c}").eqNullSafe(F.col(f"b_{c}"))).cast("int") for c in cols]) < len(cols),
        1,
    ).otherwise(0)
    matches = j.agg((F.sum(mismatch) == 0).alias("matches_batch"))
    totals = silver.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.round(
            F.sum(F.when(F.col("text_match"), 1).otherwise(0))
            / F.sum(F.when(F.col("text_match").isNotNull(), 1).otherwise(0)),
            6,
        ).alias("byte_match_rate"),
    )
    return totals.crossJoin(F.broadcast(matches))


_ORACLE_MAT_DIR = "/tmp/spark_graft_oracle"

# paths materialized in THIS process — the 150-doc extraction corpus behind
# the gold aggregations is deterministic, so four queries sharing it only
# need one build per session (the driver harness calls each query in turn)
_MAT_BUILT: set[str] = set()


def _materialized_cost_tables(spark):
    """Silver cost tables exploded flat and written to parquet ONCE so the
    A4/A5 gold aggregations run on the same bytes in Spark AND DuckDB —
    extraction itself is golden-fixture-verified; this puts the aggregation
    math under the oracle. explode_outer keeps table-less reports (one
    null-pattern row) so report_count survives."""
    from pdfextractor_spark.corpus import generate_pages
    from pdfextractor_spark.pipeline.fused import extract_fused
    from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA

    path = f"{_ORACLE_MAT_DIR}/gold_tables.parquet"
    if path not in _MAT_BUILT:
        pages = spark.createDataFrame(generate_pages(150), schema=PAGES_SCHEMA)
        silver = extract_fused(pages, num_partitions=8)
        flat = silver.select("url", F.explode_outer("cost_tables").alias("t")).select(
            "url",
            F.col("t.pattern_id").alias("pattern_id"),
            F.col("t.pattern_confidence").alias("conf"),
            F.col("t.total_reported").alias("r"),
            F.col("t.total_computed").alias("c"),
        )
        flat.write.mode("overwrite").parquet(path)
        _MAT_BUILT.add(path)
    return spark.read.parquet(path)


def q_gold_cost_summary(spark, sf_dir):
    """A4 flagship gold rollup (ref: backend/routes/reportSummary.js:21-108)
    computed from the materialized flat cost-table parquet; the DuckDB
    oracle aggregates the same parquet."""
    flat = _materialized_cost_tables(spark)
    per_report = flat.groupBy("url").agg(
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0.0)).alias("tr"),
        F.sum(F.when(F.col("c") > 0, F.col("c")).otherwise(0.0)).alias("tc"),
    )
    totals = per_report.agg(
        F.count(F.lit(1)).cast("long").alias("report_count"),
        F.sum(F.when((F.col("tr") > 0) | (F.col("tc") > 0), 1).otherwise(0)).cast("long").alias("reports_with_costs"),
        F.round(F.sum("tr"), 4).alias("total_reported"),
        F.round(F.sum("tc"), 4).alias("total_computed"),
    )
    weighted = flat.agg(
        F.round(F.sum(F.when((F.col("c") > 0) & (F.col("conf") > 0),
                             F.col("c") * F.least(F.col("conf"), F.lit(1.0))).otherwise(0.0)), 4)
        .alias("total_computed_weighted"))
    return totals.crossJoin(weighted)


def q_gold_report_costs(spark, sf_dir):
    """A5 per-report cost rollup (ref: backend/routes/list.js:38-73) from
    the materialized flat cost-table parquet; DuckDB oracle runs the same
    SQL over it. Reports without tables contribute one null-pattern row
    (tables counts mirror the reference, which counts the report's table
    list length)."""
    flat = _materialized_cost_tables(spark)
    return (
        flat.groupBy("url")
        .agg(
            F.sum(F.when(F.col("pattern_id").isNotNull(), 1).otherwise(0)).cast("long").alias("tables"),
            F.round(F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0.0)), 4).alias("total_reported"),
            F.round(F.sum(F.when(F.col("c") > 0, F.col("c")).otherwise(0.0)), 4).alias("total_computed"),
            F.sum(F.when((F.col("r") > 0) | (F.col("c") > 0), 1).otherwise(0)).cast("long").alias("tables_with_costs"),
        )
        .withColumn("discrepancy", F.round(F.col("total_reported") - F.col("total_computed"), 4))
        .orderBy("url")
    )


def q_gold_bmp_dedupe(spark, sf_dir):
    """W3 cross-report BMP dedupe keep-best (ref:
    backend/scripts/dedupe_bmps.js:18-59). The exploded BMP list is
    materialized to parquet; BOTH engines canonicalize (lowercase, collapse
    whitespace, strip trailing punctuation, (feet)->(ft), naive
    de-pluralize) and keep the max-confidence row per canonical name."""
    from pdfextractor_spark.corpus import generate_pages
    from pdfextractor_spark.pipeline.fused import extract_fused
    from pdfextractor_spark.pipeline.gold import gold_bmp_dedupe
    from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA

    path = f"{_ORACLE_MAT_DIR}/bmps_flat.parquet"
    if path not in _MAT_BUILT:
        pages = spark.createDataFrame(generate_pages(150), schema=PAGES_SCHEMA)
        silver = extract_fused(pages, num_partitions=8)
        bmps = silver.select(F.explode("bmps").alias("b")).select(
            F.col("b.name").alias("name"), F.col("b.category").alias("category"),
            F.col("b.confidence").alias("confidence"),
        )
        bmps.write.mode("overwrite").parquet(path)
        _MAT_BUILT.add(path)
    return (gold_bmp_dedupe(spark.read.parquet(path))
            .withColumn("confidence", F.round("confidence", 6))
            .orderBy("canon"))


def q_extract_reports(spark, sf_dir):
    """Silver extraction over the documents table with a DETERMINISM
    bound-flag: the FULL run's rows (cached, so extraction executes once)
    are digested against one fresh, differently-partitioned re-extraction
    of a deterministic ~2% sample — byte-identical silver rows (sha2 over
    the canonical row JSON) across partitionings is the invariant. The r3
    shape re-ran extraction on a 10% sample TWICE on top of the full run,
    tripling the flagship query's bench cost; reusing the full run as leg
    A keeps the cross-partitioning digest oracle at one extra 2% job. The
    oracle pins cardinality, the url/lang mapping, and the flag TRUE; the
    entity-count math is oracled by the dedicated rollup queries
    (goal_regex_rollup, extract_pattern_usage, gold_*)."""
    from pdfextractor_spark.pipeline.silver import extract_silver

    docs = _t(spark, sf_dir, "documents")
    bronze_like = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("lang"),
        F.col("text").alias("raw_text"),
    )
    # cache: the full-run rows serve BOTH the returned silver output and
    # digest leg A below; without it the plan re-runs the full extraction
    # once per reference (extraction is per-row pure mapInPandas, so the
    # full run restricted to the sample is bit-identical to a fresh
    # sample run iff the job is partitioning-deterministic — the flag)
    silver = extract_silver(bronze_like, mode="naive").cache()

    def _digests(df: DataFrame) -> DataFrame:
        row_json = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        return df.select("url", F.sha2(row_json, 256).alias("digest"))

    in_sample = F.regexp_extract("url", r"^doc://(\d+)$", 1).cast("long") % 50 == 0
    a = _digests(silver.where(in_sample))
    b = _digests(extract_silver(
        bronze_like.where(F.col("doc_id") % 50 == 0).repartition(7),
        mode="naive"))
    agree = (
        a.withColumnRenamed("digest", "da")
        .join(b.withColumnRenamed("digest", "db"), "url", "full_outer")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("da").isNull()
                        | F.col("db").isNull()
                        | (F.col("da") != F.col("db")),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("runs_agree")
        )
    )
    return silver.select("url", "lang").crossJoin(F.broadcast(agree))


def q_extract_pattern_usage(spark, sf_dir):
    """Per-patternId cost-table rollup (A4 per-pattern block) from the
    materialized flat parquet; DuckDB oracle runs the same SQL over it."""
    flat = _materialized_cost_tables(spark).where(F.col("pattern_id").isNotNull())
    r_pos = F.col("r").isNotNull() & (F.col("r") > 0)
    c_pos = F.col("c").isNotNull() & (F.col("c") > 0)
    both = r_pos & c_pos
    rel = F.abs(F.col("r") - F.col("c")) / F.col("c")
    return (
        flat.groupBy("pattern_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.round(F.sum(F.when(r_pos, F.col("r")).otherwise(0.0)), 4).alias("total_reported"),
            F.round(F.sum(F.when(c_pos, F.col("c")).otherwise(0.0)), 4).alias("total_computed"),
            F.round(F.sum(
                F.when(c_pos & F.col("conf").isNotNull() & (F.col("conf") > 0),
                       F.col("c") * F.least(F.col("conf"), F.lit(1.0))).otherwise(0.0)
            ), 4).alias("weighted_computed"),
            F.sum(F.when(r_pos, 1).otherwise(0)).cast("long").alias("with_reported_totals"),
            F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("total_with_both"),
            F.sum(F.when(both & (rel <= 0.01), 1).otherwise(0)).cast("long").alias("within_1pct"),
            F.sum(F.when(both & (rel <= 0.05), 1).otherwise(0)).cast("long").alias("within_5pct"),
            F.round(F.sum(F.when(both, F.col("r") - F.col("c")).otherwise(0.0)), 4).alias("sum_discrepancy"),
        )
        .withColumn("avg_discrepancy",
                    F.round(F.when(F.col("total_with_both") > 0,
                                   F.col("sum_discrepancy") / F.col("total_with_both"))
                            .otherwise(F.lit(0.0)), 4))
        .orderBy("pattern_id")
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """Bound-flag oracle scheme: identical-text pairs hash to identical
    minhash signatures, hence identical bands, hence MUST appear in the LSH
    candidate set — the oracle computes the exact-dup pair count in SQL and
    pins the coverage flag TRUE."""
    from pdfextractor_spark.ops.dedup import minhash_lsh_pairs, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    cand = minhash_lsh_pairs(sigs, num_bands=8, sig_len=32)
    d = docs.select("doc_id", "text")
    a, b = d.alias("a"), d.alias("b")
    dup_pairs = a.join(b, (F.col("a.text") == F.col("b.text"))
                       & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    n_dup = dup_pairs.agg(F.count(F.lit(1)).cast("long").alias("exact_dup_pairs"))
    covered = dup_pairs.join(cand, ["id_a", "id_b"], "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("dup_pairs_covered"))
    return n_dup.crossJoin(covered)


def q_simhash_near_dups(spark, sf_dir):
    """Bound-flag oracle scheme: with 4 blocks and max_hamming=3, any pair
    within hamming 3 shares >=1 exact block (pigeonhole), so the bucketed
    candidate set must EQUAL the brute-force all-pairs result — the flag is
    pinned TRUE by the oracle and n_docs is SQL-computable."""
    from pdfextractor_spark.ops.dedup import simhash64, simhash_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    h = simhash64(docs).persist()
    bucketed = simhash_dup_pairs(h, max_hamming=3, num_blocks=4).select("id_a", "id_b", "hamming")
    a, b = h.alias("a"), h.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .where(F.col("hamming") <= 3)
    )
    sym_diff = bucketed.exceptAll(brute).unionAll(brute.exceptAll(bucketed))
    eq = sym_diff.agg((F.count(F.lit(1)) == 0).alias("bucketed_equals_bruteforce"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return n.crossJoin(eq)


def q_ann_lsh_topk(spark, sf_dir):
    """Bound-flag oracle scheme: the returned candidates' structure is
    verified engine-side against independent recomputations and the oracle
    pins the flags TRUE — (a) ranks are 1..n per query with n <= k,
    (b) cosine scores match a numpy (cross-implementation) recompute to
    1e-9, (c) scores are non-increasing in rank. n_queries is
    SQL-computable."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from pdfextractor_spark.ops.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 3")
    res = lsh_topk(emb, queries, k=3, bits=6, num_tables=3).persist()

    @pandas_udf(DoubleType())
    def np_cos(a, b):
        import numpy as np

        out = []
        for x, y in zip(a, b):
            x, y = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
            out.append(float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y))))
        import pandas as pd

        return pd.Series(out)

    v = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").cast("array<double>").alias("_v"))
    joined = (
        res.join(v.withColumnRenamed("_id", "query_id").withColumnRenamed("_v", "qv"), "query_id")
        .join(v.withColumnRenamed("_id", "neighbor_id").withColumnRenamed("_v", "nv"), "neighbor_id")
        .withColumn("_np", F.round(np_cos("qv", "nv"), 6))
    )
    cos_ok = joined.agg((F.sum(F.when(F.abs(F.col("cosine") - F.col("_np")) > 1e-9, 1).otherwise(0)) == 0)
                        .alias("cosines_match_numpy"))
    per_q = res.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx"), F.min("rank").alias("mn"),
    )
    ranks_ok = per_q.agg(
        (F.sum(F.when((F.col("mx") == F.col("n")) & (F.col("mn") == 1)
                      & (F.col("n") <= 3), 0).otherwise(1)) == 0)
        .alias("ranks_wellformed"),
    )
    wlag = Window.partitionBy("query_id").orderBy("rank")
    desc_ok = (
        res.withColumn("_prev", F.lag("cosine").over(wlag))
        .agg((F.sum(F.when(F.col("_prev").isNotNull()
                           & (F.col("cosine") > F.col("_prev")), 1).otherwise(0)) == 0)
             .alias("cosines_descending"))
    )
    nq = emb.where("vec_id < 3").agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return nq.crossJoin(ranks_ok).crossJoin(desc_ok).crossJoin(cos_ok)


_IVF_INDEX_CACHE: dict = {}


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: kmeans|| coarse quantizer trained ONCE per corpus
    (prebuilt index cached and its assignment persisted — at scale the index
    is built offline and reused by every query batch), nprobe nearest
    buckets probed per query, exact cosine re-rank inside them (rows-only:
    the trained quantizer is not ANSI-SQL-expressible)."""
    from pdfextractor_spark.ops.similarity import cosine_topk, ivf_build, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    key = (sf_dir, id(spark))
    if key not in _IVF_INDEX_CACHE:
        assigned, centroids = ivf_build(emb, num_centroids=10, max_iter=5)
        _IVF_INDEX_CACHE[key] = (assigned.persist(), centroids)
    queries = emb.where("vec_id < 5")
    approx = ivf_topk(None, queries, k=5, nprobe=4, index=_IVF_INDEX_CACHE[key])
    # bound-flag oracle: recall@5 against the exact brute-force ground truth
    # must clear 0.6 at nprobe=4/10 (synthetic embeddings have no strong
    # planted neighbors, so probing 40% of buckets recovers ~0.75; the
    # bound catches a broken quantizer/probe while tolerating the
    # probabilistic tail). n_queries and k are SQL-computable.
    exact = cosine_topk(emb, queries, k=5)
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    recall = hits.agg(F.count(F.lit(1)).alias("h")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("e"))
    ).select((F.col("h") / F.greatest(F.col("e"), F.lit(1)) >= 0.6).alias("recall_ge_bound"))
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                     F.lit(5).cast("long").alias("k"))
    return nq.crossJoin(recall)


def q_near_dedup_clusters(spark, sf_dir):
    """Full near-dedup chain: minhash -> LSH candidates -> exact Jaccard
    verify -> connected components -> keep one representative per cluster."""
    from pdfextractor_spark.ops.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        near_dedup,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    cand = minhash_lsh_pairs(sigs, num_bands=8, sig_len=32)
    verified = ngram_jaccard_pairs(docs, cand, n=3, threshold=0.8).select("id_a", "id_b")
    kept = near_dedup(docs, verified)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("kept_docs"))
        .orderBy("lang")
    )


def q_ngram_jaccard_allpairs(spark, sf_dir):
    """Exact all-pairs trigram Jaccard (brute-force twin of the
    LSH-candidate path that q_near_dedup_clusters verifies)."""
    from pdfextractor_spark.ops.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    a, b = ids.alias("a"), ids.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    verified = ngram_jaccard_pairs(docs, pairs, n=3, threshold=0.5)
    return verified.agg(
        F.count(F.lit(1)).cast("long").alias("pairs_ge_05"),
        F.round(F.coalesce(F.avg("jaccard"), F.lit(0.0)), 6).alias("avg_j"),
    )


def q_lm_perplexity(spark, sf_dir):
    """Char-trigram LM quality scoring (CCNet/Gopher-style filter): train
    on even doc_ids, score the held-out odd docs, per-lang mean perplexity.
    Pure count arithmetic -> exact DuckDB twin."""
    from pdfextractor_spark.ops.lm import score_perplexity, train_char_lm

    docs = _t(spark, sf_dir, "documents")
    model = train_char_lm(docs.where("doc_id % 2 = 0"))
    held = docs.where("doc_id % 2 = 1")
    scores = score_perplexity(held, model)
    with_lang = scores.join(
        F.broadcast(held.select(F.col("doc_id").alias("id"), "lang")), "id")
    # mean via DECIMAL sum (not avg of doubles): double summation is
    # partition-order-dependent, so a 4-dp round at a .00005 boundary
    # could flip between runs/engines — decimal addition is exact and
    # associative (same hardening as q_ccnet_buckets)
    dec = F.col("perplexity").cast("decimal(18,4)")
    return (
        with_lang.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.round((F.sum(dec) / F.count(F.lit(1))).cast("double"), 4)
             .alias("mean_perplexity"),
        )
        .orderBy("lang")
    )


def q_winnow_overlap(spark, sf_dir):
    """Rolling-hash winnowing fingerprints -> partial-overlap pairs.
    Bound-flag oracle: identical texts winnow to identical fingerprint
    sets (overlap 1.0 >= any threshold), so every exact-dup pair — a
    count DuckDB computes — MUST appear in the overlap pairs, at overlap
    exactly 1.0."""
    from pdfextractor_spark.ops.fingerprint import fingerprint_overlap_pairs, winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=7, window=4)
    pairs = fingerprint_overlap_pairs(fps, min_overlap=0.8).persist()
    d = docs.select("doc_id", "text")
    a, b = d.alias("a"), d.alias("b")
    dup_pairs = a.join(b, (F.col("a.text") == F.col("b.text"))
                       & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    n_dup = dup_pairs.agg(F.count(F.lit(1)).cast("long").alias("exact_dup_pairs"))
    full = pairs.where(F.col("overlap") >= 0.999999).select("id_a", "id_b")
    covered = dup_pairs.join(full, ["id_a", "id_b"], "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("dup_pairs_at_full_overlap"))
    return n_dup.crossJoin(covered)


def q_multimodal_decode(spark, sf_dir):
    """Multimodal decode over deterministic REAL payloads:
    BMP/PNG/GIF/JPEG-baseline/JPEG-progressive images — including
    Adam7-interlaced and 16-bit PNGs and 4-pass-interlaced GIFs, the
    crawl-common variants — and PCM WAV audio decode natively
    (numpy/stdlib — dimensions, duration, channel/spectral features);
    MP3 audio and MP4 video get real container-metadata parses
    (frame-header walk / ISO-BMFF box walk); every 4th video row carries
    a truncated container that exercises the honest per-row-error path."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from pdfextractor_spark.ops.multimodal import decode_media

    docs = _t(spark, sf_dir, "documents").where("doc_id < 200")

    @pandas_udf(BinaryType())
    def gen_payload(ids):
        import numpy as np
        import pandas as pd

        from pdfextractor_spark.ops.containers import make_mp3, make_mp4
        from pdfextractor_spark.ops.jpeg import make_jpeg, make_jpeg_progressive
        from pdfextractor_spark.ops.multimodal import make_bmp, make_gif, make_png, make_wav

        out = []
        for i in ids:
            i = int(i)
            kind = i % 3
            if kind == 0:  # image: deterministic gradient, format rotates
                w, h = 16 + i % 17, 12 + i % 11
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack([(xx * 255 // max(1, w - 1)),
                               (yy * 255 // max(1, h - 1)),
                               np.full((h, w), i % 256)], axis=2).astype(np.uint8)
                enc = (make_bmp, make_png, make_gif, make_jpeg,
                       make_jpeg_progressive,
                       lambda p: make_png(p, interlace=True),   # Adam7
                       lambda p: make_png(p, depth=16),         # 16-bit
                       lambda p: make_gif(p, interlace=True),   # 4-pass
                       )[(i // 3) % 8]
                out.append(enc(px))
            elif kind == 1:  # audio: WAV sine / MP3 frame stream alternate
                if (i // 3) % 2 == 0:
                    t = np.arange(2000) / 8000.0
                    out.append(make_wav(np.sin(2 * np.pi * (200 + i % 400) * t)))
                else:
                    out.append(make_mp3(20 + i % 30, 1 + (i // 3) % 14, i % 3,
                                        id3=bool(i % 2), vbr=(i % 4 == 1)))
            else:  # video: real minimal MP4; every 4th row truncated (stub)
                if (i // 3) % 4 == 3:
                    out.append(b"\x00\x00\x00\x18ftypmp42" + bytes([i % 256]) * 16)
                else:
                    out.append(make_mp4(160 + i % 320, 120 + i % 200,
                                        1.0 + (i % 100) / 10.0,
                                        timescale=600, n_tracks=1 + i % 2))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        gen_payload(F.col("doc_id")).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )
    feats = decode_media(media, num_partitions=8)
    wellformed = (
        F.col("error").isNull()
        & (F.size("feature") == 8)
        & ((F.col("kind") != "image") | (F.col("width") > 0))
        & ((F.col("kind") != "audio") | (F.col("duration_sec") > 0))
        & ((F.col("kind") != "video")
           | ((F.col("width") > 0) & (F.col("duration_sec") > 0)))
    )
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("media"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).cast("long").alias("decode_errors"),
            (F.sum(F.when(F.col("error").isNull() & ~wellformed, 1).otherwise(0)) == 0)
            .alias("decoded_wellformed"),
        )
        .orderBy("kind")
    )


def q_bmp_filter_impact(spark, sf_dir):
    """A9 analog: BMP noise-filter impact (before/after counts per lang).
    Per-document before/after counts are materialized to parquet so the
    per-lang aggregation + reduction percentage run on the same bytes in
    Spark and the DuckDB oracle."""
    from pdfextractor_spark.pipeline.silver import extract_silver

    docs = _t(spark, sf_dir, "documents")
    bronze_like = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("lang"), F.col("text").alias("raw_text"),
    )
    unfiltered = extract_silver(bronze_like, mode="naive", bmp_filter=False)
    filtered = extract_silver(bronze_like, mode="naive", bmp_filter=True)
    per_doc = (
        unfiltered.select("url", "lang", F.col("total_bmps").alias("before"))
        .join(filtered.select("url", F.col("total_bmps").alias("after")), "url")
    )
    path = f"{_ORACLE_MAT_DIR}/bmp_filter_per_doc.parquet"
    per_doc.write.mode("overwrite").parquet(path)
    flat = spark.read.parquet(path)
    return (
        flat.groupBy("lang")
        .agg(F.sum("before").cast("long").alias("bmps_before"),
             F.sum("after").cast("long").alias("bmps_after"))
        .withColumn("reduction_pct",
                    F.round((F.col("bmps_before") - F.col("bmps_after"))
                            / F.greatest(F.col("bmps_before"), F.lit(1)).cast("double"), 6))
        .orderBy("lang")
    )


def q_sketch_cardinality(spark, sf_dir):
    """HLL cardinality sketch vs exact, reported as a bound check: the
    oracle pins within_bound == TRUE, so a drifting sketch fails the gate
    even though the raw HLL estimate is engine-specific."""
    from pdfextractor_spark.ops.sketches import cardinality_rollup

    li = _t(spark, sf_dir, "lineitem")
    r = cardinality_rollup(li, "l_orderkey", "l_returnflag", rsd=0.02)
    return r.select(
        "l_returnflag",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (F.col("rel_error") <= 0.06).alias("within_bound"),
    )


def q_sketch_quantiles(spark, sf_dir):
    """Approximate quantiles vs exact within 1%, same bound-flag scheme."""
    from pdfextractor_spark.ops.sketches import quantile_rollup

    li = _t(spark, sf_dir, "lineitem")
    approx = quantile_rollup(li, "l_extendedprice", "l_returnflag",
                             quantiles=(0.5, 0.9), accuracy=10000)
    exact = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("e90"),
    )
    j = approx.join(exact, "l_returnflag")
    return j.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        ((F.abs(F.col("p50") - F.col("e50")) / F.col("e50")) < 0.01).alias("p50_within_1pct"),
        ((F.abs(F.col("p90") - F.col("e90")) / F.col("e90")) < 0.01).alias("p90_within_1pct"),
    ).orderBy("l_returnflag")


_MIX = {"en": 0.5, "es": 1.0, "fr": 1.0, "de": 1.0, "zh": 0.4}


def q_stratified_mixture(spark, sf_dir):
    """Exact stratified sample (hash-rank cut) for a target language
    mixture; the oracle recomputes kept = ceil(frac * n) exactly."""
    from pdfextractor_spark.ops.sampling import exact_stratified_sample, mixture_report

    docs = _t(spark, sf_dir, "documents")
    sampled = exact_stratified_sample(docs, "lang", _MIX, id_col="doc_id")
    return mixture_report(docs, sampled, "lang", _MIX).select(
        "lang",
        F.col("total").cast("long").alias("total"),
        F.col("kept").cast("long").alias("kept"),
        "achieved", "target",
    )


def q_asof_last_order(spark, sf_dir):
    """As-of join (events -> latest order at/before event ts per user) via the
    scalable union+window formulation in ops/joins.py — one shuffle on the
    key, no per-key candidate explosion."""
    from pdfextractor_spark.ops.joins import asof_join

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    joined = asof_join(
        events.select("event_id", "user_id", "ts"),
        orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        right_order=["o_orderdate", "o_orderkey"],
        how="inner",
    )
    return joined.select(
        "event_id", "user_id",
        F.col("asof_o_orderkey").alias("last_orderkey"),
        F.datediff(F.col("ts").cast("date"), F.col("asof_o_orderdate").cast("date")).alias("days_since"),
    )


def q_order_status_pivot(spark, sf_dir):
    """Pivot: order counts per year x status (missing combos coalesce to 0)."""
    orders = _t(spark, sf_dir, "orders")
    p = (
        orders.withColumn("year", F.year("o_orderdate"))
        .groupBy("year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "year",
        *[F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s) for s in ["F", "O", "P"]],
    ).orderBy("year")


def q_order_status_unpivot(spark, sf_dir):
    """Unpivot (melt) the year x status pivot back to long form — the
    round-trip pins both wide->long operators."""
    p = q_order_status_pivot(spark, sf_dir)
    return (
        p.unpivot(["year"], ["F", "O", "P"], "status", "orders")
        .orderBy("year", "status")
    )


def q_revenue_rollup(spark, sf_dir):
    """ROLLUP (nation, year) with grouping_id; dims broadcast."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    base = (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(F.col("n_name"), F.year("o_orderdate").alias("yr"), "o_totalprice")
    )
    return (
        base.rollup("n_name", "yr")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            F.coalesce("yr", F.lit(0)).cast("long").alias("yr"),
            "revenue", "orders", "gid",
        )
        .orderBy("gid", "n_name", "yr")
    )


def q_cumulative_monthly_revenue(spark, sf_dir):
    """Running (cumulative) monthly revenue per order priority — partitioned
    window, explicit ROWS frame on both engines."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = (
        Window.partitionBy("priority").orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "priority", "month",
        F.round("rev", 4).alias("month_revenue"),
        F.round(F.sum("rev").over(w), 4).alias("cum_revenue"),
    ).orderBy("priority", "month")


def q_pending_orders_by_priority(spark, sf_dir):
    """EXISTS-style left-semi join: orders having >=1 returned lineitem."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("orders_with_returns"))
        .orderBy("o_orderpriority")
    )


def q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share, part dim broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
            / F.sum(disc),
            6,
        ).alias("promo_share_pct"),
        F.round(F.sum(disc), 4).alias("total_revenue"),
    )


def q_part_size_bands(spark, sf_dir):
    """Broadcast range (band) join: p_size BETWEEN lo AND hi against an
    inline band dim -> BroadcastNestedLoopJoin, never a shuffled cartesian."""
    from pdfextractor_spark.ops.joins import range_join_broadcast

    part = _t(spark, sf_dir, "part")
    bands = _local_df(
        spark,
        [("small", 1, 10), ("medium", 11, 25), ("large", 26, 50)],
        "band string, lo int, hi int",
    )
    return (
        range_join_broadcast(part, bands, "p_size")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("band")
    )


def q_embedding_norm_stats(spark, sf_dir):
    """Higher-order array functions: per-label L2-norm rollup over the
    embeddings table (aggregate fold stays JVM-side, no UDF)."""
    emb = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        emb.select("label", F.sqrt(sq_sum).alias("norm"), F.size("embedding").alias("dim"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vecs"),
            F.round(F.sum("norm"), 4).alias("sum_norm"),
            F.min("dim").cast("long").alias("min_dim"),
            F.max("dim").cast("long").alias("max_dim"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Dormant bench-ready queries — NOT in the driver registry (it caps at 50
# entries and the registry sits exactly at the cap). REGISTRY.md ranks
# these for promotion; each is wired, pytest-checked against its oracle
# where one exists, and promotable by moving one line into queries() /
# oracle_sql(). bench.py times webclean_corpus as a HEADLINE entry via
# extra_queries().
# ---------------------------------------------------------------------------


def _pages_from_documents(spark, sf_dir):
    """documents -> a Common-Crawl-style pages frame (url spread over 97
    hosts, deterministic timestamps) for the crawl-ops queries. The
    synthetic texts carry no terminal punctuation, which C4's line filter
    would blank wholesale (and the content dedup would then collapse the
    identical empties to one row) — shape each into five '.'-terminated
    sentences (C4's page gate needs >= 5) so the cleaning stages see
    realistic input."""
    docs = _t(spark, sf_dir, "documents")
    sentences = F.expr("concat(" + ", '. ', ".join(
        [f"substring(text, {i} * (length(text) div 5) + 1, length(text) div 5)"
         for i in range(4)]
        + ["substring(text, 4 * (length(text) div 5) + 1)"]) + ", '.')")
    return docs.select(
        F.concat(F.lit("https://site"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".org/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("warc_ts"),
        sentences.alias("text"),
        F.col("lang"),
    )


def q_webclean_corpus(spark, sf_dir):
    """The COMPOSED 10-stage training-corpus preparation
    (pipeline/webclean.py) over the documents table — url dedup, robots
    gate, C4 cleaning, Gopher repetition, corpus line dedup,
    quality/token stats, exact content dedup, decontamination, PII
    redaction, per-host cap — returning the one-row prep_report removal
    accounting. This is the query a 100 TB user actually runs; dormant
    rows-only entry (the flag arithmetic is pandas/HOF semantics DuckDB
    cannot mirror line-for-line), benched as HEADLINE."""
    from pdfextractor_spark.pipeline.webclean import (prep_report,
                                                      prepare_training_corpus)

    pages = _pages_from_documents(spark, sf_dir)
    robots = _local_df(
        spark,
        [(f"site{i}.org",
          "User-agent: trainingbot\nDisallow: /p/\nAllow: /p/1*\n"
          if i % 3 == 0 else "")
         for i in range(97)],
        "host string, robots_txt string")
    flagged = prepare_training_corpus(
        pages, extract=False, robots=(robots, "trainingbot"),
        # the synthetic corpus draws lines from a small phrase pool, so
        # corpus-level line-dedup (min_count=2) would blank nearly every
        # document and the content dedup would then collapse the blanks
        # to one row; the stage is benched on its own crafted corpora in
        # tests/test_cleaning.py
        dup_line_min_count=None,
        quality_floor=0.0, max_docs_per_host=100_000, filter_rows=False)
    return prep_report(flagged)


def q_webclean_full(spark, sf_dir):
    """The corpus prep WITH the full selection/assembly tail (VERDICT r4
    task #5): the 10 core stages of q_webclean_corpus plus the expensive
    half a training run adds — hashed document embeddings feeding
    SemDeDup semantic dedup, an NB quality-classifier scoring pass, DSIR
    importance resampling against a trusted target slice, and greedy
    token-budget shard packing. Returns one accounting row (docs kept,
    shards, token mass) with a stable schema; rows-only by nature (the
    kmeans/Gumbel stages are not SQL-expressible) — benched in HEADLINE
    as the end-to-end 100 TB assembly shape."""
    from pdfextractor_spark.ops.embed import with_hashed_embedding
    from pdfextractor_spark.ops.selection import train_nb
    from pdfextractor_spark.pipeline.webclean import prepare_training_corpus

    # persist the embedded input (module-cached per sf_dir, like the IVF
    # index): the tail stages consume the pool from several lineage
    # branches (NB train, DSIR source/target LMs, the semdedup verdict
    # join, the final selection), and without a materialization each
    # branch would re-run the embedding UDF over the whole corpus — the
    # same reason the 100 TB runner (pipeline/webrunner.py) checkpoints
    # between phases
    key = ("webclean_full_pages", sf_dir)
    if key not in _IVF_INDEX_CACHE:
        _IVF_INDEX_CACHE[key] = with_hashed_embedding(
            _pages_from_documents(spark, sf_dir), dim=32, n=2).persist()
    pages = _IVF_INDEX_CACHE[key]
    # NB model: trained on the pages themselves labeled by lang (bounded
    # model build — the bench cost under test is the SCORING pass)
    model, priors = train_nb(pages.select("lang", "text"),
                             label_col="lang", n=1, buckets=2048)
    # trusted DSIR target: a deterministic 1/7 slice of the corpus
    target = pages.where(F.xxhash64("url") % 7 == 0).select("text")
    n_pool = pages.count()  # bounded: fixes k for the resample
    out = prepare_training_corpus(
        pages, extract=False, dup_line_min_count=None, quality_floor=0.0,
        max_docs_per_host=100_000, filter_rows=True,
        nb_filter={"model": model, "priors": priors, "n": 1,
                   "buckets": 2048},
        semdedup={"vec_col": "embedding", "num_centroids": 8,
                  "threshold": 0.995, "seed": 13, "max_iter": 4},
        dsir={"target": target, "k": max(1, int(n_pool * 0.6)), "n": 2,
              "buckets": 2048, "seed": 17},
        shard_budget=2000)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("docs_kept"),
        F.countDistinct("shard_id").cast("long").alias("n_shards"),
        F.sum("ws_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("pred_label").isNotNull(), 1).otherwise(0))
         .cast("long").alias("nb_scored"))


def q_ccnet_buckets(spark, sf_dir):
    """Dormant: CCNet per-language perplexity terciles (ops/lm.py
    ccnet_buckets, Wenzek et al. 2020 §4.3) — train the char-trigram LM
    on even doc_ids, bucket the held-out odd docs head/middle/tail
    within each language. Exact (ntile) mode so the DuckDB oracle can
    replicate the total order bit-for-bit; the approx cutoff mode is
    the 100 TB path (pytest pins the two modes' agreement)."""
    from pdfextractor_spark.ops.lm import ccnet_buckets, train_char_lm

    docs = _t(spark, sf_dir, "documents")
    model = train_char_lm(docs.where("doc_id % 2 = 0"))
    held = docs.where("doc_id % 2 = 1")
    out = ccnet_buckets(held, model, mode="exact")
    # mean via DECIMAL sum: double summation is partition-order-dependent
    # and a 4-dp round at a .00005 boundary flips between runs/engines —
    # decimal addition is exact and associative, so the mean's digits are
    # identical under any partitioning and in DuckDB
    dec = F.col("perplexity").cast("decimal(18,4)")
    return (out.where(F.col("ppl_bucket").isNotNull())
            .groupBy("lang", "ppl_bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("docs"),
                 F.round((F.sum(dec) / F.count(F.lit(1))).cast("double"), 4)
                  .alias("mean_perplexity"))
            .orderBy("lang", "ppl_bucket"))


def q_url_quality(spark, sf_dir):
    """Dormant: FineWeb-style URL quality flags (ops/urls.py
    with_url_quality) over urls synthesized deterministically from
    doc_id — six classes, each tripping exactly one gate (clean, digit
    host, hyphen-stuffed host, crawl-trap path depth, faceted query
    params, spam token). The oracle recomputes every count from the
    doc_id % 6 class arithmetic."""
    from pdfextractor_spark.ops.urls import with_url_quality

    docs = _t(spark, sf_dir, "documents")
    cls = F.col("doc_id") % 6
    url = (F.when(cls == 0, F.concat(F.lit("https://site"),
                                     (F.col("doc_id") % 97).cast("string"),
                                     F.lit(".org/a/p"),
                                     F.col("doc_id").cast("string")))
           .when(cls == 1, F.concat(F.lit("https://n"),
                                    F.col("doc_id").cast("string"),
                                    F.lit("123456789.example/x")))
           .when(cls == 2, F.concat(F.lit("https://a-b-c-d-e-f"),
                                    (F.col("doc_id") % 10).cast("string"),
                                    F.lit(".example/p")))
           .when(cls == 3, F.concat(F.lit("https://ok.example"),
                                    F.lit("/a" * 10), F.lit("/"),
                                    F.col("doc_id").cast("string")))
           .when(cls == 4, F.concat(
               F.lit("https://ok.example/s?"),
               F.lit("&".join(f"p{i}=1" for i in range(11)))))
           .otherwise(F.concat(F.lit("https://casino"),
                               (F.col("doc_id") % 10).cast("string"),
                               F.lit(".example/p"))))
    flagged = with_url_quality(docs.select("doc_id", url.alias("url")))
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(F.col("url_quality_ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("url_spam_token").cast("int")).cast("long").alias("n_spam"),
        F.sum((F.col("host_digit_frac") > 0.4).cast("int")).cast("long")
         .alias("n_digit_host"),
        F.sum((F.col("host_hyphens") > 4).cast("int")).cast("long")
         .alias("n_hyphen_host"),
        F.sum((F.col("path_depth") > 8).cast("int")).cast("long")
         .alias("n_deep_path"),
        F.sum((F.col("n_query_params") > 10).cast("int")).cast("long")
         .alias("n_many_params"))


def q_chunk_stats(spark, sf_dir):
    """Dormant: fixed-token document chunking (ops/sampling.py
    chunk_documents — size 40, overlap 8, whitespace tokens) over the
    documents table, rolled up per language. The oracle replicates the
    start-index arithmetic (sequence by stride, pure-suffix tail starts
    dropped) with generate_series in DuckDB."""
    from pdfextractor_spark.ops.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    chunks = chunk_documents(docs, size=40, overlap=8)
    return (chunks.groupBy("lang")
            .agg(F.countDistinct("doc_id").cast("long").alias("docs"),
                 F.count(F.lit(1)).cast("long").alias("chunks"),
                 F.sum("chunk_tokens").cast("long").alias("chunk_tokens"),
                 F.max("chunk_tokens").cast("int").alias("max_chunk_tokens"))
            .orderBy("lang"))


def q_robots_gate(spark, sf_dir):
    """Dormant: RFC 9309 robots verdicts (ops/robots.py) over synthesized
    per-host policies; the oracle recomputes the expected decisions with
    independent arithmetic (host class 0: longest-match Allow /p/1* beats
    Disallow /p/ exactly for doc_ids starting with '1'; class 1: blanket
    Disallow; class 2: empty robots.txt allows everything)."""
    from pdfextractor_spark.ops.robots import robots_filter

    pages = _pages_from_documents(spark, sf_dir)
    hosts = [(f"site{i}.org",
              "User-agent: trainingbot\nDisallow: /p/\nAllow: /p/1*\n"
              if i % 3 == 0
              else ("User-agent: *\nDisallow: /\n" if i % 3 == 1 else ""))
             for i in range(97)]
    robots = _local_df(spark, hosts, "host string, robots_txt string")
    out = robots_filter(pages, robots, "trainingbot")
    host_class = (F.regexp_extract("url", r"site(\d+)\.org", 1).cast("long") % 3)
    return (out.groupBy(host_class.alias("host_class"))
            .agg(F.sum(F.when(F.col("robots_allowed"), 1).otherwise(0))
                 .cast("long").alias("n_allowed"),
                 F.count(F.lit(1)).cast("long").alias("n_pages"))
            .orderBy("host_class"))


def q_pagerank_top(spark, sf_dir):
    """Dormant: damped PageRank (ops/linkgraph.py) over a deterministic
    synthetic link graph on the documents table (every doc links to
    (7*id+3)%n and (13*id+5)%n); oracle = the same 5 power iterations
    unrolled in SQL. Ordering uses the ROUNDED rank so float summation
    order cannot flip the top-10 boundary between engines."""
    from pdfextractor_spark.ops.linkgraph import pagerank

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()  # bounded: fixes the modulus (doc_ids are 0..n-1)
    e = docs.select(F.col("doc_id").alias("src"),
                    ((F.col("doc_id") * 7 + 3) % n).alias("dst")).union(
        docs.select(F.col("doc_id"), (F.col("doc_id") * 13 + 5) % n))
    ranks = pagerank(e, src_col="src", dst_col="dst", iters=5)
    r6 = F.round("rank", 6)
    return (ranks.orderBy(r6.desc(), F.col("node"))
            .limit(10)
            .select(F.col("node").cast("long").alias("node"),
                    r6.alias("rank")))


def q_semdedup_stats(spark, sf_dir):
    """Dormant: SemDeDup semantic dedup (ops/semdedup.py, Abbas et al.
    2023) over the embeddings table — kmeans-cluster the vectors, greedy
    cosine dedup inside each cluster keeping the least-centroid-similar
    exemplar — returning the one-row removal accounting. Rows-only by
    nature (the kmeans|| quantizer is not SQL-expressible); the greedy
    semantics are pinned by an exact numpy twin in
    tests/test_semdedup.py."""
    from pdfextractor_spark.ops.semdedup import semdedup, semdedup_stats

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_stats(
        semdedup(emb, num_centroids=16, threshold=0.95, seed=13, max_iter=5))


def q_host_boilerplate(spark, sf_dir):
    """Dormant: per-host template-line removal (ops/cleaning.py
    strip_host_boilerplate, the CCNet/RefinedWeb intra-site boilerplate
    pass) over a fully synthetic per-doc text built from doc_id alone, so
    the oracle can recompute the outcome analytically: every doc on host
    ``doc_id % 20`` carries that host's nav line (in 100% of the host's
    docs -> dropped wherever the host has >= 2 docs), ~30% of docs
    (``(doc_id // 20) % 10 < 3``) carry a promo line (below the 0.5
    host-fraction threshold -> kept unless a small host's ceil crosses),
    and one body line is doc-unique (never dropped)."""
    from pdfextractor_spark.ops.cleaning import strip_host_boilerplate

    docs = _t(spark, sf_dir, "documents")
    host_id = (F.col("doc_id") % 20).cast("long")
    has_promo = (F.expr("doc_id div 20") % 10) < 3
    text = F.concat(
        F.format_string("Site %d navigation menu and footer.", host_id),
        F.when(has_promo, F.lit("\nSeasonal promotion banner line."))
         .otherwise(F.lit("")),
        F.format_string("\nBody content unique to document %d.", F.col("doc_id")))
    pages = docs.select(
        F.col("doc_id"),
        F.format_string("https://site%d.example/d/%d", host_id,
                        F.col("doc_id")).alias("url"),
        text.alias("text"))
    out = strip_host_boilerplate(pages, doc_id="doc_id", url_col="url",
                                 text_col="text", min_docs=2, min_frac=0.5)
    return (out.groupBy((F.col("doc_id") % 20).cast("long").alias("host_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("host_boilerplate_lines_dropped").cast("long")
                  .alias("lines_dropped"),
                 F.sum(F.when(F.col("text").contains("navigation menu"), 1)
                       .otherwise(0)).cast("long").alias("docs_with_nav"))
            .orderBy("host_id"))


_BM25_QUERY = "vector hash join"
# batch workload for the one-scan batch ranking path: overlapping terms
# across queries (df/idf shared), one no-hit query (must yield no rows)
_BM25_BATCH = [("q_vh", "vector hash join"),
               ("q_sf", "stream filter sort"),
               ("q_cb", "customer query batch"),
               ("q_no", "zzznomatch")]


def _bm25_sql(terms: list, limit: int) -> str:
    """DuckDB recomputation of the published BM25 formula for one query's
    ``terms`` (k1=1.2, b=0.75, 4-dp rounding, doc_id tie-break) — shared
    by the single-query and batch oracles so the math exists once."""
    tf_defs = ",\n                     ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_defs = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    score_terms = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN ln((n - df_{i} + 0.5)/(df_{i} + 0.5) + 1.0)"
        f" * tf_{i} * 2.2 / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        f" ELSE 0.0 END" for i in range(len(terms)))
    matched_terms = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms)))
    return f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
              FROM documents),
            f AS (
              SELECT doc_id, len(toks) AS dl,
                     {tf_defs}
              FROM t),
            s AS (SELECT COUNT(*) AS n, avg(dl) AS avgdl, {df_defs} FROM f),
            scored AS (
              SELECT doc_id,
                     round({score_terms}, 4) AS score,
                     CAST({matched_terms} AS INT) AS matched_terms
              FROM f, s)
            SELECT doc_id, score, matched_terms FROM scored
            WHERE matched_terms > 0
            ORDER BY score DESC, doc_id LIMIT {limit}
        """


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 lexical ranking over the documents table (ops/search.py)
    for a fixed 3-term query — the retrieval primitive next to the ANN
    family. Map-side term frequencies, one broadcast stats row, the doc
    table is never hash-partitioned; full SQL oracle recomputes the same
    published formula (idf = ln((N-df+.5)/(df+.5)+1))."""
    from pdfextractor_spark.ops.search import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"), _BM25_QUERY,
                       id_col="doc_id", text_col="text", topk=25)


def q_bm25_batch(spark, sf_dir):
    """Dormant: the ONE-corpus-scan batch ranking path
    (ops/search.py bm25_search_batch, VERDICT r4 task #3) over a fixed
    4-query workload with overlapping terms and one no-hit query. The
    oracle recomputes each query's ranking independently (same shared
    SQL generator as the single-query oracle) and unions them, so the
    batch path's tf/df/score math must agree with N independent runs."""
    from pdfextractor_spark.ops.search import bm25_search_batch

    return bm25_search_batch(_t(spark, sf_dir, "documents"), _BM25_BATCH,
                             id_col="doc_id", text_col="text", topk=10)


def q_page_meta(spark, sf_dir):
    """Dormant: HTML head-metadata extraction (ops/pagemeta.py) over pages
    synthesized deterministically from doc_id — title always present (with
    an &amp; entity and an attribute on <title> to exercise the unescape
    and tag-attr paths), meta description iff doc_id%3==0, canonical link
    (reversed attribute order, &amp; in the query string) iff doc_id%2==0,
    og:title iff doc_id%4==0, article:published_time iff doc_id%5==0, and
    html lang from the lang column. The oracle recomputes every count from
    doc_id arithmetic; ``n_title_ok`` compares the EXTRACTED title against
    the expected unescaped string per-row, so a broken extractor (missed
    entity, greedy regex, squash error) shows up as a count drop, not just
    a null."""
    from pdfextractor_spark.ops.pagemeta import with_page_meta

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<!DOCTYPE html><html lang=\""), F.upper("lang"), F.lit("\"><head>"),
        F.format_string("<title id=\"t\">Doc %d &amp; more</title>", did),
        F.when(did % 3 == 0, F.format_string(
            "<meta name=\"description\" content=\"Summary  of %d.\">", did))
         .otherwise(F.lit("")),
        F.when(did % 2 == 0, F.format_string(
            "<link href=\"https://ex.org/d/%d?a=1&amp;b=2\" rel=\"canonical\">",
            did)).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.format_string(
            "<meta property='og:title' content='OG %d'>", did))
         .otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(
            "<meta property=\"article:published_time\" "
            "content=\"2021-06-01T00:00:00Z\">")).otherwise(F.lit("")),
        F.lit("</head><body><title>decoy</title></body></html>"))
    out = with_page_meta(docs.select("doc_id", "lang", html.alias("html")))
    title_ok = F.col("title") == F.format_string("Doc %d & more", did)
    desc_ok = F.col("meta_description") == F.format_string("Summary of %d.", did)
    canon_ok = (F.col("canonical_url") ==
                F.format_string("https://ex.org/d/%d?a=1&b=2", did))
    return (out.groupBy(F.col("html_lang").alias("lang"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                 F.sum(F.when(title_ok, 1).otherwise(0)).cast("long")
                  .alias("n_title_ok"),
                 F.sum(F.when(desc_ok, 1).otherwise(0)).cast("long")
                  .alias("n_desc_ok"),
                 F.sum(F.when(canon_ok, 1).otherwise(0)).cast("long")
                  .alias("n_canon_ok"),
                 F.sum(F.when(F.col("og_title").isNotNull(), 1).otherwise(0))
                  .cast("long").alias("n_og"),
                 F.sum(F.when(F.col("published_time").isNotNull(), 1)
                       .otherwise(0)).cast("long").alias("n_pub"))
            .orderBy("lang"))


# Round-5 registry swap (VERDICT r4 task #1): the five full-SQL-oracle
# crawl-ops queries take driver slots from five TPC-H entries whose
# operator families (conditional agg, set ops, semi-join, band join,
# pivot) remain covered by other green registry entries — see REGISTRY.md.
_PROMOTED_R5 = (
    "robots_gate", "pagerank_top", "bm25_search", "host_boilerplate",
    "page_meta",
)
_PARKED_R5 = (
    "nation_setops", "order_status_unpivot", "pending_orders_by_priority",
    "promo_revenue_share", "part_size_bands",
)


def _dormant_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dormant-pool queries, promotion-ready (see REGISTRY.md). Not part of
    the driver contract; bench.py and tests/test_entry_contract.py use
    them."""
    return {
        "webclean_corpus": q_webclean_corpus,
        "webclean_full": q_webclean_full,
        "bm25_batch": q_bm25_batch,
        "ccnet_buckets": q_ccnet_buckets,
        "url_quality": q_url_quality,
        "chunk_stats": q_chunk_stats,
        "robots_gate": q_robots_gate,
        "pagerank_top": q_pagerank_top,
        "semdedup_stats": q_semdedup_stats,
        "host_boilerplate": q_host_boilerplate,
        "page_meta": q_page_meta,
        "bm25_search": q_bm25_search,
    }


def _dormant_oracle_sql() -> dict[str, str]:
    """DuckDB twins for the dormant-pool queries (webclean_corpus is
    rows-only by nature — composed pandas/HOF semantics)."""
    # the ENGINE's analyzer, not a whitespace split: lowercase + regex
    # tokenize + dedup — a divergent oracle-side analysis would silently
    # fake red/green parity if the query constant ever changes
    from pdfextractor_spark.ops.search import tokenize_query as _tq
    bm25_sql = _bm25_sql(_tq(_BM25_QUERY), 25)
    bm25_batch_sql = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, doc_id, score, matched_terms FROM ("
        + _bm25_sql(_tq(q), 10) + ")"
        for qid, q in _BM25_BATCH if _tq(q))
    return {
        "bm25_search": bm25_sql,
        "bm25_batch": bm25_batch_sql,
        "ccnet_buckets": r"""
            -- the lm_perplexity oracle's model/scoring CTEs, extended
            -- with CCNet's per-language tercile assignment: ntile(3)
            -- over the same (lang, rounded ppl, doc_id) total order the
            -- Spark exact mode uses
            WITH t AS (
              SELECT doc_id, lang,
                     regexp_replace(lower(text), '\s+', ' ', 'g') AS t
              FROM documents),
            tr AS (SELECT t FROM t WHERE doc_id % 2 = 0 AND length(t) >= 3),
            gtr AS (
              SELECT substring(t, i, 3) AS gram
              FROM (SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM tr)),
            counts AS (SELECT gram, count(*) AS c FROM gtr GROUP BY gram),
            tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts),
            model AS (
              SELECT gram, ln((c + 1.0) / (total + vocab)) AS logp
              FROM counts, tot),
            held AS (
              SELECT doc_id, lang, t FROM t
              WHERE doc_id % 2 = 1 AND length(t) >= 3),
            hg AS (
              SELECT doc_id, lang, substring(t, i, 3) AS gram
              FROM (SELECT doc_id, lang, t,
                           unnest(generate_series(1, length(t) - 2)) AS i
                    FROM held)),
            sc AS (
              SELECT doc_id, lang,
                     round(exp(avg(-coalesce(m.logp,
                         (SELECT ln(1.0 / (total + vocab)) FROM tot)))), 4) AS ppl
              FROM hg LEFT JOIN model m USING (gram)
              GROUP BY doc_id, lang),
            tiled AS (
              SELECT lang, ppl,
                     ntile(3) OVER (PARTITION BY lang
                                    ORDER BY ppl, doc_id) AS tile
              FROM sc)
            SELECT lang,
                   CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                             ELSE 'tail' END AS ppl_bucket,
                   CAST(count(*) AS BIGINT) AS docs,
                   round(CAST(sum(CAST(ppl AS DECIMAL(18,4))) / count(*)
                              AS DOUBLE), 4) AS mean_perplexity
            FROM tiled GROUP BY lang, tile ORDER BY lang, ppl_bucket
        """,
        "chunk_stats": r"""
            -- same start-index arithmetic as chunk_documents(40, 8):
            -- starts 1, 1+32, 1+64, ... <= n; a start past n-8 (other
            -- than the first) would be a pure-suffix duplicate and is
            -- dropped; chunk token count = least(40, n - s + 1)
            WITH toks AS (
              SELECT doc_id, lang,
                     len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                                     x -> x <> '')) AS n
              FROM documents),
            starts AS (
              SELECT doc_id, lang, n, unnest(generate_series(1, n, 32)) AS s
              FROM toks WHERE n > 0),
            kept AS (
              SELECT doc_id, lang, n, s,
                     least(40, n - s + 1) AS ct
              FROM starts WHERE s = 1 OR s + 8 <= n)
            SELECT lang,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
                   CAST(count(*) AS BIGINT) AS chunks,
                   CAST(sum(ct) AS BIGINT) AS chunk_tokens,
                   CAST(max(ct) AS INT) AS max_chunk_tokens
            FROM kept GROUP BY lang ORDER BY lang
        """,
        "url_quality": """
            -- every count recomputed from the doc_id % 6 class arithmetic:
            -- class 0 is the only clean one; classes 1-5 trip exactly the
            -- digit-host / hyphen-host / deep-path / many-params / spam
            -- gates respectively
            SELECT CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
                   CAST(sum(CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_spam,
                   CAST(sum(CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_host,
                   CAST(sum(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hyphen_host,
                   CAST(sum(CASE WHEN doc_id % 6 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deep_path,
                   CAST(sum(CASE WHEN doc_id % 6 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_many_params
            FROM documents
        """,
        "host_boilerplate": """
            -- analytic recomputation: the nav line is in 100% of each
            -- host's docs (dropped where the host has >= 2 docs); the
            -- promo line is in the (doc_id // 20) % 10 < 3 subset
            -- (dropped only where promo_cnt >= 2 AND promo_cnt >=
            -- ceil(0.5 * host_docs)); body lines are doc-unique
            WITH hosts AS (
                SELECT doc_id % 20 AS host_id,
                       COUNT(*) AS n_docs,
                       SUM(CASE WHEN (doc_id // 20) % 10 < 3
                                THEN 1 ELSE 0 END) AS promo_cnt
                FROM documents GROUP BY 1)
            SELECT CAST(host_id AS BIGINT) AS host_id,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END
                        + CASE WHEN promo_cnt >= 2
                                AND promo_cnt >= CAST(CEIL(0.5 * n_docs) AS BIGINT)
                               THEN promo_cnt ELSE 0 END AS BIGINT)
                       AS lines_dropped,
                   CAST(CASE WHEN n_docs >= 2 THEN 0 ELSE n_docs END AS BIGINT)
                       AS docs_with_nav
            FROM hosts
            ORDER BY host_id
        """,
        "robots_gate": """
            -- independent recomputation of the RFC 9309 outcomes for the
            -- synthesized policies (see q_robots_gate docstring)
            SELECT (doc_id % 97) % 3 AS host_class,
                   CAST(SUM(CASE
                        WHEN (doc_id % 97) % 3 = 0 THEN
                             CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                                  THEN 1 ELSE 0 END
                        WHEN (doc_id % 97) % 3 = 1 THEN 0
                        ELSE 1 END) AS BIGINT) AS n_allowed,
                   CAST(COUNT(*) AS BIGINT) AS n_pages
            FROM documents
            GROUP BY 1
            ORDER BY 1
        """,
        "pagerank_top": """
            -- 5 damped power iterations unrolled (no dangling nodes: every
            -- doc has out-degree >= 1), d = 0.85, uniform init
            WITH nn AS (SELECT COUNT(*) AS n FROM documents),
            edges AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src,
                           (doc_id * 7 + 3) % (SELECT n FROM nn) AS dst
                    FROM documents
                    UNION ALL
                    SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn)
                    FROM documents)
            ),
            deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
            r0 AS (SELECT doc_id AS node,
                          1.0 / (SELECT n FROM nn) AS rank FROM documents),
            r1 AS (SELECT b.node, (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * COALESCE(i.inflow, 0) AS rank
                   FROM r0 b LEFT JOIN (
                       SELECT e.dst AS node, SUM(p.rank / d.deg) AS inflow
                       FROM edges e JOIN r0 p ON p.node = e.src
                       JOIN deg d ON d.src = e.src GROUP BY e.dst) i
                   USING (node)),
            r2 AS (SELECT b.node, (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * COALESCE(i.inflow, 0) AS rank
                   FROM r0 b LEFT JOIN (
                       SELECT e.dst AS node, SUM(p.rank / d.deg) AS inflow
                       FROM edges e JOIN r1 p ON p.node = e.src
                       JOIN deg d ON d.src = e.src GROUP BY e.dst) i
                   USING (node)),
            r3 AS (SELECT b.node, (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * COALESCE(i.inflow, 0) AS rank
                   FROM r0 b LEFT JOIN (
                       SELECT e.dst AS node, SUM(p.rank / d.deg) AS inflow
                       FROM edges e JOIN r2 p ON p.node = e.src
                       JOIN deg d ON d.src = e.src GROUP BY e.dst) i
                   USING (node)),
            r4 AS (SELECT b.node, (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * COALESCE(i.inflow, 0) AS rank
                   FROM r0 b LEFT JOIN (
                       SELECT e.dst AS node, SUM(p.rank / d.deg) AS inflow
                       FROM edges e JOIN r3 p ON p.node = e.src
                       JOIN deg d ON d.src = e.src GROUP BY e.dst) i
                   USING (node)),
            r5 AS (SELECT b.node, (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * COALESCE(i.inflow, 0) AS rank
                   FROM r0 b LEFT JOIN (
                       SELECT e.dst AS node, SUM(p.rank / d.deg) AS inflow
                       FROM edges e JOIN r4 p ON p.node = e.src
                       JOIN deg d ON d.src = e.src GROUP BY e.dst) i
                   USING (node))
            SELECT CAST(node AS BIGINT) AS node, ROUND(rank, 6) AS rank
            FROM r5
            ORDER BY ROUND(rank, 6) DESC, node
            LIMIT 10
        """,
        "page_meta": """
            -- analytic recomputation: every synthesized field's presence
            -- is a doc_id residue; the *_ok columns additionally assert
            -- the extractor round-tripped the exact expected string, so
            -- they too equal the residue count only when extraction is
            -- byte-correct
            SELECT LOWER(lang) AS lang,
                   CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(COUNT(*) AS BIGINT) AS n_title_ok,
                   CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_desc_ok,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_canon_ok,
                   CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_og,
                   CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pub
            FROM documents
            GROUP BY 1
            ORDER BY 1
        """,
    }


def _live_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # dedup family
        "exact_dedup_stats": q_exact_dedup_stats,
        "canon_dedupe_keep_best": q_canon_dedupe_keep_best,
        "fingerprint_dups": q_fingerprint_dups,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_near_dups": q_simhash_near_dups,
        "ngram_jaccard_allpairs": q_ngram_jaccard_allpairs,
        "near_dedup_clusters": q_near_dedup_clusters,
        "winnow_overlap": q_winnow_overlap,
        "lm_perplexity": q_lm_perplexity,
        # text analysis family
        "token_count_rollup": q_token_count_rollup,
        "quality_rollup": q_quality_rollup,
        "langid_confusion": q_langid_confusion,
        "goal_regex_rollup": q_goal_regex_rollup,
        # windows / joins / aggs (operator inventory §2.3-2.5)
        "latest_event_per_user": q_latest_event_per_user,
        "event_sessions": q_event_sessions,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "customers_without_orders": q_customers_without_orders,
        "snapshot_diff": q_snapshot_diff,
        # relational operator families (joins/semi/set-ops/percentiles/json)
        "tumbling_event_windows": q_tumbling_event_windows,
        "revenue_by_nation": q_revenue_by_nation,
        "top_parts_per_brand": q_top_parts_per_brand,
        "nation_setops": q_nation_setops,
        "order_priority_returns": q_order_priority_returns,
        "doclen_percentiles": q_doclen_percentiles,
        "keyword_presence": q_keyword_presence,
        "json_props_stats": q_json_props_stats,
        "asof_last_order": q_asof_last_order,
        "sketch_cardinality": q_sketch_cardinality,
        "stratified_mixture": q_stratified_mixture,
        "sketch_quantiles": q_sketch_quantiles,
        "order_status_unpivot": q_order_status_unpivot,
        "revenue_rollup": q_revenue_rollup,
        "cumulative_monthly_revenue": q_cumulative_monthly_revenue,
        "pending_orders_by_priority": q_pending_orders_by_priority,
        "promo_revenue_share": q_promo_revenue_share,
        "part_size_bands": q_part_size_bands,
        "embedding_norm_stats": q_embedding_norm_stats,
        # similarity search
        "ann_topk_cosine": q_ann_topk_cosine,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        # extraction engine (rows-only)
        "extract_reports": q_extract_reports,
        "extract_pattern_usage": q_extract_pattern_usage,
        "bmp_filter_impact": q_bmp_filter_impact,
        "multimodal_decode": q_multimodal_decode,
        # streaming (rows-only)
        "streaming_extract_smoke": q_streaming_extract_smoke,
        # gold layer over the synthetic extraction corpus (rows-only)
        "gold_cost_summary": q_gold_cost_summary,
        "gold_report_costs": q_gold_report_costs,
        "gold_bmp_dedupe": q_gold_bmp_dedupe,
    }


_EN_MARKERS = [" the ", " and ", " of ", " to "]

# SINGLE SOURCE OF TRUTH: the oracle's votes CTE and tie-break CASE are
# generated from the engine's own marker table, so extending language
# coverage keeps Spark == DuckDB by construction (the Spark side iterates
# the same dict in ops/textstats.with_lang_guess).
from pdfextractor_spark.ops.textstats import _LANG_MARKERS as _MARKER_SQL


def _votes_sql(lang: str) -> str:
    parts = [
        f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}" for m in _MARKER_SQL[lang]
    ]
    return "CAST(" + " + ".join(parts) + " AS INT)"


def _live_oracle_sql() -> dict[str, str]:
    ws_tokens = "CAST(length(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT)"
    _langs = list(_MARKER_SQL)
    lang_votes = ",\n                     ".join(
        f"{_votes_sql(lg)} AS v_{lg}" for lg in _langs)
    lang_best = "greatest(" + ", ".join(f"v_{lg}" for lg in _langs) + ")"
    lang_case = ("CASE WHEN best <= 0 THEN 'und' "
                 + " ".join(f"WHEN v_{lg} = best THEN '{lg}'" for lg in _langs)
                 + " END")
    return {
        "exact_dedup_stats": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS total_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_docs,
                   CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "canon_dedupe_keep_best": """
            WITH canon AS (
              SELECT *, regexp_replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '[,:;]+$', '') AS c
              FROM documents),
            ranked AS (
              SELECT lang, row_number() OVER (PARTITION BY c ORDER BY n_chars DESC, doc_id) AS rn FROM canon)
            SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs FROM ranked WHERE rn = 1
            GROUP BY lang ORDER BY lang
        """,
        "fingerprint_dups": """
            WITH fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{Nd} ]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
              FROM documents),
            dups AS (
              SELECT fingerprint, count(*) AS n FROM fp GROUP BY fingerprint HAVING count(*) > 1)
            SELECT CAST(count(*) AS BIGINT) AS dup_groups,
                   CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS redundant_docs
            FROM dups
        """,
        "token_count_rollup": f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum({ws_tokens}) AS BIGINT) AS total_ws_tokens,
                   CAST(sum(CAST(ceil(length(text) / 4.0) AS INT)) AS BIGINT) AS total_bpe_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "quality_rollup": f"""
            WITH q AS (
              SELECT lang,
                     {ws_tokens} AS ws_tokens,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
                     greatest(length(text), 1) AS n,
                     ' ' || lower(text) || ' ' AS p,
                     length(text) AS chars
              FROM documents),
            q2 AS (
              SELECT lang, ws_tokens, digits, n, chars,
                     ((length(p) - length(replace(p, ' the ', ''))) / 5.0
                      + (length(p) - length(replace(p, ' and ', ''))) / 5.0
                      + (length(p) - length(replace(p, ' of ', ''))) / 4.0
                      + (length(p) - length(replace(p, ' to ', ''))) / 4.0) AS stop_hits
              FROM q),
            q3 AS (
              SELECT lang, ws_tokens,
                     round(CAST(digits AS DOUBLE) / n, 6) AS digit_ratio_r,
                     CAST(digits AS DOUBLE) / n AS digit_ratio,
                     least(stop_hits / greatest(ws_tokens, 1), 1.0) AS stop_share,
                     0.4 * least(stop_hits / greatest(ws_tokens, 1), 1.0)
                       + 0.3 * (1.0 - CAST(digits AS DOUBLE) / n)
                       + 0.3 * least(chars / 500.0, 1.0) AS score
              FROM q2)
            SELECT lang, CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
                   round(CAST(sum(CAST(round(score, 6) AS DECIMAL(28,6)))
                              / count(*) AS DOUBLE), 6) AS avg_quality,
                   round(CAST(sum(CAST(round(digit_ratio, 6) AS DECIMAL(28,6)))
                              / count(*) AS DOUBLE), 6) AS avg_digit_ratio,
                   CAST(sum(CASE WHEN round(score, 6) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality_docs
            FROM q3 GROUP BY lang ORDER BY lang
        """,
        "langid_confusion": f"""
            WITH v AS (
              SELECT lang, ' ' || lower(text) || ' ' AS p FROM documents),
            votes AS (
              SELECT lang,
                     {lang_votes}
              FROM v),
            best AS (
              SELECT *, {lang_best} AS best FROM votes)
            SELECT lang, {lang_case} AS lang_guess, CAST(count(*) AS BIGINT) AS docs
            FROM best GROUP BY 1, 2 ORDER BY lang, lang_guess
        """,
        "goal_regex_rollup": """
            SELECT lang, CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(CASE WHEN regexp_matches(text, '\\bgoal\\b') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_goal,
                   CAST(sum(CASE WHEN regexp_matches(text, '\\bmonitor\\b') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_monitor
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "latest_event_per_user": """
            WITH ranked AS (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM ranked WHERE rn = 1
        """,
        "event_sessions": """
            WITH g AS (
              SELECT user_id, event_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events),
            s AS (
              SELECT user_id, CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new_session FROM g)
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS sessions,
                   CAST(count(*) AS BIGINT) AS events
            FROM s GROUP BY user_id ORDER BY user_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            WITH revenue AS (
              SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue,
                     CAST(count(*) AS BIGINT) AS orders
              FROM orders GROUP BY o_custkey),
            ranked AS (
              SELECT c.c_custkey, c.c_name, r.revenue, r.orders,
                     row_number() OVER (ORDER BY r.revenue DESC, c.c_custkey) AS rank
              FROM revenue r JOIN customer c ON r.o_custkey = c.c_custkey)
            SELECT CAST(rank AS BIGINT) AS rank, c_custkey, c_name, revenue, orders
            FROM ranked WHERE rank <= 10
        """,
        "customers_without_orders": """
            SELECT n.n_name, CAST(count(*) AS BIGINT) AS customers_without_orders
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY n.n_name ORDER BY n.n_name
        """,
        "snapshot_diff": """
            WITH a AS (SELECT o_custkey, count(*) AS n_a FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_custkey),
                 b AS (SELECT o_custkey, count(*) AS n_b FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_custkey),
                 j AS (SELECT coalesce(a.o_custkey, b.o_custkey) AS k, n_a, n_b FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
            SELECT CASE WHEN n_a IS NULL THEN 'ADDED' WHEN n_b IS NULL THEN 'REMOVED'
                        WHEN n_a <> n_b THEN 'CHANGED' ELSE 'UNCHANGED' END AS status,
                   CAST(count(*) AS BIGINT) AS customers
            FROM j GROUP BY 1 ORDER BY status
        """,
        "tumbling_event_windows": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS events,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "revenue_by_nation": """
            SELECT n.n_name, round(sum(o.o_totalprice), 4) AS revenue,
                   CAST(count(*) AS BIGINT) AS orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name ORDER BY n.n_name
        """,
        "top_parts_per_brand": """
            WITH rev AS (
              SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
              FROM lineitem GROUP BY l_partkey),
            ranked AS (
              SELECT p.p_brand, p.p_partkey, p.p_name, r.revenue,
                     row_number() OVER (PARTITION BY p.p_brand
                                        ORDER BY r.revenue DESC, p.p_partkey) AS rank
              FROM rev r JOIN part p ON r.l_partkey = p.p_partkey)
            SELECT p_brand, p_partkey, p_name, revenue, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3 ORDER BY p_brand, rank
        """,
        "nation_setops": """
            WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
                 s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
            SELECT CAST((SELECT count(*) FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)) AS BIGINT) AS customers_only,
                   CAST((SELECT count(*) FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)) AS BIGINT) AS both
        """,
        "order_priority_returns": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS orders_with_returns
            FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "doclen_percentiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
                   CAST(count(*) AS BIGINT) AS docs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "keyword_presence": """
            SELECT lang, CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(CASE WHEN lower(text) LIKE '%data%' THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_keyword,
                   round(avg(CASE WHEN lower(text) LIKE '%data%' THEN 1 ELSE 0 END), 6) AS presence_rate
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "json_props_stats": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS events,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "minhash_lsh_pairs": """
            -- bound-flag oracle: identical texts have identical minhash
            -- signatures, so exact-dup pairs MUST be LSH candidates
            SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS exact_dup_pairs,
                   TRUE AS dup_pairs_covered
            FROM (SELECT count(*) AS c FROM documents GROUP BY text)
        """,
        "simhash_near_dups": """
            -- pigeonhole: hamming<=3 over 4 blocks implies a shared exact
            -- block, so bucketed candidates must equal brute force
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   TRUE AS bucketed_equals_bruteforce
            FROM documents
        """,
        "extract_reports": """
            -- determinism bound-flag: the Spark query digests the full
            -- run's rows against a fresh differently-partitioned 2%-sample
            -- re-extraction (sha256 row digests); the oracle pins
            -- cardinality, url/lang mapping, and the agreement flag TRUE
            SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, lang,
                   TRUE AS runs_agree
            FROM documents
        """,
        "streaming_extract_smoke": """
            -- bound-flag: the streaming sink's per-parser rollup must equal
            -- the batch fused path on the same staged 80-doc corpus, with
            -- total byte parity on the parity rows
            SELECT CAST(80 AS BIGINT) AS docs, 1.0 AS byte_match_rate,
                   TRUE AS matches_batch
        """,
        "near_dedup_clusters": r"""
            -- recursive-CTE connected components over the exact
            -- trigram-jaccard>=0.8 pair graph; representatives = min id
            WITH RECURSIVE
            w AS (
              SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS words
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(words) >= 3
                          THEN list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                              for i in range(1, len(words) - 1)])
                          ELSE [array_to_string(words, ' ')] END AS grams
              FROM w),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
                      / greatest(len(list_distinct(a.grams || b.grams)), 1) >= 0.8),
            edges AS (SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p),
            nodes AS (SELECT DISTINCT id_a AS id FROM edges),
            walk(id, comp) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.id_b, wk.comp FROM walk wk JOIN edges e ON e.id_a = wk.id),
            comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
            dropped AS (SELECT id FROM comp WHERE id <> comp)
            SELECT d.lang, CAST(count(*) AS BIGINT) AS kept_docs
            FROM documents d LEFT JOIN dropped ON d.doc_id = dropped.id
            WHERE dropped.id IS NULL
            GROUP BY d.lang ORDER BY d.lang
        """,
        "ann_lsh_topk": """
            -- bound-flag oracle: result structure + cross-implementation
            -- cosine recompute pinned TRUE; n_queries is data-derived
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   TRUE AS ranks_wellformed,
                   TRUE AS cosines_descending,
                   TRUE AS cosines_match_numpy
            FROM embeddings WHERE vec_id < 3
        """,
        "ann_ivf_topk": """
            -- bound-flag oracle: recall@5 vs exact brute force >= 0.6 at
            -- nprobe=4 of 10 centroids
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(5 AS BIGINT) AS k,
                   TRUE AS recall_ge_bound
            FROM embeddings WHERE vec_id < 5
        """,
        "gold_cost_summary": f"""
            WITH flat AS (
              SELECT * FROM read_parquet('{_ORACLE_MAT_DIR}/gold_tables.parquet/*.parquet')),
            per AS (
              SELECT url,
                     sum(CASE WHEN r > 0 THEN r ELSE 0 END) AS tr,
                     sum(CASE WHEN c > 0 THEN c ELSE 0 END) AS tc
              FROM flat GROUP BY url)
            SELECT CAST(count(*) AS BIGINT) AS report_count,
                   CAST(sum(CASE WHEN tr > 0 OR tc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS reports_with_costs,
                   round(sum(tr), 4) AS total_reported,
                   round(sum(tc), 4) AS total_computed,
                   (SELECT round(sum(CASE WHEN c > 0 AND conf > 0
                                          THEN c * least(conf, 1.0) ELSE 0 END), 4)
                    FROM flat) AS total_computed_weighted
            FROM per
        """,
        "extract_pattern_usage": f"""
            WITH flat AS (
              SELECT * FROM read_parquet('{_ORACLE_MAT_DIR}/gold_tables.parquet/*.parquet')
              WHERE pattern_id IS NOT NULL)
            SELECT pattern_id,
                   CAST(count(*) AS BIGINT) AS cnt,
                   round(sum(CASE WHEN r > 0 THEN r ELSE 0 END), 4) AS total_reported,
                   round(sum(CASE WHEN c > 0 THEN c ELSE 0 END), 4) AS total_computed,
                   round(sum(CASE WHEN c > 0 AND conf > 0
                                  THEN c * least(conf, 1.0) ELSE 0 END), 4) AS weighted_computed,
                   CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS with_reported_totals,
                   CAST(sum(CASE WHEN r > 0 AND c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS total_with_both,
                   CAST(sum(CASE WHEN r > 0 AND c > 0 AND abs(r - c) / c <= 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS within_1pct,
                   CAST(sum(CASE WHEN r > 0 AND c > 0 AND abs(r - c) / c <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS within_5pct,
                   round(sum(CASE WHEN r > 0 AND c > 0 THEN r - c ELSE 0 END), 4) AS sum_discrepancy,
                   round(CASE WHEN sum(CASE WHEN r > 0 AND c > 0 THEN 1 ELSE 0 END) > 0
                              THEN sum(CASE WHEN r > 0 AND c > 0 THEN r - c ELSE 0 END)
                                   / sum(CASE WHEN r > 0 AND c > 0 THEN 1 ELSE 0 END)
                              ELSE 0.0 END, 4) AS avg_discrepancy
            FROM flat GROUP BY pattern_id ORDER BY pattern_id
        """,
        "bmp_filter_impact": f"""
            WITH flat AS (
              SELECT * FROM read_parquet('{_ORACLE_MAT_DIR}/bmp_filter_per_doc.parquet/*.parquet'))
            SELECT lang,
                   CAST(sum(before) AS BIGINT) AS bmps_before,
                   CAST(sum(after) AS BIGINT) AS bmps_after,
                   round((sum(before) - sum(after))::DOUBLE
                         / greatest(sum(before), 1), 6) AS reduction_pct
            FROM flat GROUP BY lang ORDER BY lang
        """,
        "lm_perplexity": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     regexp_replace(lower(text), '\s+', ' ', 'g') AS t
              FROM documents),
            tr AS (SELECT t FROM t WHERE doc_id % 2 = 0 AND length(t) >= 3),
            gtr AS (
              SELECT substring(t, i, 3) AS gram
              FROM (SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM tr)),
            counts AS (SELECT gram, count(*) AS c FROM gtr GROUP BY gram),
            tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts),
            model AS (
              SELECT gram, ln((c + 1.0) / (total + vocab)) AS logp
              FROM counts, tot),
            held AS (
              SELECT doc_id, lang, t FROM t
              WHERE doc_id % 2 = 1 AND length(t) >= 3),
            hg AS (
              SELECT doc_id, lang, substring(t, i, 3) AS gram
              FROM (SELECT doc_id, lang, t,
                           unnest(generate_series(1, length(t) - 2)) AS i
                    FROM held)),
            sc AS (
              SELECT doc_id, lang,
                     avg(-coalesce(m.logp,
                         (SELECT ln(1.0 / (total + vocab)) FROM tot))) AS a
              FROM hg LEFT JOIN model m USING (gram)
              GROUP BY doc_id, lang)
            SELECT lang, CAST(count(*) AS BIGINT) AS docs,
                   round(CAST(sum(CAST(round(exp(a), 4) AS DECIMAL(18,4)))
                              / count(*) AS DOUBLE), 4) AS mean_perplexity
            FROM sc GROUP BY lang ORDER BY lang
        """,
        "winnow_overlap": """
            -- identical texts have identical winnowed fingerprint sets, so
            -- exact-dup pairs must surface at overlap 1.0
            SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS exact_dup_pairs,
                   TRUE AS dup_pairs_at_full_overlap
            FROM (SELECT count(*) AS c FROM documents GROUP BY text)
        """,
        "multimodal_decode": """
            -- per-kind counts are data-derived; images (BMP/PNG/GIF/JPEG
            -- rotation) and audio (WAV/MP3 alternate) decode or
            -- metadata-parse natively, video rows are real minimal MP4s
            -- except every 4th ((doc_id//3)%4==3), which is truncated and
            -- must surface as a per-row error; wellformed flags pinned TRUE
            SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   CAST(count(*) AS BIGINT) AS media,
                   CAST(sum(CASE WHEN doc_id % 3 = 2
                                  AND (doc_id // 3) % 4 = 3
                                 THEN 1 ELSE 0 END) AS BIGINT) AS decode_errors,
                   TRUE AS decoded_wellformed
            FROM documents WHERE doc_id < 200
            GROUP BY 1 ORDER BY 1
        """,
        "gold_report_costs": f"""
            WITH flat AS (
              SELECT * FROM read_parquet('{_ORACLE_MAT_DIR}/gold_tables.parquet/*.parquet'))
            SELECT url,
                   CAST(sum(CASE WHEN pattern_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tables,
                   round(sum(CASE WHEN r > 0 THEN r ELSE 0 END), 4) AS total_reported,
                   round(sum(CASE WHEN c > 0 THEN c ELSE 0 END), 4) AS total_computed,
                   CAST(sum(CASE WHEN r > 0 OR c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tables_with_costs,
                   round(round(sum(CASE WHEN r > 0 THEN r ELSE 0 END), 4)
                         - round(sum(CASE WHEN c > 0 THEN c ELSE 0 END), 4), 4) AS discrepancy
            FROM flat GROUP BY url ORDER BY url
        """,
        "gold_bmp_dedupe": rf"""
            WITH b AS (
              SELECT * FROM read_parquet('{_ORACLE_MAT_DIR}/bmps_flat.parquet/*.parquet')),
            c0 AS (
              SELECT name, category, confidence,
                     regexp_replace(regexp_replace(regexp_replace(
                       trim(lower(name)), '\s+', ' ', 'g'), '[,:;]+$', ''),
                       '\((feet|ft)\)', '(ft)', 'g') AS canon0
              FROM b),
            c1 AS (
              SELECT *, CASE WHEN regexp_full_match(canon0, '[a-z0-9 \-()\/]{{4,}}')
                                  AND canon0 LIKE '%s'
                                  AND length(canon0) > 4
                                  AND length(canon0) - 1 > 3
                             THEN substring(canon0, 1, length(canon0) - 1)
                             ELSE canon0 END AS canon
              FROM c0),
            r AS (
              SELECT name, category, confidence, canon,
                     row_number() OVER (PARTITION BY canon
                                        ORDER BY confidence DESC NULLS LAST, name) AS rn
              FROM c1 WHERE canon <> '')
            SELECT name, category, round(confidence, 6) AS confidence, canon
            FROM r WHERE rn = 1 ORDER BY canon
        """,
        "ngram_jaccard_allpairs": r"""
            WITH w AS (
              SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS words
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(words) >= 3
                          THEN list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                                              for i in range(1, len(words) - 1)])
                          ELSE [array_to_string(words, ' ')] END AS grams
              FROM w),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.grams, b.grams))::DOUBLE
                       / greatest(len(list_distinct(a.grams || b.grams)), 1) AS jac
              FROM g a JOIN g b ON a.doc_id < b.doc_id)
            SELECT CAST(count(*) AS BIGINT) AS pairs_ge_05,
                   round(coalesce(avg(round(jac, 6)), 0.0), 6) AS avg_j
            FROM pairs WHERE jac >= 0.5
        """,
        "embedding_near_dups": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
                 pairs AS (
                   SELECT round(list_cosine_similarity(a.vec, b.vec), 6) AS cosine
                   FROM v a JOIN v b ON a.vec_id < b.vec_id)
            SELECT CAST(count(*) AS BIGINT) AS near_dup_pairs,
                   round(coalesce(avg(cosine), 0.0), 6) AS avg_cosine
            FROM pairs WHERE cosine >= 0.95
        """,
        "ann_topk_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings),
                 scored AS (
                   SELECT query_id, neighbor_id, list_cosine_similarity(cvec, qvec) AS cos
                   FROM c, q WHERE neighbor_id <> query_id),
                 ranked AS (
                   SELECT query_id, neighbor_id, cos,
                          row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
                   FROM scored)
            SELECT query_id, neighbor_id, round(cos, 4) AS cosine, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "stratified_mixture": """
            WITH t AS (SELECT lang, count(*) AS total FROM documents GROUP BY lang),
                 m AS (SELECT * FROM (VALUES ('en', 0.5), ('es', 1.0), ('fr', 1.0),
                                             ('de', 1.0), ('zh', 0.4)) AS v(lang, target))
            SELECT t.lang,
                   CAST(t.total AS BIGINT) AS total,
                   CAST(ceil(m.target * t.total) AS BIGINT) AS kept,
                   round(ceil(m.target * t.total) / t.total, 6) AS achieved,
                   m.target AS target
            FROM t JOIN m ON t.lang = m.lang ORDER BY t.lang
        """,
        "sketch_cardinality": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
                   TRUE AS within_bound
            FROM lineitem GROUP BY 1 ORDER BY 1
        """,
        "sketch_quantiles": """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   TRUE AS p50_within_1pct, TRUE AS p90_within_1pct
            FROM lineitem GROUP BY 1 ORDER BY 1
        """,
        "asof_last_order": """
            WITH cand AS (
              SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                                        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e JOIN orders o
                ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
            SELECT event_id, user_id, o_orderkey AS last_orderkey,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(ts AS DATE)) AS INT) AS days_since
            FROM cand WHERE rn = 1
        """,
        "order_status_unpivot": """
            WITH p AS (
              SELECT CAST(year(o_orderdate) AS INT) AS year,
                     CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS "F",
                     CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS "O",
                     CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS "P"
              FROM orders GROUP BY 1)
            SELECT year, status, orders
            FROM p UNPIVOT (orders FOR status IN ("F", "O", "P"))
            ORDER BY year, status
        """,
        "revenue_rollup": """
            SELECT coalesce(n_name, 'ALL') AS n_name,
                   CAST(coalesce(yr, 0) AS BIGINT) AS yr,
                   round(sum(o_totalprice), 4) AS revenue,
                   CAST(count(*) AS BIGINT) AS orders,
                   CAST(grouping(n_name, yr) AS BIGINT) AS gid
            FROM (SELECT n.n_name, year(o.o_orderdate) AS yr, o.o_totalprice
                  FROM orders o
                  JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey)
            GROUP BY ROLLUP (n_name, yr)
            ORDER BY gid, n_name, yr
        """,
        "cumulative_monthly_revenue": """
            WITH monthly AS (
              SELECT o_orderpriority AS priority,
                     strftime(o_orderdate, '%Y-%m') AS month,
                     sum(o_totalprice) AS rev
              FROM orders GROUP BY 1, 2)
            SELECT priority, month,
                   round(rev, 4) AS month_revenue,
                   round(sum(rev) OVER (PARTITION BY priority ORDER BY month
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_revenue
            FROM monthly ORDER BY priority, month
        """,
        "pending_orders_by_priority": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS orders_with_returns
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "promo_revenue_share": """
            SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                          THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
                         / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_share_pct,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        """,
        "part_size_bands": """
            SELECT band, CAST(count(*) AS BIGINT) AS parts,
                   round(avg(p_retailprice), 4) AS avg_price
            FROM part
            JOIN (VALUES ('small', 1, 10), ('medium', 11, 25), ('large', 26, 50)) AS b(band, lo, hi)
              ON p_size BETWEEN lo AND hi
            GROUP BY band ORDER BY band
        """,
        "embedding_norm_stats": """
            SELECT label, CAST(count(*) AS BIGINT) AS vecs,
                   round(sum(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sum_norm,
                   CAST(min(length(embedding)) AS BIGINT) AS min_dim,
                   CAST(max(length(embedding)) AS BIGINT) AS max_dim
            FROM embeddings GROUP BY label ORDER BY label
        """,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver registry (<= 50 entries). Round 5 swaps the five
    full-SQL-oracle crawl-ops queries (_PROMOTED_R5) into the registry in
    place of five redundant TPC-H entries (_PARKED_R5) — REGISTRY.md."""
    live = {k: v for k, v in _live_queries().items() if k not in _PARKED_R5}
    dormant = _dormant_queries()
    live.update({k: dormant[k] for k in _PROMOTED_R5})
    return live


def oracle_sql() -> dict[str, str]:
    live = {k: v for k, v in _live_oracle_sql().items()
            if k not in _PARKED_R5}
    dormant = _dormant_oracle_sql()
    live.update({k: dormant[k] for k in _PROMOTED_R5 if k in dormant})
    return live


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dormant pool = everything not holding a driver slot; the parked
    TPC-H queries stay wired and oracle-checked here (REGISTRY.md)."""
    out = {k: v for k, v in _dormant_queries().items()
           if k not in _PROMOTED_R5}
    base = _live_queries()
    out.update({k: base[k] for k in _PARKED_R5})
    return out


def extra_oracle_sql() -> dict[str, str]:
    out = {k: v for k, v in _dormant_oracle_sql().items()
           if k not in _PROMOTED_R5}
    base = _live_oracle_sql()
    out.update({k: base[k] for k in _PARKED_R5 if k in base})
    return out

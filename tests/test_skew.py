"""Skew handling evidence: the salted repartition must spread the 50-100x
document tail so no partition holds a disproportionate byte share — the
property that keeps a 1000-executor stage from stalling on one task."""

import pandas as pd
import pyspark.sql.functions as F

from pdfextractor_spark.corpus import generate_pages
from pdfextractor_spark.pipeline.bronze import extract_bronze
from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA


def _partition_bytes(df):
    """(doc_count, bytes) of ``raw_text`` in each partition of ``df``."""
    return (df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.coalesce(F.sum(F.length("raw_text")), F.lit(0)).alias("bytes"))
            .collect())


def test_salted_repartition_spreads_skew_tail(spark):
    # 808 docs -> 8 skew docs (i % 101 == 7), each 50-100x median size
    pages = spark.createDataFrame(generate_pages(808), schema=PAGES_SCHEMA)
    n_parts = 16
    bronze = extract_bronze(pages, num_partitions=n_parts)
    lin = _partition_bytes(bronze)
    bytes_per = sorted(r["bytes"] for r in lin)
    assert len(bytes_per) == n_parts
    total = sum(bytes_per)
    # skew docs are ~60% of total corpus bytes; with xxhash64(url) salting
    # they spread across partitions: the heaviest partition must stay well
    # under the all-in-one-partition failure mode
    assert max(bytes_per) < 0.35 * total, bytes_per
    # and every partition got a meaningful share of documents
    docs_per = [r["doc_count"] for r in lin]
    assert min(docs_per) >= (808 // n_parts) * 0.5


def test_arrow_batch_autosizes_for_huge_docs(spark):
    """Multi-MB documents must shrink the Arrow batch row count at runtime:
    1024 rows x 10 MB would be a ~10 GB in-flight batch (the executor-OOM
    mode on a mixed 100 TB corpus). Spark's ``maxBytesPerBatch`` (64 MiB,
    set in session.py) caps each batch by its real bytes; the job must
    complete at DEFAULT settings."""
    from pdfextractor_spark.pipeline.fused import extract_fused

    # ~10 MB html payloads: distinct punctuation-free paragraphs (one
    # sentence part per block line so structuring stays linear; distinct so
    # the content extractor's duplicate-block dedupe keeps them all)
    body = "".join(
        f"<p>block {k} " + ("filler words for arrow batch sizing " * 33) + "</p>"
        for k in range(8200)
    )  # ~10.5 MB
    rows = [
        {"url": f"https://example.org/huge-{i}", "warc_ts": None,
         "html": ("<html><body>" + body + "</body></html>").encode(),
         "text": None, "lang": "en"}
        for i in range(6)
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    silver = extract_fused(pages, num_partitions=4)
    out = silver.select("url", "error", "n_chars").collect()
    assert len(out) == 6 and all(r["error"] is None for r in out)
    assert all(r["n_chars"] > 5_000_000 for r in out)

    # observed batches: 10 x ~10 MB rows in ONE partition (~100 MB, more
    # than one 64 MiB batch) reach the UDF in batches of at most 64 MiB
    # plus the row that crossed the cap
    row_bytes = 10 << 20

    def batch_bytes(batches):
        for pdf in batches:
            yield pd.DataFrame({"rows": [len(pdf)],
                                "bytes": [int(pdf["s"].str.len().sum())]})

    big = spark.range(10, numPartitions=1).select(
        F.expr(f"repeat('x', {row_bytes})").alias("s"))
    seen = big.mapInPandas(batch_bytes, "rows long, bytes long").collect()
    assert sum(r["rows"] for r in seen) == 10 and len(seen) > 1, seen
    assert all(r["bytes"] <= (64 << 20) + row_bytes for r in seen), seen


def test_stage_construction_leaves_session_confs_alone(spark):
    """Building a stage is lazy and must not rewrite session-wide settings:
    Spark reads them when a job RUNS, so a stage that set one at build time
    would decide it for every later Arrow operation in the session."""
    from pdfextractor_spark.ops.multimodal import MEDIA_SCHEMA, decode_media, sample_frames
    from pdfextractor_spark.pipeline.fused import extract_fused
    from pdfextractor_spark.pipeline.silver import extract_silver

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        pages = spark.createDataFrame(generate_pages(8), schema=PAGES_SCHEMA)
        media = spark.createDataFrame(
            [(1, "image", bytearray(b"P5 2 2 255\n\x00\x01\x02\x03"), "image/x-portable-graymap")],
            schema=MEDIA_SCHEMA)
        extract_fused(pages, num_partitions=2)
        extract_silver(extract_bronze(pages, num_partitions=2))
        decode_media(media, num_partitions=2)
        sample_frames(media, num_partitions=2)
        assert spark.conf.get(key) == "512"
    finally:
        spark.conf.set(key, before)


def test_salted_partition_count(spark):
    from pdfextractor_spark.session import salted

    df = spark.range(100).withColumnRenamed("id", "k")
    assert salted(df, "k").rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    assert salted(df, "k", num_partitions=3).rdd.getNumPartitions() == 3


def test_map_rows_one_to_many_nulls_and_empty_batches(spark):
    """A batch whose every row maps to no output must still reach Arrow as
    a typed frame: a frame of empty lists is float64, which Arrow cannot
    convert to array or struct columns. A key a row leaves out is null."""
    from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                                   StructField, StructType)

    from pdfextractor_spark.session import map_rows

    schema = StructType([
        StructField("k", LongType()),
        StructField("tags", ArrayType(StringType())),
        StructField("span", StructType([StructField("lo", IntegerType()),
                                        StructField("hi", IntegerType())])),
        StructField("note", StringType()),
    ])

    def fan(k, n):
        return [{"k": k, "tags": [f"t{i}"], "span": {"lo": i, "hi": i + 1}} for i in range(n)]

    # two input partitions; every row of the first fans out to nothing
    rdd = spark.sparkContext.parallelize([(1, 0), (2, 0), (3, 2), (4, 1)], 2)
    df = spark.createDataFrame(rdd, "k long, n long")
    out = map_rows(df, fan, schema)
    assert out.schema == schema
    got = sorted((r["k"], r["tags"], tuple(r["span"]), r["note"]) for r in out.collect())
    assert got == [(3, ["t0"], (0, 1), None), (3, ["t1"], (1, 2), None),
                   (4, ["t0"], (0, 1), None)]
    assert map_rows(df, lambda k, n: [], schema).collect() == []


def test_unsalted_input_order_would_clump(spark):
    """Control: partitioning by input order (no salt) leaves the skew tail
    clumped when skewed docs are adjacent — demonstrating why the pipeline
    repartitions by url hash rather than trusting source order."""
    rows = generate_pages(808)
    # adversarial source order: all skew docs first (mirrors a crawl dump
    # where one host's huge pages arrive together)
    rows.sort(key=lambda r: -len(r["html"] or b""))
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    n_parts = 16
    # coalesce-style split over input order
    by_order = pages.rdd.map(lambda r: len(r["html"] or b"")).glom().map(
        lambda p: sum(p)
    ).collect()
    salted = extract_bronze(pages, num_partitions=n_parts)
    lin = _partition_bytes(salted)
    salted_max_share = max(r["bytes"] for r in lin) / max(sum(r["bytes"] for r in lin), 1)
    order_max_share = max(by_order) / max(sum(by_order), 1)
    # salting must beat input-order partitioning on the adversarial layout
    assert salted_max_share < order_max_share

"""Checkpoint storage for stage paths (Iceberg table vs parquet directory).

Without an Iceberg runtime jar on the classpath these tests pin (1) catalog
detection from session conf, (2) the stable table identifier of a path,
and (3) that a configured catalog alone routes a checkpoint to Iceberg.
"""

from __future__ import annotations

import os

import pytest

from pdfextractor_spark.pipeline.tableio import (
    iceberg_catalog,
    read_checkpoint,
    table_identifier,
    write_checkpoint,
)


def test_iceberg_catalog_detected_from_conf(spark, monkeypatch):
    from pdfextractor_spark.pipeline import tableio

    monkeypatch.delenv("SPARK_GRAFT_ICEBERG_CATALOG", raising=False)
    tableio._CATALOG_CACHE.clear()
    assert iceberg_catalog(spark) is None
    spark.conf.set("spark.sql.catalog.icecat", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.icecat.type", "hadoop")  # option key must not match
    try:
        # detection is cached per session (a run must not switch backends
        # mid-pipeline): the stale None persists until the cache is cleared
        assert iceberg_catalog(spark) is None
        tableio._CATALOG_CACHE.clear()
        assert iceberg_catalog(spark) == "icecat"
    finally:
        spark.conf.unset("spark.sql.catalog.icecat")
        spark.conf.unset("spark.sql.catalog.icecat.type")
        tableio._CATALOG_CACHE.clear()
    assert iceberg_catalog(spark) is None
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_CATALOG", "forced")
    assert iceberg_catalog(spark) == "forced"


def test_table_identifier_is_sanitized_and_collision_free():
    a = table_identifier("cat", "/tmp/run-1/bronze")
    b = table_identifier("cat", "/tmp/run-2/bronze")
    assert a.startswith("cat.graft.tmp_run_1_bronze_")
    assert a != b
    # sanitize+lowercase folds these together; the path-hash suffix must not
    assert table_identifier("cat", "/tmp/run_1/bronze") != a
    assert table_identifier("cat", "/tmp/RUN-1/bronze") != a
    # same path -> same identifier (resume-stable)
    assert table_identifier("cat", "/tmp/run-1/bronze") == a
    assert table_identifier("cat", "///").startswith("cat.graft.stage_")


def test_configured_catalog_routes_checkpoints_to_iceberg(spark, tmp_path, monkeypatch):
    """An Iceberg catalog on the session is the whole rule: with no runtime
    jar here the write must fail on the catalog, not land as parquet."""
    from pdfextractor_spark.pipeline import tableio

    monkeypatch.delenv("SPARK_GRAFT_ICEBERG_CATALOG", raising=False)
    path = str(tmp_path / "stage")
    spark.conf.set("spark.sql.catalog.icecat", "org.apache.iceberg.spark.SparkCatalog")
    tableio._CATALOG_CACHE.clear()
    try:
        with pytest.raises(Exception,
                           match="Cannot find catalog plugin class for catalog 'icecat'"):
            write_checkpoint(spark.range(5), path)
    finally:
        spark.conf.unset("spark.sql.catalog.icecat")
        tableio._CATALOG_CACHE.clear()
    assert not os.path.exists(path)


ICEBERG_JAR_AVAILABLE = any(
    "iceberg-spark-runtime" in j
    for j in os.listdir(
        os.path.join(os.path.dirname(os.path.abspath(__import__("pyspark").__file__)), "jars")
    )
)


@pytest.mark.skipif(
    not ICEBERG_JAR_AVAILABLE,
    reason="no iceberg-spark-runtime jar on the pyspark classpath; the "
    "catalog routing above is the tested behavior here. On a "
    "cluster with the jar on the classpath this test pins the REAL catalog "
    "path: hadoop-catalog snapshot commit + time-travel read of a checkpoint.",
)
def test_iceberg_hadoop_catalog_roundtrip(tmp_path):
    """Real Iceberg round-trip (runs only where the runtime jar exists):
    write_checkpoint must produce a snapshot in a local hadoop catalog,
    read_checkpoint must read it back, and a second write must produce a
    second snapshot readable via VERSION AS OF (resume/lineage contract,
    reference backend/routes/process.js:119-132)."""
    from pyspark.sql import SparkSession

    wh = str(tmp_path / "warehouse")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("iceberg-roundtrip")
        .config("spark.sql.catalog.icecat", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.icecat.type", "hadoop")
        .config("spark.sql.catalog.icecat.warehouse", wh)
        .getOrCreate()
    )
    try:
        from pdfextractor_spark.pipeline import tableio

        tableio._CATALOG_CACHE.clear()
        df = spark.range(5).withColumnRenamed("id", "doc_id")
        path = str(tmp_path / "run" / "bronze")
        write_checkpoint(df, path)
        # catalog detected -> snapshot commit, not parquet
        assert not os.path.exists(path)
        assert read_checkpoint(spark, path).count() == 5
        ident = table_identifier("icecat", path)
        snaps = spark.sql(f"SELECT snapshot_id FROM {ident}.snapshots").collect()
        assert len(snaps) >= 1
        write_checkpoint(df, path, mode="append")
        v0 = spark.read.option("snapshot-id", snaps[0][0]).table(ident)
        assert v0.count() == 5  # time-travel still sees the first snapshot
        assert read_checkpoint(spark, path).count() == 10
    finally:
        spark.stop()

"""Where a checkpointed stage lives: an Iceberg table or a parquet directory.

The north-rule target is an Iceberg lakehouse: every medallion stage commits
an atomic table snapshot so a resumed job sees either the whole stage or none
of it, and concurrent readers never observe a half-written directory. One
rule, decided from the session alone, places every checkpoint path:

* When the session has an Iceberg catalog (``spark.sql.catalog.<name> =
  org.apache.iceberg.spark.SparkCatalog`` in its conf, or the catalog named
  by ``SPARK_GRAFT_ICEBERG_CATALOG``), the path is the table
  :func:`table_identifier` names. Stage writes go through the
  DataFrameWriterV2 snapshot path: ``df.writeTo(cat.ns.table)
  .using("iceberg").createOrReplace()`` for a fresh stage and ``.append()``
  for a resume delta; reads come back via ``spark.table``.
* Otherwise the path is a parquet directory (atomicity degraded to the
  _SUCCESS-marker protocol), probed and dropped through the path's Hadoop
  ``FileSystem``, so a ``file://`` or object-store URI works like a local
  path. This is what every test in this repo exercises.

Every function here takes the stage path; none hands out a storage handle.

Ref semantics: the reference persists per-chunk JSON state files
(backend/scripts/chunked_mdeq_extraction.js:107-166); an Iceberg snapshot
per stage is the table-native equivalent of its "whole chunk or nothing"
checkpoint contract.
"""

from __future__ import annotations

import hashlib
import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "iceberg_catalog",
    "table_identifier",
    "write_checkpoint",
    "read_checkpoint",
    "checkpoint_exists",
    "drop_checkpoint",
]

_NAMESPACE = "graft"
_SANITIZE = re.compile(r"[^A-Za-z0-9_]+")
_CATALOG_PREFIX = "spark.sql.catalog."

# one pipeline run resolves ~8 checkpoints, so the conf scan is cached per
# live session. Weak keys: the entry dies with the session object, so a
# recycled id can never serve a stale answer.
_CATALOG_CACHE: weakref.WeakKeyDictionary[SparkSession, str | None] = \
    weakref.WeakKeyDictionary()


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None.

    ``SPARK_GRAFT_ICEBERG_CATALOG`` wins when set; otherwise scan the session
    conf (``spark.conf.getAll`` covers both spark-submit --conf and
    runtime-set keys, and runs no Spark job) for ``spark.sql.catalog.<name>``
    entries whose implementation class mentions Iceberg. The scan result is
    cached per session object; runtime ``spark.conf.set`` changes after the
    first call are deliberately not re-detected mid-run (a half-switched
    pipeline would checkpoint stages in two different backends).
    """
    forced = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    if forced:
        return forced.strip() or None
    if spark not in _CATALOG_CACHE:
        names = (key[len(_CATALOG_PREFIX):] for key, impl in sorted(spark.conf.getAll.items())
                 if key.startswith(_CATALOG_PREFIX) and "iceberg" in impl.lower())
        # a per-catalog option (…<name>.type etc.) is not the impl
        _CATALOG_CACHE[spark] = next((name for name in names if "." not in name), None)
    return _CATALOG_CACHE[spark]


def table_identifier(catalog: str, path: str) -> str:
    """Deterministic ``catalog.namespace.table`` identifier for a stage path.

    The sanitized full path keeps the name readable; sanitize+lowercase is
    not injective (``run-1`` and ``run_1`` fold together), so a short hash
    of the raw path is appended — distinct output dirs therefore cannot
    collide on one catalog table, and the same path always maps to the
    same identifier (resume-stable).
    """
    name = _SANITIZE.sub("_", path.strip("/")).strip("_").lower() or "stage"
    digest = hashlib.sha1(path.encode("utf-8")).hexdigest()[:8]
    return f"{catalog}.{_NAMESPACE}.{name[:96]}_{digest}"


def _table(spark: SparkSession, path: str) -> str | None:
    """The Iceberg table holding the checkpoint at ``path``, or None when it
    is a parquet directory."""
    cat = iceberg_catalog(spark)
    return None if cat is None else table_identifier(cat, path)


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` serving ``path``, and the path as a Hadoop
    ``Path``."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def write_checkpoint(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the stage checkpoint at ``path``.

    ``mode`` is ``overwrite`` (fresh stage) or ``append`` (resume delta; on
    Iceberg this is a second snapshot on the same table, so time travel
    across resume boundaries comes for free).
    """
    spark = df.sparkSession
    tbl = _table(spark, path)
    if tbl is None:
        df.write.mode(mode).parquet(path)
        return
    try:  # namespaces are cheap to ensure and required by createOrReplace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {tbl.rsplit('.', 1)[0]}")
    except Exception:
        pass
    writer = df.writeTo(tbl).using("iceberg")
    if mode == "append":
        # create-if-absent decided by an explicit existence probe: catching
        # the append error instead would turn ANY append failure (schema
        # drift, snapshot conflict) into a createOrReplace that silently
        # discards the prior checkpoint and keeps only the delta
        if spark.catalog.tableExists(tbl):
            writer.append()
        else:
            writer.create()
    else:
        writer.createOrReplace()


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Load the checkpoint :func:`write_checkpoint` wrote at ``path``."""
    tbl = _table(spark, path)
    return spark.read.parquet(path) if tbl is None else spark.table(tbl)


def checkpoint_exists(spark: SparkSession, path: str) -> bool:
    """Whether a complete checkpoint exists at ``path``: a ``_SUCCESS``
    marker or a top-level ``*.parquet`` file counts for a directory."""
    tbl = _table(spark, path)
    if tbl is not None:
        return spark.catalog.tableExists(tbl)
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    if fs.exists(hpath.suffix("/_SUCCESS")):
        return True
    return any(st.getPath().getName().endswith(".parquet") for st in fs.listStatus(hpath))


def drop_checkpoint(spark: SparkSession, path: str) -> None:
    """Remove the checkpoint at ``path``; a missing one is not an error."""
    tbl = _table(spark, path)
    if tbl is not None:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    else:
        fs, hpath = _fs(spark, path)
        fs.delete(hpath, True)

"""Table IO seam: Iceberg when available, plain parquet otherwise.

The production target is an Iceberg table of web pages (driver input_hint);
this sandbox has no Iceberg runtime jars, so every read/write goes through
this seam and transparently falls back to parquet directories. Index tables
are persisted as three tables under one root: ``postings``, ``doc_stats``,
``corpus_stats``— replacing the reference's bespoke binary snapshot
(``/root/reference/src/algorithms/trigram/trigram_index_engine.cpp:95-155``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.util import write_clustered

__all__ = ["iceberg_available", "read_table", "write_table", "save_index", "load_index"]


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str, fmt: str | None = None) -> DataFrame:
    """Read an Iceberg table (catalog name or path) or a parquet directory."""
    if fmt == "iceberg" or (fmt is None and iceberg_available(spark) and "/" not in location):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_table(df: DataFrame, location: str, fmt: str | None = None, mode: str = "overwrite") -> None:
    if fmt == "iceberg":
        df.writeTo(location).createOrReplace()
        return
    df.write.mode(mode).parquet(location)


def save_index(index: IndexTables, root: str) -> None:
    """Persist the logical index as three tables under ``root``.

    ``postings`` is written by :func:`write_clustered`: globally sorted by
    term in small row groups, so the footers' term ranges are disjoint and a
    pushed ``term IN (...)`` filter reads only the row groups that hold the
    queried terms.
    """
    write_clustered(index.postings, "term", f"{root}/postings")
    index.doc_stats.write.mode("overwrite").parquet(f"{root}/doc_stats")
    spark = index.postings.sparkSession
    spark.createDataFrame(
        [(index.n_docs, index.avgdl)], "n_docs LONG, avgdl DOUBLE"
    ).write.mode("overwrite").parquet(f"{root}/corpus_stats")


def load_index(spark: SparkSession, root: str) -> IndexTables:
    stats = spark.read.parquet(f"{root}/corpus_stats").collect()[0]
    return IndexTables(
        postings=spark.read.parquet(f"{root}/postings"),
        doc_stats=spark.read.parquet(f"{root}/doc_stats"),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
    )

"""Table IO seam: Iceberg when available, plain parquet otherwise.

The production target is an Iceberg table of web pages (driver input_hint);
this sandbox has no Iceberg runtime jars, so every read/write goes through
this seam and transparently falls back to parquet directories. The
index's on-disk form is the compressed index
(:func:`~fulltextsearch_spark.operators.compressed_index.save_compressed_index`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["iceberg_available", "read_table", "write_table"]


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

"""Shared operator plumbing.

``spread_for_python_kernel`` fixes the small-input parallelism cliff for
operators whose hot path is an Arrow/Pandas UDF: Spark sizes parquet scan
splits by bytes (``spark.sql.files.maxPartitionBytes``), so a table far
smaller than one split arrives as a single partition and the Python kernel
runs on ONE core no matter how many the session has. At real corpus sizes
the scan produces thousands of splits and this helper is a no-op (it never
*reduces* partitioning and never touches a DataFrame that is already at
least as parallel as the session default) — it only round-robins tiny
inputs so local/bench runs exercise every core, matching what a real
multi-split scan gives for free.

``write_clustered`` is the one writer for term-keyed index tables: a global
range sort on the key, written in small row groups, so the footers' min/max
statistics split the key space into sorted, disjoint ranges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

__all__ = ["CLUSTERED_ROW_GROUP_BYTES", "spread_for_python_kernel", "write_clustered"]

# Row-group byte target of term-clustered index tables. A point lookup reads
# one row group, so smaller is cheaper to fetch; each row group also adds
# ~2.3 KB of footer and page index, so much smaller targets grow the index.
# At 512 KB a 20k-doc compressed index splits into ~17 row groups.
CLUSTERED_ROW_GROUP_BYTES = 512 * 1024


def spread_for_python_kernel(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session default parallelism iff it is
    currently narrower — a no-op shuffle-guard for cheap-to-move inputs
    feeding expensive per-row Python kernels."""
    spark = df.sparkSession
    target = min_partitions or max(spark.sparkContext.defaultParallelism, 1)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning-only failure
        return df
    if current >= target:
        return df
    return df.repartition(target)


def write_clustered(
    df: DataFrame, key_col: str, path: str, first_doc: Column | None = None
) -> None:
    """Overwrite ``path`` with ``df`` globally ordered by ``key_col``, in
    row groups of ~:data:`CLUSTERED_ROW_GROUP_BYTES`.

    ``orderBy`` range-partitions, so file ``i`` holds keys below file
    ``i+1``'s and, within a file, row groups follow key order: across the
    whole table the footers' ``key_col`` [min, max] ranges are sorted and
    disjoint (adjacent ranges may share the one key whose rows straddle
    their boundary). A point lookup then needs the one row group whose
    range holds the key, which is what ``QueryServer.search_local``'s
    footer pruning and the Spark scan's pushed ``IN`` filter rely on.

    ``first_doc`` (the row's first doc id) is a secondary sort key for
    tables where a key has several rows (doc-range-sharded head terms,
    per-doc positional rows). No reader needs that order, since each such
    row is self-contained; it makes the rows of one key come out in doc
    order on every save instead of in shuffle-arrival order."""
    order = [key_col] if first_doc is None else [key_col, first_doc]
    df.orderBy(*order).write.mode("overwrite").option(
        "parquet.block.size", CLUSTERED_ROW_GROUP_BYTES
    ).parquet(path)


def record_footprint(root: str, tables: dict[str, str]) -> dict:
    """Index size-on-disk metric: sum bytes per saved table, append ONE line
    to ``{root}/_lineage.jsonl``.

    The Spark analogue of the reference's footprint API
    (``/root/reference/src/fts_engine.hpp:50-60``,
    ``inverted_index_engine.cpp:164-188`` — it reports index
    size/capacity from its in-RAM structures; here the durable truth is
    parquet bytes on disk). Local/NFS paths only — non-file URI schemes are
    skipped (object stores report size through their own metadata APIs).
    """
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    rec: dict = {"stage": "footprint"}
    for name, path in tables.items():
        if "://" in path and not path.startswith("file://"):
            continue
        p = path.removeprefix("file://")
        total = 0
        for dirpath, _, files in os.walk(p):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:  # file vanished mid-walk
                    pass
        rec[f"{name}_bytes"] = total
    if "://" not in root or root.startswith("file://"):
        try:
            with open(
                os.path.join(root.removeprefix("file://"), "_lineage.jsonl"), "a"
            ) as f:
                f.write(json.dumps(rec) + "\n")
        except OSError:  # pragma: no cover - read-only store
            pass
    return rec

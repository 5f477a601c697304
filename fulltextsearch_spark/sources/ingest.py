"""Corpus ingest: dense deterministic doc_id assignment + format ingest.

Replaces the reference's ingest scripts:

* ``scripts/parquet2parquet.py:8-56`` assigns a global sequential uint32 id
  (0-based) over sorted files. Here
  :func:`assign_dense_doc_ids` does the same deterministically over a sort
  key (default ``url``) **without a single-partition global sort**: range
  repartition + per-partition counts -> cumulative offsets -> partition-local
  sequence. ``monotonically_increasing_id()`` is deliberately not used (not
  dense, partition-layout-dependent).
* ``scripts/csv2parquet.py:16-33`` selects (text, id) from CSV and writes
  parquet; :func:`csv_to_corpus` is the DataFrame equivalent.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

__all__ = [
    "assign_dense_doc_ids",
    "assign_file_order_doc_ids",
    "csv_to_corpus",
]


def assign_file_order_doc_ids(spark, input_path: str, columns: list[str] | None = None):
    """Dense deterministic ``doc_id`` = position in the sorted-file sequence,
    with ZERO shuffle.

    This is the reference's own ingest semantic — ``parquet2parquet.py:8-56``
    assigns a sequential id over *sorted files* — done scalably: parquet
    footer row counts give per-file offsets (a metadata-only driver pass, the
    same listing the scan planner performs) and the scan-time
    ``_metadata.row_index`` column supplies the within-file position, so
    ``doc_id = file_offset + row_index`` is a narrow expression. The tiny
    (file, offset) table broadcast-joins in. Ids are stable under resume and
    under any executor count.

    Use :func:`assign_dense_doc_ids` instead when ids must follow a *key*
    order (e.g. url) rather than the canonical file layout — that path costs
    one full shuffle.
    """
    import pyarrow.parquet as pq  # noqa: PLC0415

    import re  # noqa: PLC0415

    def _norm(p: str) -> str:
        # inputFiles says file:///x, _metadata.file_path says file:/x —
        # normalize both to a bare /x path (join on mismatch silently drops
        # every row; pinned by tests/test_sources.py)
        return re.sub(r"^file:/+", "/", p)

    files = sorted(spark.read.parquet(input_path).inputFiles())
    rows_off = []
    acc = 0
    for f in files:
        local = _norm(f)
        rows_off.append((local, acc))
        acc += pq.ParquetFile(local).metadata.num_rows
    df = spark.read.parquet(input_path)
    cols = columns or df.columns
    off_df = spark.createDataFrame(rows_off, ["_fp", "_off"])
    return (
        df.select(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias("_fp"),
            F.col("_metadata.row_index").alias("_ri"),
            *cols,
        )
        .join(F.broadcast(off_df), "_fp")
        .select((F.col("_off") + F.col("_ri")).alias("doc_id"), *cols)
    )


def _murmur3_long(x: int, seed: int = 42) -> int:
    """Spark's ``F.hash()`` for a LongType column (Murmur3 x86_32, signed).

    Lets the driver predict ``pmod(hash(_pk), P)`` so each id-assignment
    bucket can be steered to its own shuffle partition (see below)."""

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & 0xFFFFFFFF

    c1, c2 = 0xCC9E2D51, 0x1B873593
    h1 = seed & 0xFFFFFFFF
    x &= 0xFFFFFFFFFFFFFFFF
    for k1 in (x & 0xFFFFFFFF, (x >> 32) & 0xFFFFFFFF):
        k1 = rotl((k1 * c1) & 0xFFFFFFFF, 15)
        h1 ^= (k1 * c2) & 0xFFFFFFFF
        h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_exact_keys(n_buckets: int, n_parts: int) -> list[int]:
    """For each bucket b, an int key k with pmod(hash(k), n_parts) == b % n_parts.

    ``repartition(P, col)`` places rows by pmod(Murmur3(col), P): repartitioning
    by the raw bucket id collides buckets into shared partitions and leaves
    others empty (measured: one empty task + one double-size straggler out of
    4). Steering each bucket to its own partition restores 1 bucket = 1 task.
    """
    # coupon-collector sweep: one pass over k = 0, 1, 2, ... fills every
    # partition's key in O(n_parts * ln n_parts) hash evaluations — a
    # per-bucket search would be O(n_buckets * n_parts), hours at the ~10^5
    # buckets of a large cluster
    needed = {b % n_parts for b in range(n_buckets)}
    key_for_partition: dict[int, int] = {}
    k = 0
    while len(key_for_partition) < len(needed):
        p = _murmur3_long(k) % n_parts
        if p in needed and p not in key_for_partition:
            key_for_partition[p] = k
        k += 1
    return [key_for_partition[b % n_parts] for b in range(n_buckets)]


def _arranged_with_offsets(
    df: DataFrame, order_col: str = "url", num_partitions: int | None = None
) -> tuple[DataFrame, dict[int, int]]:
    """The id-assignment *arrangement* without the assignment pass.

    Returns ``(arranged, offsets)``: ``arranged`` is ``df`` plus a ``_b``
    bucket column, hash-partitioned so each bucket owns one partition and
    sorted ``(_b, order_col)`` within partitions; ``offsets[b]`` is the
    global id offset of bucket ``b``. :func:`assign_dense_doc_ids` walks
    each partition in order and hands out ``offsets[b] + running_index``.

    Two-phase (no global sort on one node), with every cross-job input a
    **pure function of the data**:

      1. cut points for ~P ordered buckets come from a seeded uniform sample
         (``orderBy(rand(42)).limit(...)`` — one cheap single-column pass),
         collected once and baked into the plan as literals;
      2. bucket membership is then a deterministic expression, so the
         per-bucket counts (one tiny agg) and the per-bucket running
         sequence inside ``mapInPandas`` are consistent BY CONSTRUCTION —
         unlike ``repartitionByRange``, whose sampled boundaries can differ
         between the count job and the assignment job under AQE (observed:
         colliding/dropped ids — pinned by tests).

    Rows are hash-partitioned by bucket (a bucket never splits) and sorted
    (bucket, key) within partitions; ids are bucket offset + running index.
    At 10^12 docs: one column-scan for the sample, one agg, one assignment
    pass, and a bounded driver exchange (P cut points + P counts).
    ``order_col`` values should be unique (web: the url); equal keys get
    stable counts but arbitrary relative order.
    """
    import os  # noqa: PLC0415

    spark = df.sparkSession
    default_par = spark.sparkContext.defaultParallelism
    # 2x parallelism buckets: fine-grained tasks overlap stragglers (doc-cost
    # skew within a bucket) while bounding per-task fixed overhead (Arrow
    # stream + scan setup per task is material, measured via event logs)
    mult = int(os.environ.get("SPARK_GRAFT_BUCKETS_PER_CORE", "2"))
    n_buckets = num_partitions or mult * max(default_par, 1)

    sample = sorted(
        r[0]
        for r in df.select(order_col).orderBy(F.rand(42)).limit(n_buckets * 32).collect()
    )
    if len(sample) > n_buckets and n_buckets > 1:
        step = len(sample) // n_buckets
        cuts = sample[step::step][: n_buckets - 1]
    else:
        cuts = []

    if not cuts:
        bucket_expr = F.lit(0).cast("long")
    elif len(cuts) <= 512:
        # small cut lists: JVM-side linear count (no Python round trip)
        bucket_expr = F.size(
            F.filter(
                F.array(*[F.lit(c) for c in cuts]), lambda b: F.col(order_col) >= b
            )
        ).cast("long")
    else:
        # many buckets (large clusters): an O(cuts)-per-row literal-array scan
        # and a 10^5-element plan literal are both untenable — vectorized
        # binary search instead. ArrowEvalPython ships ONLY the key column to
        # the worker, so the text/html payload never round-trips. Semantics
        # identical to the linear count: number of cuts <= key (ASCII keys
        # compare the same bytewise and by codepoint).
        cuts_arr = np.array(cuts)

        @pandas_udf(T.LongType())
        def _bucket_of(keys: pd.Series) -> pd.Series:
            return pd.Series(
                np.searchsorted(cuts_arr, keys.to_numpy(dtype=cuts_arr.dtype), side="right").astype(np.int64)
            )

        bucket_expr = _bucket_of(F.col(order_col))

    counts = {
        int(r["_b"]): r["cnt"]
        for r in df.select(bucket_expr.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    # steer bucket b to shuffle partition b exactly (raw hash(_b) collides).
    # The keys MUST be LongType: Spark's Murmur3 hashes a 4-byte int and an
    # 8-byte long differently, and _murmur3_long models the long layout —
    # an IntegerType pk re-collides silently (caught by tests).
    pkeys = _partition_exact_keys(n_buckets, n_buckets)
    if n_buckets <= 1:
        pk_expr = F.lit(0).cast("long")
    elif n_buckets <= 512:
        pk_expr = F.element_at(
            F.array(*[F.lit(k).cast("long") for k in pkeys]), F.col("_b").cast("int") + 1
        )
    else:
        pkeys_arr = np.array(pkeys, dtype=np.int64)

        @pandas_udf(T.LongType())
        def _pk_of(buckets: pd.Series) -> pd.Series:
            return pd.Series(pkeys_arr[buckets.to_numpy(dtype=np.int64)])

        pk_expr = _pk_of(F.col("_b"))
    arranged = (
        df.withColumn("_b", bucket_expr)
        .withColumn("_pk", pk_expr)
        .repartition(n_buckets, F.col("_pk"))
        .sortWithinPartitions("_b", order_col)
        .drop("_pk")
    )
    return arranged, offsets


def assign_dense_doc_ids(
    df: DataFrame, order_col: str = "url", num_partitions: int | None = None
) -> DataFrame:
    """Add a dense 0-based ``doc_id`` ordered by ``order_col``, scalably.

    See :func:`_arranged_with_offsets` for the two-phase mechanism; this
    wrapper runs the assignment pass (``mapInPandas`` running counter per
    bucket) and returns ``df`` with the ``doc_id`` column prepended.
    """
    arranged, offsets = _arranged_with_offsets(df, order_col, num_partitions)
    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)] + list(df.schema.fields)
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        used: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            buckets = pdf["_b"].to_numpy(dtype=np.int64)
            ids = np.empty(len(pdf), dtype=np.int64)
            # rows are sorted by bucket within the partition; per-bucket
            # running counters keep this correct even across Arrow batches
            for b in np.unique(buckets):
                mask = buckets == b
                start = offsets[int(b)] + used.get(int(b), 0)
                n = int(mask.sum())
                ids[mask] = np.arange(start, start + n, dtype=np.int64)
                used[int(b)] = used.get(int(b), 0) + n
            pdf = pdf.drop(columns=["_b"])
            pdf.insert(0, "doc_id", ids)
            yield pdf

    return arranged.mapInPandas(_assign, schema=out_schema)


def csv_to_corpus(
    spark, path: str, text_col: str = "text", id_col: str | None = None, **reader_opts
) -> DataFrame:
    """CSV -> (doc_id, text) corpus frame (reference csv2parquet.py:16-33)."""
    df = spark.read.options(header=True, **reader_opts).csv(path)
    if id_col is not None:
        return df.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
        )
    return assign_dense_doc_ids(df.select(F.col(text_col).alias("text")), order_col="text")

"""Trigram index engine — the reference's second engine, Spark-first.

Semantics pinned against ``/root/reference/src/algorithms/trigram/
trigram_index_engine.cpp``:

* build (``:11-39, :205-245``): per-doc counts keyed on the *raw* packed
  trigram (offset included); the index key caps the offset at 14, so two raw
  offsets >= 14 in one doc insert **two** entries under the same key — posting
  lists may repeat a doc_id, and df counts entries, not distinct docs. We
  reproduce this exactly.
* corpus stats (``:30``): doc_count = number of documents consumed (NOT
  max_id+1 — differs from the inverted engine), avgdl = total trigrams /
  doc_count.
* compactify (``:36-38``): stop_share = clamp(uint32(doc_count/(avgdl+1)),
  2, 10); lists longer than doc_count // stop_share (integer division) are
  dropped — a plain filter on the aggregated index.
* search (``:41-93``): query parsed to raw trigrams in order; every parsed
  occurrence (hits AND misses) counts toward the normalizer n_q; lookups use
  the **uncapped** raw value (offset >= 15 never matches — reference quirk);
  per match the contribution is score(dl, tf, df) / n_q, accumulated per doc;
  top-k with our deterministic (score DESC, doc_id ASC) tiebreak.

Plan shape mirrors the inverted engine: one Arrow tokenize pass, explode,
then the SAME map-side partial-combine + streaming reduce the inverted
engine's compressed build uses (``_partial_rows``/``_merge_partials`` — the
key rides as a string; everything else is identical), decompressed back to
logical posting arrays. No posting list ever materializes as a single JVM
``collect_list`` array in one task: partials are bounded per map task, the
reduce encodes in 64k-posting sub-chunks, and ``cfg.shard_postings`` splits
a surviving head key into bounded doc-range rows exactly like a head term
(readers sum per-row ``df`` for the key total). Broadcast query join at
serve time.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.scoring import bm25_col, tfidf_col
from fulltextsearch_spark.functions.trigram import (
    MAX_WORD_OFFSET,
    cap_offset,
    trigram_counts_udf,
    trigram_values,
)
from fulltextsearch_spark.functions.tokenizer import tokenize_udf
from fulltextsearch_spark.operators.query import topk

__all__ = [
    "TrigramIndex",
    "build_trigram_index",
    "search_trigram",
    "query_trigrams",
    "save_trigram_index",
    "load_trigram_index",
    "suggest_terms",
]


@dataclass
class TrigramIndex:
    """postings: (key BIGINT, df BIGINT,
    postings ARRAY<STRUCT<doc_id BIGINT, tf BIGINT, dl BIGINT>>).
    ``compactified`` postings have hot keys removed (stop-trigram pruning).
    With ``cfg.shard_postings`` a head key spans several doc-range rows whose
    ``df`` is the per-slice count (readers sum rows for the key total)."""

    postings: DataFrame
    doc_stats: DataFrame
    doc_count: int
    avgdl: float
    stop_threshold: int


def build_trigram_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    text_col: str = "text",
    compactify: bool = True,
) -> TrigramIndex:
    tc = trigram_counts_udf()
    with_tc = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), tc(F.col(text_col)).alias("_tc")
    ).select("doc_id", "_tc.dl", "_tc.raws", "_tc.tfs")
    with_tc = with_tc.persist()

    doc_stats = with_tc.select("doc_id", "dl")
    stats = doc_stats.agg(
        F.count(F.lit(1)).alias("doc_count"), F.sum("dl").alias("total")
    ).collect()[0]
    doc_count = int(stats["doc_count"])
    avgdl = float(stats["total"] or 0) / doc_count if doc_count else 0.0

    flat = with_tc.select(
        "doc_id",
        "dl",
        F.explode(F.arrays_zip(F.col("raws"), F.col("tfs"))).alias("_z"),
    ).select(
        "doc_id",
        F.col("_z.raws").alias("raw"),
        F.col("_z.tfs").cast("long").alias("tf"),
        "dl",
    )
    # index key: offset capped at 14 (insert-side, parallel_hash_index.hpp:27-33)
    off = F.col("raw").bitwiseAND(F.lit(0xFF))
    key = (
        F.col("raw").bitwiseAND(F.lit(~0xFF))
        + F.least(off, F.lit(MAX_WORD_OFFSET - 1))
    ).alias("key")
    # stop-trigram pruning (compactify, trigram_index_engine.cpp:36-38)
    # C++: std::clamp(static_cast<uint32_t>(doc_count/(avg+1)), 2U, 10U)
    stop_share = int(np.clip(int(doc_count / (avgdl + 1.0)), 2, 10))
    threshold = doc_count // stop_share

    keyed = flat.select(key, "doc_id", "tf", "dl")
    if compactify:
        # Skew safety: hot keys (df above the stop threshold) are exactly the
        # ones compactify discards, so drop them BEFORE any posting list
        # materializes — df comes from a cheap partial-aggregated count and
        # the hot-key set is tiny by definition (high-df keys), so it
        # broadcast-anti-joins without reshuffling the big side. Without
        # this, a boilerplate trigram at web scale bloats the aggregation
        # first and gets filtered only after the fact.
        hot = (
            keyed.groupBy("key")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > F.lit(threshold))
            .select("key")
        )
        keyed = keyed.join(F.broadcast(hot), "key", "left_anti")

    # aggregate through the compressed build's partial-combine machinery
    # (map-side delta+varint partials -> term shuffle -> sub-chunked reduce):
    # a surviving just-under-threshold key NEVER materializes as one
    # collect_list array in one task, and cfg.shard_postings splits head
    # keys into bounded doc-range rows (multi-row keys; df per row is the
    # slice count, summed by readers). The key travels as a string and is
    # cast back after the decompress to logical arrays.
    from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
        _merge_partials,
        _partial_rows,
        decompress_postings,
    )

    ktf = keyed.select(
        F.col("key").cast("string").alias("term"), "doc_id", "tf", "dl"
    )
    merged = _merge_partials(_partial_rows(ktf), avgdl if avgdl > 0 else 1.0, cfg)
    postings = decompress_postings(merged, cfg.block_size).select(
        F.col("term").cast("long").alias("key"), "df", "postings"
    )
    postings = postings.persist()

    return TrigramIndex(
        postings=postings,
        doc_stats=doc_stats,
        doc_count=doc_count,
        avgdl=avgdl,
        stop_threshold=threshold,
    )


def query_trigrams(spark: SparkSession, queries: list[tuple[str, str]]) -> DataFrame:
    """[(query_id, content)] -> (query_id, raw, qtf, n_q) rows.

    n_q counts every parsed occurrence, hits and misses alike
    (``trigram_index_engine.cpp:59-68`` divides by trigram_results.size()).
    Query parsing is driver-side (queries are tiny) and broadcast.
    """
    rows = []
    for qid, content in queries:
        vals = trigram_values(content.encode("utf-8"))
        n_q = int(vals.size)
        if n_q == 0:
            continue
        uniq, cnt = np.unique(vals, return_counts=True)
        rows += [(qid, int(r), int(c), n_q) for r, c in zip(uniq, cnt)]
    return spark.createDataFrame(rows, "query_id STRING, raw LONG, qtf LONG, n_q LONG")


def search_trigram(
    index: TrigramIndex,
    queries: list[tuple[str, str]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """[(query_id, content)] -> (query_id, rank, doc_id, score)."""
    spark = index.postings.sparkSession
    q = query_trigrams(spark, queries)
    # lookup probes with the UNCAPPED raw value (reference quirk): join on
    # equality — keys with offset 14 only match query offset exactly 14.
    # Shard-aware df: a head key split into doc-range rows
    # (cfg.shard_postings) carries per-slice df per row; the key total is the
    # sum over matched rows — aggregated over the probed keys only (tiny),
    # never over the whole index.
    probe_keys = q.select(F.col("raw").alias("key")).distinct()
    matched = index.postings.join(F.broadcast(probe_keys), "key")
    df_tot = matched.groupBy("key").agg(F.sum("df").alias("df_key"))
    joined = (
        matched.drop("df")
        .join(F.broadcast(q), matched["key"] == q["raw"], "inner")
        .join(F.broadcast(df_tot), "key", "inner")
        .withColumnRenamed("df_key", "df")
    )
    flat = joined.select(
        "query_id", "qtf", "n_q", "df", F.explode("postings").alias("p")
    ).select(
        "query_id",
        "qtf",
        "n_q",
        "df",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )
    if scoring == "bm25":
        per = bm25_col(
            F.col("tf"), F.col("df"), F.col("dl"), index.doc_count, index.avgdl, cfg.k1, cfg.b
        )
    elif scoring == "tfidf":
        per = tfidf_col(F.col("tf"), F.col("df"), F.col("dl"), index.doc_count)
    else:
        raise ValueError(f"unknown scoring {scoring!r}")
    scored = (
        flat.withColumn(
            "_s", per * F.col("qtf").cast("double") / F.col("n_q").cast("double")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )
    return topk(scored, k if k is not None else cfg.k)


def save_trigram_index(index: TrigramIndex, root: str) -> None:
    """Persist the trigram index under ``root`` as parquet tables.

    The reference's store() writes a bespoke mmap-able binary snapshot
    (doc_count, avgdl, doc->len pairs, then the hash table —
    trigram_index_engine.cpp:95-127); here the durable form is columnar
    parquet range-clustered by key (:func:`write_clustered`) so a reload
    scans exactly the probed row groups via footer min/max, and the scalar
    stats ride in a one-row table.
    """
    from fulltextsearch_spark.operators.util import (  # noqa: PLC0415
        record_footprint,
        write_clustered,
    )

    write_clustered(
        index.postings, "key", f"{root}/postings", F.get("postings", 0)["doc_id"]
    )
    index.doc_stats.write.mode("overwrite").parquet(f"{root}/doc_stats")
    index.postings.sparkSession.createDataFrame(
        [(index.doc_count, index.avgdl, index.stop_threshold)],
        "doc_count LONG, avgdl DOUBLE, stop_threshold LONG",
    ).write.mode("overwrite").parquet(f"{root}/stats")
    record_footprint(
        root,
        {
            "postings": f"{root}/postings",
            "doc_stats": f"{root}/doc_stats",
            "stats": f"{root}/stats",
        },
    )


def load_trigram_index(spark: SparkSession, root: str) -> TrigramIndex:
    """Inverse of :func:`save_trigram_index` (trigram_index_engine.cpp:129-155)."""
    stats = spark.read.parquet(f"{root}/stats").collect()[0]
    return TrigramIndex(
        postings=spark.read.parquet(f"{root}/postings"),
        doc_stats=spark.read.parquet(f"{root}/doc_stats"),
        doc_count=int(stats["doc_count"]),
        avgdl=float(stats["avgdl"]),
        stop_threshold=int(stats["stop_threshold"]),
    )


def _char_trigram_set_udf():
    """STRING word -> DISTINCT character trigrams (raw values with the
    positional offset byte dropped): fuzzy matching must be position-
    insensitive — an inserted character shifts every later offset, which
    would destroy overlap for a 1-edit typo."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _set(words):
        import pandas as pd  # noqa: PLC0415

        out = []
        for w in words:
            vals = (
                trigram_values(w.encode("utf-8"))
                if isinstance(w, str)
                else np.empty(0, np.int64)
            )
            out.append(np.unique(vals >> 8).tolist() if vals.size else [])
        return pd.Series(out)

    return _set


def suggest_terms(
    docs: DataFrame, queries: DataFrame, k: int = 5, text_col: str = "text"
) -> DataFrame:
    """'Did you mean': fuzzy vocabulary suggestions per query word.

    ``queries`` is (query_id, word); the result is the top-``k``
    (query_id, rank, term, jaccard, n_occ) vocabulary terms by character-
    trigram Jaccard — |T(q) AND T(v)| / |T(q) OR T(v)| over the SAME packed
    trigram parser the trigram engine uses (offset byte dropped: fuzzy
    matching must not punish position shifts from an inserted char) —
    tie-broken by corpus occurrence count (popularity prior), then term.
    The classic spell-correction surface the trigram index exists for
    (reference trigram_index_engine.cpp scores docs; this scores the
    vocabulary itself).

    Plan shape: the vocabulary aggregates from one tokenize pass (term,
    n_occ); its trigram explode is map-only; the query side is tiny and
    broadcast, so candidate generation is a map-side hash join — only
    (query, term) intersection counts reach the exchange. Terms shorter
    than 2 chars have no trigrams and never surface.
    """
    tok = tokenize_udf(do_stem=False)
    vocab = (
        docs.select(F.explode(tok(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )
    tri_set = _char_trigram_set_udf()
    vt = (
        vocab.withColumn("_tris", tri_set("term"))
        .withColumn("n_tri", F.size("_tris").cast("long"))
        .filter(F.col("n_tri") > 0)
        .select("term", "n_occ", "n_tri", F.explode("_tris").alias("tri"))
    )
    qt = (
        queries.withColumn("_tris", tri_set("word"))
        .withColumn("n_q", F.size("_tris").cast("long"))
        .filter(F.col("n_q") > 0)
        .select("query_id", "n_q", F.explode("_tris").alias("tri"))
    )
    inter = (
        vt.join(F.broadcast(qt), "tri")
        .groupBy("query_id", "n_q", "term", "n_tri", "n_occ")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    scored = inter.select(
        "query_id",
        "term",
        (F.col("_c").cast("double") / (F.col("n_q") + F.col("n_tri") - F.col("_c"))).alias(
            "jaccard"
        ),
        "n_occ",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), F.desc("n_occ"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "term", "jaccard", "n_occ")
    )

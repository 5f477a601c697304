"""Inverted-index construction: the logical index, derived from the
compressed build.

Replaces the reference's two-pass threaded hash-table build
(``/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:15-107``)
with the one partition-parallel posting build of
:mod:`fulltextsearch_spark.operators.compressed_index`:

* each map task tokenizes its documents and packs per-doc term frequencies
  (the reference's per-doc ``unordered_map``, ``:37-51``) into per-term
  delta+varint partials before the term shuffle;
* those per-task partials are the salted runs of a head term (Zipf head,
  e.g. "http"/"www" in web text), which the reference has no answer to
  beyond spinlock contention (``parallel_hash_table.hpp:134-148``): no task
  ever collects a head term's postings row by row, the reduce only
  concatenates byte streams;
* :func:`build_index` decodes the merged rows once, vectorized, into
  posting arrays;
* corpus stats use the reference's exact semantics: N = max(doc_id)+1 and
  avgdl = sum(dl)/N — missing/empty docs count as dl=0
  (``inverted_index_engine.cpp:190-204``).

The logical index is three DataFrames: ``postings(term, df, postings)``,
``doc_stats(doc_id, dl)``, and scalar corpus stats. ``doc_id`` must be dense
from 0 (parity with ``scripts/parquet2parquet.py:19-23``); use
:func:`fulltextsearch_spark.sources.ingest.assign_dense_doc_ids` for raw
corpora.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.tokenizer import term_counts_batch
from fulltextsearch_spark.operators.compressed_index import (
    CompressedIndex,
    build_compressed_index,
    decompress_postings,
)

__all__ = [
    "IndexTables",
    "build_index",
    "doc_term_frequencies",
    "index_stats",
    "logical_index",
]


@dataclass
class IndexTables:
    """Logical inverted index.

    postings: (term STRING, df BIGINT,
               postings ARRAY<STRUCT<doc_id BIGINT, tf BIGINT, dl BIGINT>>)
              exactly one row per term, sorted by doc_id ascending, ``df``
              the term total; dl denormalized into the posting so the query
              path needs no doc_stats join.
    doc_stats: (doc_id BIGINT, dl BIGINT) — one row per document, dl=0 kept.

    Built by :func:`build_index` or, from an existing compressed index, by
    :func:`logical_index`.
    """

    postings: DataFrame
    doc_stats: DataFrame
    n_docs: int
    avgdl: float


def _tokenized(docs: DataFrame, text_col: str, stem: bool) -> DataFrame:
    """(doc_id, dl, terms, tfs) — one tokenize pass over the corpus.

    ``mapInArrow`` over the vectorized
    :func:`~fulltextsearch_spark.functions.tokenizer.term_counts_batch`
    kernel: token splitting/lowercasing/dedup run in Arrow C++ and Python
    touches only each batch's unique tokens (measured ~3x on web text vs the
    per-token pandas_udf loop, which remains as ``term_counts_udf`` for the
    struct-column API).
    """

    def _map(batches):
        import pyarrow as pa  # noqa: PLC0415

        for rb in batches:
            if rb.num_rows == 0:
                continue
            dl, terms, tfs = term_counts_batch(rb.column("text"), stem)
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id"), pa.array(dl), terms, tfs],
                names=["doc_id", "dl", "terms", "tfs"],
            )

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).mapInArrow(_map, "doc_id long, dl long, terms array<string>, tfs array<long>")


def _explode_tf(with_tc: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl) — one row per distinct (doc, term), narrow."""
    return with_tc.select(
        "doc_id",
        "dl",
        F.explode(F.arrays_zip(F.col("terms"), F.col("tfs"))).alias("_z"),
    ).select(
        "doc_id",
        F.col("_z.terms").alias("term"),
        F.col("_z.tfs").cast("long").alias("tf"),
        "dl",
    )


def doc_term_frequencies(docs: DataFrame, text_col: str = "text", stem: bool = True) -> DataFrame:
    """(doc_id, term, tf, dl) rows — one narrow Arrow pass + explode.

    One row per distinct (doc, term); documents with no surviving tokens
    contribute no rows here (they still appear in doc_stats).
    """
    return _explode_tf(_tokenized(docs, text_col, stem))


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    text_col: str = "text",
    persist: bool = True,
) -> IndexTables:
    """Build the logical inverted index from a (doc_id, text, ...) frame.

    :func:`~fulltextsearch_spark.operators.compressed_index.
    build_compressed_index` (one fused tokenize+pack pass, one shuffle of
    compressed partials) followed by one vectorized
    :func:`~fulltextsearch_spark.operators.compressed_index.
    decompress_postings`. The build runs without ``cfg.shard_postings`` so
    every term is one row and the decode needs no regroup. ``doc_stats``
    (dl=0 docs kept), ``n_docs`` and ``avgdl`` come from the compressed build.
    ``persist`` caches the decoded postings (MEMORY_AND_DISK) so query
    batches do not decode again; the on-disk form is the compressed index
    (``save_compressed_index``).
    """
    cidx = build_compressed_index(
        spark, docs, replace(cfg, shard_postings=None), text_col
    )
    postings = decompress_postings(cidx.postings, cidx.block_size)
    if persist:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    return IndexTables(
        postings=postings, doc_stats=cidx.doc_stats, n_docs=cidx.n_docs, avgdl=cidx.avgdl
    )


def logical_index(cidx: CompressedIndex) -> IndexTables:
    """The logical index of a compressed index (built or loaded).

    The one place that knows a compressed term may span several rows
    (``cfg.shard_postings``): the decoded rows regroup per term, ``df``
    sums the per-row counts and the postings merge into one doc_id-sorted
    array. A term's rows hold disjoint doc sets, but not disjoint doc
    ranges (each row is a run of map-side partials), hence the sort.
    Corpus stats and ``doc_stats`` carry over from ``cidx``.
    """
    rows = decompress_postings(cidx.postings, cidx.block_size, cidx.codec)
    postings = rows.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sort_array(F.flatten(F.collect_list("postings"))).alias("postings"),
    )
    return IndexTables(
        postings=postings, doc_stats=cidx.doc_stats, n_docs=cidx.n_docs, avgdl=cidx.avgdl
    )


def index_stats(index: IndexTables) -> DataFrame:
    """One-row index shape/footprint summary (the queryable analogue of the
    reference's footprint API, fts_engine.hpp:50-60 — byte sizes on disk are
    logged per save in `_lineage.jsonl`; this reports the LOGICAL shape):
    vocabulary size, total postings, head-term df, corpus scalars. One
    skinny aggregate over (term, df) — posting arrays are pruned away.
    """
    agg = index.postings.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("total_postings"),
        F.max("df").cast("long").alias("max_df"),
    )
    return agg.select(
        "n_terms",
        "total_postings",
        "max_df",
        F.lit(index.n_docs).cast("long").alias("n_docs"),
        F.round(F.lit(index.avgdl), 6).alias("avgdl"),
    )

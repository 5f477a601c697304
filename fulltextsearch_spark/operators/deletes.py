"""Document deletion with physical compaction.

The reference engine has no deletes — its in-RAM index rebuilds from
scratch (inverted_index_engine.cpp:15-35). Real deployments need them
(takedowns, opt-outs, curation verdicts applied retroactively), and the
standard design is Lucene's: deletions are cheap tombstones until a
compaction physically rewrites the affected postings. This module is the
compaction step:

* on a logical index only terms that actually CONTAIN a deleted doc are
  rewritten — found by one skinny (term, doc_id) explode semi-joined
  against the broadcast tombstone set; every other posting row carries
  over untouched. A compressed index is rewritten whole (decode, drop,
  re-encode), which also refreshes its block-max metadata;
* the result is value-identical to building the index over the remaining
  (doc_id, text) rows with their ORIGINAL ids (ids are never reassigned —
  reassignment would invalidate every stored doc_id downstream): N =
  max(remaining doc_id)+1 and avgdl = sum(dl)/N recompute under the
  engine's A4/A5 semantics, pinned by tests/test_deletes.py;
* the tombstone set is broadcast (deletes are small relative to the corpus
  by assumption — a corpus-sized delete set is a rebuild, not a delete).

Logical-side queries need no rewrite at all: ``search_filtered`` with the
complement doc set is the tombstone-mask read path; this module is what a
background compactor runs to reclaim the space and the stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables

__all__ = ["delete_docs", "delete_docs_compressed", "upsert_docs_compressed"]


def _surviving_stats(doc_stats: DataFrame, d: DataFrame):
    """(doc_stats, n_docs, avgdl) over the docs whose id is not in
    ``d._del``."""
    kept = (
        doc_stats.withColumnRenamed("doc_id", "_del")
        .join(F.broadcast(d), "_del", "left_anti")
        .withColumnRenamed("_del", "doc_id")
    )
    stats = kept.agg(
        (F.max("doc_id") + 1).alias("n"), F.sum("dl").alias("total")
    ).collect()[0]
    n_docs = int(stats["n"] or 0)
    avgdl = float(stats["total"] or 0) / n_docs if n_docs else 0.0
    return kept, n_docs, avgdl


def delete_docs(index: IndexTables, deleted: DataFrame) -> IndexTables:
    """Physically remove ``deleted.doc_id`` docs from a logical index."""
    d = deleted.select(F.col("doc_id").alias("_del")).distinct()
    affected = (
        index.postings.select(
            "term", F.explode("postings.doc_id").alias("_del")
        )
        .join(F.broadcast(d), "_del", "left_semi")
        .select("term")
        .distinct()
    )
    carried = index.postings.join(F.broadcast(affected), "term", "left_anti")
    rebuilt = (
        index.postings.join(F.broadcast(affected), "term", "left_semi")
        .select("term", F.explode("postings").alias("p"))
        .join(F.broadcast(d), F.col("p.doc_id") == F.col("_del"), "left_anti")
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("p")).alias("postings"))
        .withColumn("df", F.size("postings").cast("long"))
        .filter(F.col("df") > 0)
        .select("term", "df", "postings")
    )
    doc_stats, n_docs, avgdl = _surviving_stats(index.doc_stats, d)
    return IndexTables(
        postings=carried.unionByName(rebuilt),
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
    )


def delete_docs_compressed(
    cidx, deleted: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
):
    """Compaction for a compressed index: decode -> drop -> re-encode.

    A full rewrite by design (same as a Lucene merge that drops deletes):
    the decoded postings explode to (doc_id, term, tf, dl), the tombstoned
    docs drop out through one broadcast anti-join, and the rest re-encode
    through the build's own partial pack and merge, so block-max metadata
    recomputes under the post-delete avgdl. The several rows of a sharded
    term need no regroup: the pack and merge order each term's postings by
    doc_id. Returns a new :class:`CompressedIndex` with one row per term.
    """
    from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
        CompressedIndex,
        _merge_partials,
        _partial_rows,
        decompress_postings,
    )

    d = deleted.select(F.col("doc_id").alias("_del")).distinct()
    flat = (
        decompress_postings(cidx.postings, cidx.block_size, codec=cidx.codec)
        .select("term", F.explode("postings").alias("p"))
        .select("p.doc_id", "term", "p.tf", "p.dl")
        .join(F.broadcast(d), F.col("doc_id") == F.col("_del"), "left_anti")
    )
    doc_stats, n_docs, avgdl = _surviving_stats(cidx.doc_stats, d)
    enc_cfg = EngineConfig(
        k1=cfg.k1, b=cfg.b, block_size=cfg.block_size, stem=cfg.stem
    )
    return CompressedIndex(
        postings=_merge_partials(_partial_rows(flat), avgdl, enc_cfg),
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        block_size=enc_cfg.block_size,
        k1=enc_cfg.k1,
        b=enc_cfg.b,
    )


def upsert_docs_compressed(
    spark,
    cidx,
    new_docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    text_col: str = "text",
):
    """Document upsert — replace-or-insert pages by doc_id, the index
    lifecycle op a living crawl needs (a refetched page replaces its old
    version; a new page appends): tombstone every incoming id out of the
    base (absent ids are no-ops, so inserts ride the same path), build a
    delta index over ONLY the new rows, and compact both through the
    segment merge. The result is value-identical to a fresh build over
    the updated corpus (N/avgdl recompute through the same A4/A5
    semantics at each step; pinned by the driver entry sharing the
    monolithic oracle over the updated text).

    Cost shape: the tombstone compaction rewrites only terms containing a
    replaced doc; the delta build tokenizes only the new rows; the merge
    is metadata-only byte concatenation — nothing re-reads the unchanged
    corpus text.
    """
    from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
        build_compressed_index,
    )
    from fulltextsearch_spark.operators.segments import merge_segments  # noqa: PLC0415

    ids = new_docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    base = delete_docs_compressed(cidx, ids, cfg)
    delta = build_compressed_index(spark, new_docs, cfg, text_col=text_col)
    return merge_segments([base, delta], cfg)

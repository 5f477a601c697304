"""Document deletion with physical compaction: value-identical to building
over the remaining (doc_id, text) rows with their original ids.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import build_compressed_index
from fulltextsearch_spark.operators.deletes import delete_docs, delete_docs_compressed
from fulltextsearch_spark.operators.index_build import build_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages_pdf

CFG = EngineConfig(k1=1.2, b=0.75, k=10, stem=False, block_size=32)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_webpages_pdf(160, seed=83)[["text"]]
    pdf.insert(0, "doc_id", range(len(pdf)))
    return spark.createDataFrame(pdf).cache()


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()
    )


def _postings_set(idx):
    flat = idx.postings.select("term", "df", F.explode("postings").alias("p"))
    return {
        (r["term"], r["df"], r["p"]["doc_id"], r["p"]["tf"], r["p"]["dl"])
        for r in flat.collect()
    }


def test_delete_equals_rebuild_over_remaining(spark, corpus):
    deleted = corpus.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    full = build_index(spark, corpus, CFG, persist=False)
    after = delete_docs(full, deleted)
    rebuilt = build_index(
        spark, corpus.filter(F.col("doc_id") % 5 != 0), CFG, persist=False
    )
    assert after.n_docs == rebuilt.n_docs
    assert after.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-12)
    assert _postings_set(after) == _postings_set(rebuilt)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    assert _rows(search(after, qdf, CFG)) == _rows(search(rebuilt, qdf, CFG))


def test_delete_max_doc_shrinks_n(spark, corpus):
    full = build_index(spark, corpus, CFG, persist=False)
    deleted = spark.createDataFrame([(159,), (158,)], ["doc_id"])
    after = delete_docs(full, deleted)
    assert after.n_docs == 158  # N = max(remaining)+1, engine A4 semantics
    assert after.doc_stats.count() == 158


def test_delete_noop_on_unknown_ids(spark, corpus):
    full = build_index(spark, corpus, CFG, persist=False)
    deleted = spark.createDataFrame([(10_000,)], ["doc_id"])
    after = delete_docs(full, deleted)
    assert _postings_set(after) == _postings_set(full)
    assert after.n_docs == full.n_docs


def test_delete_compressed_compaction(spark, corpus):
    """Holds for an unsharded build and for one whose head terms span
    several rows (``shard_postings``)."""
    from fulltextsearch_spark.operators.compressed_index import decompress_postings

    deleted = corpus.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    for cfg in (CFG, replace(CFG, shard_postings=40)):
        cidx = build_compressed_index(spark, corpus, cfg)
        if cfg.shard_postings:
            per_term = cidx.postings.groupBy("term").count()
            assert per_term.filter(F.col("count") > 1).count() > 0  # actually sharded
        after = delete_docs_compressed(cidx, deleted, cfg)
        rebuilt = build_compressed_index(
            spark, corpus.filter(F.col("doc_id") % 5 != 0), cfg
        )
        assert after.n_docs == rebuilt.n_docs
        assert after.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-12)
        assert _rows(search_wand(after, qdf, cfg)) == _rows(search_wand(rebuilt, qdf, cfg))
        # deleted docs truly gone from the compressed payload
        flat = decompress_postings(after.postings, after.block_size).select(
            F.explode("postings.doc_id").alias("doc_id")
        )
        assert flat.filter(F.col("doc_id") % 5 == 0).count() == 0


def test_upsert_equals_fresh_build_over_updated_corpus(spark):
    """Replace + insert through tombstone/delta/merge == a from-scratch
    build over the updated corpus: identical rankings AND identical
    n_docs/avgdl."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
    )
    from fulltextsearch_spark.operators.deletes import upsert_docs_compressed
    from fulltextsearch_spark.operators.wand import search_wand
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 200, seed=31, num_partitions=3), order_col="url"
    ).select("doc_id", "text")
    base = build_compressed_index(spark, corpus, cfg)
    updates = corpus.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.lit("zzrepl cat salmon page "), F.col("text")).alias("text")
    )
    inserts = spark.createDataFrame(
        [(200, "entirely new cat salmon fresh page"),
         (201, "another new swimming swimmer page")],
        "doc_id LONG, text STRING",
    )
    new_docs = updates.unionByName(inserts)
    merged = upsert_docs_compressed(spark, base, new_docs, cfg)

    updated_corpus = (
        corpus.join(new_docs.select("doc_id"), "doc_id", "left_anti")
        .unionByName(new_docs)
    )
    fresh = build_compressed_index(spark, updated_corpus, cfg)
    assert merged.n_docs == fresh.n_docs == 202
    assert abs(merged.avgdl - fresh.avgdl) < 1e-9

    qdf = spark.createDataFrame(QUERY_SET[:6], ["query_id", "content"])
    a = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search_wand(merged, qdf, cfg).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search_wand(fresh, qdf, cfg).collect()
    )
    assert a == b
    # the replaced docs' NEW content is searchable, old ghosts are gone
    hits = {r["doc_id"] for r in search_wand(
        merged, spark.createDataFrame([("qx", "zzrepl")], ["query_id", "content"]),
        cfg).collect()}
    assert hits and all(d % 7 == 0 for d in hits)

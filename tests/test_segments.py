"""Segment merge (compaction): merging per-batch segment indexes is
value-identical to a batch build over the union corpus, never reads text,
and validates segment compatibility (params, codec, doc disjointness).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    build_compressed_index,
    decompress_postings,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.operators.segments import merge_saved_indexes, merge_segments
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages_pdf

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)
SPLITS = [(0, 100), (100, 180), (180, 240)]  # uneven on purpose


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_webpages_pdf(240, seed=71)[["text"]]
    pdf.insert(0, "doc_id", range(len(pdf)))
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def segments(spark, corpus):
    return [
        build_compressed_index(
            spark, corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), CFG
        )
        for lo, hi in SPLITS
    ]


def _results(spark, idx):
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    rows = search_wand(idx, qdf, CFG).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)


def _postings_set(idx):
    flat = decompress_postings(idx.postings, idx.block_size, codec=idx.codec).select(
        "term", "df", F.explode("postings").alias("p")
    )
    return {
        (r["term"], r["df"], r["p"]["doc_id"], r["p"]["tf"], r["p"]["dl"])
        for r in flat.collect()
    }


def test_merge_equals_batch_build(spark, corpus, segments):
    batch = build_compressed_index(spark, corpus, CFG)
    merged = merge_segments(segments)
    assert merged.n_docs == batch.n_docs
    assert merged.avgdl == pytest.approx(batch.avgdl, rel=1e-12)
    assert (merged.k1, merged.b, merged.block_size) == (CFG.k1, CFG.b, CFG.block_size)
    # postings payload identical, term by term, posting by posting
    assert _postings_set(merged) == _postings_set(batch)
    # rank- and score-identical WAND results
    assert _results(spark, merged) == _results(spark, batch)


def test_merge_single_segment_passthrough(segments):
    assert merge_segments(segments[:1]) is segments[0]


def test_merge_rejects_overlapping_docs(spark, segments):
    with pytest.raises(ValueError, match="disjoint"):
        merge_segments([segments[0], segments[0]])


def test_merge_rejects_param_mismatch(spark, corpus, segments):
    other = build_compressed_index(
        spark, corpus.filter(F.col("doc_id") >= 180), EngineConfig(block_size=64)
    )
    with pytest.raises(ValueError, match="disagree"):
        merge_segments([segments[0], other])
    with pytest.raises(ValueError, match="must match"):
        merge_segments(segments, cfg=EngineConfig(k1=9.9, b=CFG.b, block_size=CFG.block_size))


def test_merge_rejects_pfor_segments(spark, corpus, segments, tmp_path):
    """A pfor segment is rejected; following the error's advice (re-save it
    with codec='varint') makes it mergeable, with the batch build's answers."""
    root = str(tmp_path / "pfor_seg")
    save_compressed_index(segments[0], root, codec="pfor")
    loaded = load_compressed_index(spark, root)
    with pytest.raises(ValueError, match="varint"):
        merge_segments([loaded, segments[1]])
    vroot = str(tmp_path / "pfor_seg_varint")
    save_compressed_index(loaded, vroot, codec="varint")
    resaved = load_compressed_index(spark, vroot)
    assert resaved.codec == "varint"
    merged = merge_segments([resaved, *segments[1:]])
    batch = build_compressed_index(spark, corpus, CFG)
    assert _postings_set(merged) == _postings_set(batch)
    assert _results(spark, merged) == _results(spark, batch)


def test_merge_saved_roundtrip(spark, corpus, segments, tmp_path):
    roots = []
    for i, seg in enumerate(segments):
        r = str(tmp_path / f"seg{i}")
        save_compressed_index(seg, r)
        roots.append(r)
    out = str(tmp_path / "merged")
    merged = merge_saved_indexes(spark, roots, out_root=out)
    batch = build_compressed_index(spark, corpus, CFG)
    assert _results(spark, merged) == _results(spark, batch)
    with pytest.raises(ValueError, match="out_root"):
        merge_saved_indexes(spark, roots, out_root=roots[0])

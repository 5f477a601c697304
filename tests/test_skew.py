"""Head-term skew (SURVEY §5.2-7): a term in ~every doc must not concentrate
on one task.

The reference has no answer to Zipf-head terms beyond spinlock contention
(`parallel_hash_table.hpp:134-148`); the north rule requires explicit skew
handling. Our answer is the map-side partial combine: a head term's postings
are packed into per-task salted runs, so no single task ever materializes the
full list — the reduce concatenates byte streams.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    _partial_rows_tokenized,
    build_compressed_index,
    decompress_postings,
)
from fulltextsearch_spark.operators.index_build import _tokenized, build_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import search_wand

N = 3000


def _skew_corpus(spark):
    # "common" in EVERY doc; tail terms unique-ish
    rows = [(i, f"common tail{i % 97} word{i % 11} extra{i}") for i in range(N)]
    return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(6)


def test_head_term_spread_over_salted_partials(spark):
    docs = _skew_corpus(spark)
    cfg = EngineConfig(stem=False)
    partials = _partial_rows_tokenized(_tokenized(docs, "text", stem=False))
    head = partials.filter(F.col("term") == "common").collect()
    # one partial per map task that saw the term — never a single giant row
    assert len(head) > 1
    assert sum(sum(r["seg_lens"]) for r in head) == N
    # every partial is a bounded slice, not the whole list
    assert max(sum(r["seg_lens"]) for r in head) < N


def test_head_term_index_and_query_correct(spark):
    docs = _skew_corpus(spark)
    cfg = EngineConfig(k=10, stem=False)
    cidx = build_compressed_index(spark, docs, cfg)
    row = decompress_postings(
        cidx.postings.filter(F.col("term") == "common"), cidx.block_size
    ).collect()[0]
    assert row["df"] == N
    got = sorted(p["doc_id"] for p in row["postings"])
    assert got == list(range(N))

    qdf = spark.createDataFrame([("q", "common tail5")], ["query_id", "content"])
    wand = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in search_wand(cidx, qdf, cfg).collect()]
    idx = build_index(spark, docs, cfg)
    ex = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in search(idx, qdf, cfg).collect()]
    assert wand == ex and len(wand) == 10


def test_sharded_head_term_rows_bounded(spark):
    """cfg.shard_postings splits a head term into multiple self-contained
    rows, so no reduce task materializes the full posting list (SCALE.md §3
    doc-range shard, now implemented)."""
    docs = _skew_corpus(spark)
    cfg = EngineConfig(stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, docs, cfg)
    head = cidx.postings.filter(F.col("term") == "common").collect()
    assert len(head) > 1  # actually sharded
    assert sum(r["count"] for r in head) == N  # nothing lost
    assert max(r["count"] for r in head) < N  # no row holds the whole list
    # every shard is self-contained: its own blocks + block-max metadata
    for r in head:
        assert len(r["block_first_doc"]) == -(-r["count"] // cfg.block_size)
    # full doc set survives decompress (shards are disjoint slices)
    rows = decompress_postings(
        cidx.postings.filter(F.col("term") == "common"), cidx.block_size
    ).collect()
    got = sorted(p["doc_id"] for r in rows for p in r["postings"])
    assert got == list(range(N))


def test_sharded_head_term_query_rank_identical(spark):
    """WAND over a sharded index and the exhaustive path over BOTH the
    unsharded logical index and the decompressed sharded index agree."""
    from fulltextsearch_spark.operators.index_build import IndexTables

    docs = _skew_corpus(spark)
    cfg = EngineConfig(k=10, stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, docs, cfg)
    qdf = spark.createDataFrame(
        [("q", "common tail5"), ("q2", "common common word3")],
        ["query_id", "content"],
    )

    def key(rows):
        return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)

    wand = key(search_wand(cidx, qdf, cfg).collect())
    idx = build_index(spark, docs, cfg)
    ex = key(search(idx, qdf, cfg).collect())
    # exhaustive over the SHARDED rows (multi-row terms, per-slice df)
    sharded_logical = IndexTables(
        postings=decompress_postings(cidx.postings, cidx.block_size),
        doc_stats=cidx.doc_stats,
        n_docs=cidx.n_docs,
        avgdl=cidx.avgdl,
        sharded=True,
    )
    ex_sharded = key(search(sharded_logical, qdf, cfg).collect())
    assert wand == ex == ex_sharded
    assert len(wand) == 20


def test_sharded_trigram_key_rows_bounded(spark):
    """A head trigram key (df far above cfg.shard_postings) must build as
    MULTIPLE bounded doc-range rows — never one task holding the full posting
    list — and sharded serving must be rank- and score-identical to the
    unsharded build (readers sum per-row df for the key total)."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.trigram import (
        build_trigram_index,
        search_trigram,
    )

    rng = random.Random(13)
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    # 'shardme' appears in EVERY doc -> each of its trigram keys has df=300
    rows = [
        (
            i,
            "shardme "
            + " ".join(rng.choice(fillers) for _ in range(rng.randint(2, 5)))
            + " ",
        )
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(8)

    sharded_cfg = EngineConfig(k=10, block_size=8, shard_postings=64)
    plain_cfg = EngineConfig(k=10, block_size=8)
    # compactify=False keeps the hot keys — the hardest case for row size
    idx_sharded = build_trigram_index(spark, docs, sharded_cfg, compactify=False)
    idx_plain = build_trigram_index(spark, docs, plain_cfg, compactify=False)

    key_sha = (ord("s") << 24) | (ord("h") << 16) | (ord("a") << 8) | 0
    shards = (
        idx_sharded.postings.filter(F.col("key") == key_sha)
        .select("df", F.size("postings").alias("n"))
        .collect()
    )
    assert len(shards) > 1  # actually split into doc-range rows
    assert sum(r["df"] for r in shards) == 300  # df total = sum of slices
    assert all(r["n"] == r["df"] for r in shards)
    #every row bounded: far below the full 300-posting list (cuts happen at
    # partial-row granularity, so allow ~2x the threshold)
    assert max(r["n"] for r in shards) <= 2 * 64

    queries = [("q1", "shardme"), ("q2", "alpha shardme"), ("q3", "beta")]

    def key(res):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in res.collect()
        )

    assert key(search_trigram(idx_sharded, queries, sharded_cfg)) == key(
        search_trigram(idx_plain, queries, plain_cfg)
    )

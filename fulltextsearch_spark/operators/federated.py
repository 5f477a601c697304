"""Federated search: one query over many index shards, globally correct.

The deployment shape of a 10^12-document engine is never one index: docs
partition into shards (by crawl segment, time, or doc range), each built
independently — exactly what `build_index` / `segments.py` produce. At
query time the scatter-gather must use GLOBAL statistics, not per-shard
ones: idf from the summed document frequency, N and avgdl over the whole
federation (the classic distributed-IR pitfall — per-shard idf skews
ranking whenever term distributions differ across shards; ES solves it
with DFS_QUERY_THEN_FETCH, Lucene with a shared IndexReader context).

This implementation derives the global stats from the shards' own build
artifacts, probes every shard with the broadcast query terms, unions the
candidate streams, and scores ONCE with the global constants — provably
rank- and score-identical to a monolithic index over the union corpus
(pinned by test and by sharing the monolithic oracle in the driver gate).

Shard contract: shards carry GLOBAL doc_ids over disjoint ranges (the
doc-partitioned deployment; ids overlap nothing), so
``N = max_i(n_docs_i)`` and ``sum_dl = sum_i(avgdl_i * n_docs_i)`` are
exact under the engine's N = max_id + 1 semantics. Per-term df sums over
shards (each shard holds a term in one row whose df is that shard's
count, so the plain sum is the global total).

Scale shape: each shard contributes one broadcast-probed, column-pruned
postings scan; nothing shuffles except the final per-(query, doc)
aggregate of candidate rows — a doc lives in exactly one shard, so the
union introduces no cross-shard regrouping beyond that one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import query_terms, topk

__all__ = ["search_federated"]


def search_federated(
    indexes: list[IndexTables],
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """queries(query_id, content) -> (query_id, rank, doc_id, score) over
    the federation of ``indexes``, scored with global statistics."""
    if not indexes:
        raise ValueError("need at least one shard")
    n_g = max(ix.n_docs for ix in indexes)
    sum_dl = sum(float(ix.avgdl) * float(ix.n_docs) for ix in indexes)
    avgdl_g = sum_dl / float(n_g) if n_g else 0.0

    q_terms = query_terms(queries, stem=cfg.stem)
    qsel = q_terms.select("term").distinct()

    # global df: skinny (term, df) projections, summed across shards
    df_parts = [
        ix.postings.select("term", "df").join(F.broadcast(qsel), "term")
        for ix in indexes
    ]
    df_all = df_parts[0]
    for p in df_parts[1:]:
        df_all = df_all.unionByName(p)
    df_tot = df_all.groupBy("term").agg(F.sum("df").alias("df_g"))

    flats = []
    for ix in indexes:
        flats.append(
            ix.postings.join(F.broadcast(q_terms), "term")
            .select("query_id", "qtf", "term", F.explode("postings").alias("p"))
            .select(
                "query_id",
                "qtf",
                "term",
                F.col("p.doc_id").alias("doc_id"),
                F.col("p.tf").alias("tf"),
                F.col("p.dl").alias("dl"),
            )
        )
    flat = flats[0]
    for f_ in flats[1:]:
        flat = flat.unionByName(f_)

    from fulltextsearch_spark.functions.scoring import bm25_col, tfidf_col

    joined = flat.join(F.broadcast(df_tot), "term")
    if scoring == "bm25":
        per = bm25_col(
            F.col("tf"), F.col("df_g"), F.col("dl"), n_g, avgdl_g, cfg.k1, cfg.b
        )
    elif scoring == "tfidf":
        per = tfidf_col(F.col("tf"), F.col("df_g"), F.col("dl"), n_g)
    else:
        raise ValueError(f"unknown scoring {scoring!r}")
    scored = (
        joined.withColumn("_s", per * F.col("qtf").cast("double"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )
    return topk(scored, k if k is not None else cfg.k)

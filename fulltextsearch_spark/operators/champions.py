"""Champion lists — static index pruning for approximate top-k retrieval.

The classic inexact-top-k technique (Manning, Raghavan & Schütze, IIR
§7.1.3): at BUILD time keep, for each term, the ``m`` documents with the
highest static score contribution for that term (its "champion list");
at QUERY time consider only the union of the query terms' champion lists
and score those candidates EXACTLY. It is the rung below block-max WAND on
the pruning ladder (reference engine: exhaustive scoring,
``inverted_index_engine.cpp:109-162``; WAND path:
:mod:`fulltextsearch_spark.operators.wand`): WAND is rank-safe but must
still walk every posting block it cannot bound away, while champion lists
bound the candidate count by ``m x |q|`` regardless of document frequency
— the head-term (stop-word-like) postings that dominate web-scale query
cost are never touched past the build. The trade is recall: a true top-k
doc missing from every query term's champion list is lost (guaranteed
equal to exhaustive when ``m >= max df``).

Impact ordering uses the engine's own BM25 contribution (the exact
per-(term, doc) scoring dag, shared with the ranked path via
``_per_term_score``), with the deterministic (impact DESC, doc_id ASC)
tiebreak, so the champion selection — not just the final ranking — is
reproducible and SQL-replayable.

Scale shape: the build explodes postings once and takes top-m per term
through a ``row_number`` window that compiles to WindowGroupLimit (each
task keeps m rows per term before the exchange); champion rows are
bounded ``m``-element arrays, so no task ever materializes an unbounded
posting list. The query side broadcasts the tokenized queries, probes
champions for an at-most ``m x |q|`` candidate set, and restricts the
scoring explode with a left-semi join BEFORE aggregation — the full
posting rows of non-candidate docs still stream through the term probe,
but nothing beyond the candidate set reaches the per-(query, doc) state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import (
    _flat_postings,
    _per_term_score,
    query_terms,
    topk,
)

__all__ = ["build_champions", "search_champions", "search_tiered"]


def build_champions(
    index: IndexTables,
    m: int = 32,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
) -> DataFrame:
    """(term, doc_ids ARRAY<BIGINT>) — each term's top-``m`` docs by exact
    per-term score contribution, doc_ids sorted ascending.

    A build artifact (persist next to the index, like VSM norms and IVF
    centroids): selection order is (impact DESC, doc_id ASC).
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    flat = index.postings.select("term", "df", F.explode("postings").alias("p")).select(
        "term",
        "df",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )
    imp = _per_term_score(scoring, index, cfg)
    w = Window.partitionBy("term").orderBy(F.desc("_imp"), F.asc("doc_id"))
    return (
        flat.withColumn("_imp", imp)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    )


def search_champions(
    index: IndexTables,
    champions: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """queries(query_id, content) -> (query_id, rank, doc_id, score) over
    the champion candidate set only — exact scores, pruned candidates.

    Queries whose terms all miss the champion table (or tokenize to
    nothing) return no rows, exactly like the exhaustive path on unknown
    terms.
    """
    q_terms = query_terms(queries, stem=cfg.stem)
    cand = (
        champions.join(
            F.broadcast(q_terms.select("query_id", "term").distinct()), "term"
        )
        .select("query_id", F.explode("doc_ids").alias("doc_id"))
        .distinct()
    )
    flat = _flat_postings(index, q_terms)
    per_term = _per_term_score(scoring, index, cfg)
    scored = (
        flat.join(F.broadcast(cand), ["query_id", "doc_id"], "left_semi")
        .withColumn("_s", per_term * F.col("qtf").cast("double"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )
    return topk(scored, k if k is not None else cfg.k)


def search_tiered(
    index: IndexTables,
    champions: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """Tiered retrieval (IIR §7.2.1): answer from the champion tier when it
    can fill the page, fall back to the exhaustive tier per query when it
    cannot.

    A query whose champion-tier ranking has fewer than ``k`` rows (its
    candidate union was too small — short queries over pruned head terms)
    is re-run through the exhaustive path; every other query is served
    entirely from tier 1. The result therefore always has as many rows per
    query as the exhaustive path would produce (up to ``k``), while the
    common case touches only ``m x |q|`` candidates.

    Scale shape: tier-1 cost as :func:`search_champions`; the fallback
    re-runs ONLY the under-filled queries (an anti-join keeps the tier-2
    query frame tiny — typically a few percent), so the exhaustive plan's
    broadcast probe carries a reduced query set, not the full batch.
    """
    from fulltextsearch_spark.operators.query import search

    kk = k if k is not None else cfg.k
    t1 = search_champions(index, champions, queries, cfg, scoring=scoring, k=kk)
    full = t1.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    served = full.where(F.col("_n") >= kk).select("query_id")
    t2_queries = queries.join(served, "query_id", "left_anti")
    t2 = search(index, t2_queries, cfg, scoring=scoring, k=kk)
    return t1.join(F.broadcast(served), "query_id", "left_semi").unionByName(t2)

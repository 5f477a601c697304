"""Disjunction-max retrieval: Lucene's ``DisjunctionMaxQuery``.

Where the default OR scorer SUMS per-term scores (rewarding docs that match
many query terms weakly), dis_max ranks by the BEST single clause with the
others contributing only through a tie-breaker::

    score(q, d) = max_clause + tie_breaker * (sum_clauses - max_clause)

``tie_breaker=0`` is the pure max (the classic multi-field "best field"
semantics), ``tie_breaker=1`` degenerates to the plain sum. Clauses here are
the query's term queries; a duplicated query token is a duplicated clause —
it cannot raise the max (identical score) but adds its copies to the sum via
the token multiplicity ``qtf``, exactly Lucene's rewrite of duplicate
clauses.

Scale shape: identical broadcast posting probe as
:func:`~fulltextsearch_spark.operators.query.search`; the only change is the
aggregate — ``max`` and ``sum`` both combine map-side, so the shuffle is the
same per-(query, doc) candidate reduction, no new wide op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import (
    _flat_postings,
    _per_term_score,
    query_terms,
    topk,
)

__all__ = ["search_dismax"]


def search_dismax(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """queries(query_id, content) -> (query_id, rank, doc_id, score) top-k
    under ``max + tie_breaker * (sum - max)`` over per-term clause scores."""
    if not (0.0 <= tie_breaker <= 1.0):
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    q_terms = query_terms(queries, stem=cfg.stem)
    flat = _flat_postings(index, q_terms)
    per_clause = _per_term_score(scoring, index, cfg)
    agg = (
        flat.withColumn("_s", per_clause)
        .groupBy("query_id", "doc_id")
        .agg(
            F.max("_s").alias("_mx"),
            F.sum(F.col("_s") * F.col("qtf").cast("double")).alias("_tot"),
        )
    )
    scored = agg.select(
        "query_id",
        "doc_id",
        (
            F.col("_mx")
            + F.lit(float(tie_breaker)) * (F.col("_tot") - F.col("_mx"))
        ).alias("score"),
    )
    return topk(scored, k if k is not None else cfg.k)

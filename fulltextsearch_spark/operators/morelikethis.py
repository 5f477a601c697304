"""More-Like-This: related-document retrieval from seed documents.

Lucene's classic ``MoreLikeThis`` handler (the standard "similar pages"
feature the reference's engine family sits next to): the top
``max_query_terms`` terms of each seed document, ranked by tf-idf against
the collection, become a bag-of-words query; the engine's ordinary BM25 /
TF-IDF scorer ranks the rest of the corpus against it, with the seed doc
itself excluded. Term weighting is the engine's own
``(tf/dl) * ln((N-df+0.5)/(df+0.5)+1)`` (functions/scoring.py — pinned to
the reference's tf_idf.cpp:7-15 / scoring_function.hpp:65-69), so term
selection and final scoring share one idf definition.

Scale shape (the part Lucene does per-segment that must be re-thought for
Spark):

* seed term vectors come from a **pruned corpus scan** — the seed ids are a
  pushed-down ``doc_id IN (...)`` parquet filter, so IO is O(seed docs),
  never an explode of the full posting table;
* collection df comes from the skinny ``(term, df)`` projection of the
  postings (column pruning keeps posting arrays out of the scan), with the
  seed side **broadcast** — the big side never shuffles;
* per-seed dl needs no doc_stats lookup: the tokenizer's dl is the
  post-stop-filter token count, which is exactly ``sum(tf)`` over the
  seed's term vector;
* the generated query terms feed the unchanged exhaustive scorer
  (operators/query.py), inheriting its broadcast-probe / never-shuffle-
  postings plan and the deterministic (score DESC, doc_id ASC) top-k.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.scoring import idf_col
from fulltextsearch_spark.operators.index_build import (
    IndexTables,
    doc_term_frequencies,
)
from fulltextsearch_spark.operators.query import _scored_candidates, topk

__all__ = ["more_like_this", "seed_query_terms"]


def seed_query_terms(
    index: IndexTables,
    corpus: DataFrame,
    source_ids: Sequence[int],
    stem: bool = True,
    max_query_terms: int = 10,
) -> DataFrame:
    """(query_id=seed doc_id, term, qtf=1) — each seed's top tf-idf terms.

    Ties in the tf-idf weight break on term ASC — deterministic, and
    replayable by the driver oracle's ``row_number() OVER (... ORDER BY
    w DESC, term ASC)``.
    """
    spark = corpus.sparkSession
    ids = [int(i) for i in source_ids]
    seed_docs = corpus.filter(F.col("doc_id").isin(ids))  # pushed-down IN filter
    seed_tf = doc_term_frequencies(seed_docs, stem=stem)  # (doc_id, term, tf)

    with_df = index.postings.select("term", "df").join(F.broadcast(seed_tf), "term")

    dl = F.sum("tf").over(Window.partitionBy("doc_id")).cast("double")
    w = (F.col("tf").cast("double") / dl) * idf_col(
        F.col("df").cast("double"), index.n_docs
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("_w"), F.asc("term"))
    )
    return (
        with_df.withColumn("_w", w)
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= max_query_terms)
        .select(
            F.col("doc_id").alias("query_id"),
            "term",
            F.lit(1).cast("long").alias("qtf"),
        )
    )


def more_like_this(
    index: IndexTables,
    corpus: DataFrame,
    source_ids: Sequence[int],
    cfg: EngineConfig = DEFAULT_CONFIG,
    max_query_terms: int = 10,
    k: int | None = None,
    scoring: str = "bm25",
) -> DataFrame:
    """-> (query_id=seed doc_id, rank, doc_id, score): docs most like each seed.

    ``corpus`` is the (doc_id, text) table the index was built from — seed
    term vectors re-derive from it through the engine tokenizer (O(seeds)
    IO via predicate pushdown), NOT from exploding the posting lists.
    """
    q_terms = seed_query_terms(
        index, corpus, source_ids, stem=cfg.stem, max_query_terms=max_query_terms
    )
    scored = _scored_candidates(index, q_terms, cfg, scoring)
    # a seed trivially tops its own query — excluded, like Lucene's MLT
    scored = scored.filter(F.col("query_id") != F.col("doc_id"))
    return topk(scored, k if k is not None else cfg.k)

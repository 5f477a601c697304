"""Significant-terms aggregation: terms over-represented in a result set.

The Elasticsearch ``significant_terms`` aggregation with the JLH scoring
heuristic: for each query, the *foreground* is the document set returned by
a BM25 top-N search, the *background* is the whole corpus, and a term is
significant when its foreground document frequency share exceeds its
background share. JLH score::

    fg_pct = fg_count / fg_size        bg_pct = df / n_docs
    score  = (fg_pct - bg_pct) * (fg_pct / bg_pct)      [0 unless fg_pct > bg_pct]

— the product of the absolute lift and the relative lift, ES's default
balance between common-but-boosted and rare-but-concentrated terms.

Scale shape: the foreground is ``|queries| x n_fg`` doc ids — tiny, always
**broadcast**. Foreground term sets come from tokenizing ONLY those docs
(each distinct doc once, the Arrow tokenizer over a semi-joined slice of the
corpus — the analogue of ES reading the fg docs' term vectors), never from
exploding the inverted index. Background ``df`` comes from the skinny
``(term, df)`` dictionary projection probed with the broadcast candidate
terms (column pruning keeps posting arrays out of the scan; each term is
one row, so its ``df`` is the corpus total). Total work is
O(foreground docs) + one dictionary probe — independent of corpus size
beyond the probe, exactly what a 10^12-doc corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.tokenizer import tokenize_udf
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import search

__all__ = ["significant_terms"]


def significant_terms(
    index: IndexTables,
    docs: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_fg: int = 25,
    top_terms: int = 10,
    min_doc_count: int = 2,
) -> DataFrame:
    """(query_id, rank, term, fg_count, bg_count, score) per-query top
    significant terms of the BM25 top-``n_fg`` foreground.

    ``min_doc_count`` is ES's foreground support floor (default 2 here): a
    term seen in one foreground doc is never significant. Ranking is
    (score DESC, term ASC), deterministic.
    """
    fg = search(index, queries, cfg, k=n_fg).select("query_id", "doc_id")
    fg_sizes = fg.groupBy("query_id").agg(F.count(F.lit(1)).alias("fg_size"))

    # tokenize each distinct foreground doc once, then fan out per query
    tok = tokenize_udf(cfg.stem)
    fg_ids = fg.select("doc_id").distinct()
    doc_terms = docs.join(F.broadcast(fg_ids), "doc_id", "left_semi").select(
        "doc_id", F.explode(F.array_distinct(tok(F.col("text")))).alias("term")
    )
    fg_counts = (
        doc_terms.join(F.broadcast(fg), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
        .filter(F.col("fg_count") >= min_doc_count)
    )

    cand_terms = fg_counts.select("term").distinct()
    bg = index.postings.select("term", "df").join(F.broadcast(cand_terms), "term")

    n_docs = float(index.n_docs)
    scored = (
        fg_counts.join(F.broadcast(fg_sizes), "query_id")
        .join(F.broadcast(bg), "term")
        .withColumn(
            "_fg_pct", F.col("fg_count").cast("double") / F.col("fg_size").cast("double")
        )
        .withColumn("_bg_pct", F.col("df").cast("double") / F.lit(n_docs))
        .withColumn(
            "score",
            (F.col("_fg_pct") - F.col("_bg_pct")) * (F.col("_fg_pct") / F.col("_bg_pct")),
        )
        .filter(F.col("_fg_pct") > F.col("_bg_pct"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
        .select(
            "query_id",
            "rank",
            "term",
            "fg_count",
            F.col("df").alias("bg_count"),
            "score",
        )
    )

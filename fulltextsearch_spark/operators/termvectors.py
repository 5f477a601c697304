"""Term vectors: per-document term statistics for a requested doc set.

The Elasticsearch ``_termvectors`` API (``term_statistics=true``): for each
requested document, every term it contains with its within-doc frequency
plus the corpus-level statistics a scorer would see — document frequency
``df`` and total collection frequency ``ttf``.

Scale shape: the requested doc set is small by contract (it is a per-doc
inspection API) and **broadcast** against the corpus for a left-semi slice;
those docs are tokenized forward (Arrow batch), so per-doc stats cost
O(requested docs), not an index scan. Corpus statistics come from the
posting table probed with the broadcast candidate-term set: ``df`` from the
skinny ``(term, df)`` projection and ``ttf`` via ``F.aggregate`` over the
posting array WITHOUT exploding it (the same semi-narrowed probe the
LM-Dirichlet scorer uses) — parquet row-group pruning on ``term`` touches
only matched row groups, and each term is one row, so nothing regroups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.tokenizer import tokenize_udf
from fulltextsearch_spark.operators.index_build import IndexTables

__all__ = ["doc_keywords", "term_vectors"]


def term_vectors(
    index: IndexTables,
    docs: DataFrame,
    doc_ids: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(doc_id, term, tf, dl, df, ttf) for every term of each requested doc.

    ``doc_ids`` is any DataFrame with a ``doc_id`` column. ``dl`` is the
    doc's token count (post stop-filter — the index's dl definition), ``df``
    the term's corpus document frequency, ``ttf`` its total collection
    frequency (sum of tf over all docs).
    """
    tok = tokenize_udf(cfg.stem)
    toks = (
        docs.join(F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_semi")
        .select("doc_id", tok(F.col("text")).alias("_tokens"))
        .select("doc_id", F.size("_tokens").alias("dl"), F.explode("_tokens").alias("term"))
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))

    cand = tf.select("term").distinct()
    stats = index.postings.join(F.broadcast(cand), "term").select(
        "term",
        "df",
        F.aggregate(
            "postings", F.lit(0).cast("long"), lambda acc, p: acc + p["tf"]
        ).alias("ttf"),
    )
    return tf.join(F.broadcast(stats), "term").select(
        "doc_id", "term", "tf", "dl", "df", "ttf"
    )


def doc_keywords(
    index: IndexTables,
    docs: DataFrame,
    doc_ids: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    top_terms: int = 5,
) -> DataFrame:
    """(doc_id, rank, term, score) — each requested doc's top tf-idf terms.

    Keyword extraction (the first half of Lucene's More-Like-This, exposed
    as its own surface; ES analogue: per-doc significant text): terms ranked
    by the engine's tf-idf — ``(tf/dl) * idf(df)`` with the same arithmetic
    as the tfidf search path — ties broken term ASC. Cost is exactly
    :func:`term_vectors` plus a window over its ≤(docs x vocab-per-doc)
    rows."""
    from pyspark.sql import Window

    from fulltextsearch_spark.functions.scoring import tfidf_col

    tv = term_vectors(index, docs, doc_ids, cfg)
    scored = tv.select(
        "doc_id",
        "term",
        tfidf_col(F.col("tf"), F.col("df"), F.col("dl"), float(index.n_docs)).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
        .select("doc_id", "rank", "term", "score")
    )

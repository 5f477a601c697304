"""Vector-space-model (tf-idf cosine) ranking engine.

The reference DECLARES this engine but never implemented it — every method of
``/root/reference/src/algorithms/vsm/vector_space_model_engine.cpp:8-33``
throws ``std::runtime_error("... not yet implemented.")``. This module
completes the reference's own roadmap with classical VSM semantics over the
same logical index the other engines share:

* document weight  ``w(d,t) = (tf/dl) * idf(t)``   (the reference's TF-IDF
  weight, ``src/scoring/tf_idf.cpp:7-15``, with its BM25+-style idf
  ``src/scoring/scoring_function.hpp:65-69``)
* query weight     ``q(t)   = qtf * idf(t)``       (duplicate query tokens
  keep multiplicity, matching the accumulation rule of
  ``inverted_index_engine.cpp:116-135``)
* ``score(q,d) = sum_t w(d,t) q(t) / (||d|| * ||q||)`` — cosine over the
  corpus vocabulary; query terms absent from the corpus drop out of both the
  dot product and ``||q||`` (inner-join semantics, mirroring the reference's
  skip of unknown terms at :121-126).

Everything is Column math (no UDF beyond the shared tokenizer): the doc-norm
table is one explode + groupBy over the postings — a BUILD-time artifact
(:func:`build_vsm` materializes and persists it once; the same shape as
``doc_stats``), never recomputed per query batch. The query-time plan
broadcast-joins the tokenized query terms into the postings BEFORE the
explode, so only matched terms' arrays ever unnest — no full-corpus explode
at query time (pinned by tests/test_plans.py). Top-k uses the deterministic
(score DESC, doc_id ASC) order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import query_terms

__all__ = ["VSMIndex", "build_vsm", "doc_norms", "search_rocchio", "search_vsm"]


def _idf(df_col, n_docs: int):
    return F.log((F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5) + 1.0)


def _flat_weights(index: IndexTables) -> DataFrame:
    """(term, df, doc_id, w) — tf-idf weight per posting."""
    flat = index.postings.select(
        "term", "df", F.explode("postings").alias("p")
    ).select(
        "term",
        "df",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )
    w = (F.col("tf").cast("double") / F.col("dl")) * _idf(F.col("df"), index.n_docs)
    return flat.select("term", "df", "doc_id", w.alias("w"))


def doc_norms(index: IndexTables) -> DataFrame:
    """(doc_id, norm) — L2 norm of each document's tf-idf vector."""
    return (
        _flat_weights(index)
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    )


@dataclass
class VSMIndex:
    """Logical index + materialized doc-norm table (build artifact)."""

    index: IndexTables
    norms: DataFrame


def build_vsm(index: IndexTables, persist: bool = True) -> VSMIndex:
    """Materialize the VSM build artifacts ONCE: the doc-norm table is a
    full-postings aggregation (the expensive part of cosine scoring), computed
    here and persisted so query batches reuse it instead of re-running the
    corpus explode per call."""
    norms = doc_norms(index)
    if persist:
        from pyspark.storagelevel import StorageLevel  # noqa: PLC0415

        norms = norms.persist(StorageLevel.MEMORY_AND_DISK)
    return VSMIndex(index=index, norms=norms)


def search_vsm(
    index: IndexTables | VSMIndex,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    norms: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — cosine top-k per query."""
    if isinstance(index, VSMIndex):
        index, norms = index.index, index.norms
    if norms is None:
        norms = doc_norms(index)

    q_terms = query_terms(queries, cfg.stem)
    qw = q_terms.join(index.postings.select("term", "df"), "term").select(
        "query_id",
        "term",
        F.col("df").alias("df_term"),
        (F.col("qtf").cast("double") * _idf(F.col("df"), index.n_docs)).alias("qw"),
    )
    return _rank_weighted(index, norms, qw, cfg.k)


def _rank_weighted(
    index: IndexTables, norms: DataFrame, qw: DataFrame, k: int
) -> DataFrame:
    """Cosine top-k for an explicit query-weight frame
    ``(query_id, term, df_term, qw)`` — the shared back half of plain VSM
    and Rocchio-expanded retrieval; the query norm derives from the SAME
    weights that enter the dot product, so any expansion stays a true
    cosine."""
    qnorm = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm")
    )

    # join BEFORE exploding: only the matched terms' posting arrays unnest
    # (a Generate never sees the unmatched corpus rows); the per-posting
    # weight math is identical to _flat_weights.
    matched = index.postings.join(F.broadcast(qw), "term").select(
        "query_id",
        "qw",
        "df_term",
        F.explode("postings").alias("p"),
    )
    dw = (F.col("p.tf").cast("double") / F.col("p.dl")) * _idf(
        F.col("df_term"), index.n_docs
    )
    dots = (
        matched.select(
            "query_id", F.col("p.doc_id").alias("doc_id"), (dw * F.col("qw")).alias("_d")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_d").alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .join(F.broadcast(qnorm), "query_id")
        .select(
            "query_id",
            "doc_id",
            (F.col("dot") / (F.col("norm") * F.col("qnorm"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "doc_id", "score")
    )


def search_rocchio(
    index: IndexTables | VSMIndex,
    queries: DataFrame,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    fb_docs: int = 5,
    fb_terms: int = 10,
    alpha: float = 1.0,
    beta: float = 0.75,
    norms: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Rocchio pseudo-relevance feedback (Rocchio 1971; Manning IIR §9.1.1)
    over the VSM engine — the vector-space twin of the BM25 path's RM3:

    pass 1 ranks by plain cosine; the top ``fb_docs`` per query act as the
    relevant set Dr; the modified query is
    ``q' = alpha*q + (beta/|Dr|) * sum_{d in Dr} d`` (gamma = 0, the
    standard PRF setting — no explicit non-relevant set), truncated to the
    ``fb_terms`` highest-weight terms (weight DESC, term ASC tiebreak);
    pass 2 ranks by cosine of q' through the same
    :func:`_rank_weighted` back half, query norm recomputed from q'.

    Feedback vectors are built by FORWARD tokenization of only the fb docs
    (a left-semi pruned scan of ``docs`` — the corpus-scale table is never
    re-tokenized, same contract as ``search_rm3``); their idf comes from a
    broadcast probe of the skinny (term, df) dictionary projection.
    """
    from fulltextsearch_spark.functions.tokenizer import tokenize_udf

    if isinstance(index, VSMIndex):
        index, norms = index.index, index.norms
    if norms is None:
        norms = doc_norms(index)
    if fb_docs < 1 or fb_terms < 1:
        raise ValueError("fb_docs and fb_terms must be >= 1")

    dft = index.postings.select("term", "df")
    q_terms = query_terms(queries, cfg.stem)
    qw0 = q_terms.join(dft, "term").select(
        "query_id",
        "term",
        (F.col("qtf").cast("double") * _idf(F.col("df"), index.n_docs)).alias("qw0"),
    )
    pass1 = _rank_weighted(
        index,
        norms,
        q_terms.join(dft, "term").select(
            "query_id",
            "term",
            F.col("df").alias("df_term"),
            (F.col("qtf").cast("double") * _idf(F.col("df"), index.n_docs)).alias("qw"),
        ),
        fb_docs,
    )
    fb = pass1.select("query_id", "doc_id")
    n_fb = fb.groupBy("query_id").agg(F.count(F.lit(1)).cast("double").alias("n_fb"))

    # forward-tokenize ONLY the fb docs; dl from doc_stats (build artifact)
    fb_docs_df = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col)
    ).join(fb.select("doc_id").distinct(), "doc_id", "left_semi")
    fb_tf = (
        fb_docs_df.select(
            "doc_id", F.explode(tokenize_udf(cfg.stem)(F.col(text_col))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    fb_w = (
        fb.join(fb_tf, "doc_id")
        .join(index.doc_stats, "doc_id")
        .join(F.broadcast(dft), "term")
        .select(
            "query_id",
            "term",
            (
                (F.col("tf").cast("double") / F.col("dl"))
                * _idf(F.col("df"), index.n_docs)
            ).alias("w"),
        )
    )
    centroid = (
        fb_w.groupBy("query_id", "term")
        .agg(F.sum("w").alias("sw"))
        .join(F.broadcast(n_fb), "query_id")
        .select(
            "query_id", "term", (F.col("sw") / F.col("n_fb")).alias("cw")
        )
    )
    combined = (
        qw0.join(centroid, ["query_id", "term"], "full")
        .select(
            "query_id",
            "term",
            (
                F.lit(float(alpha)) * F.coalesce("qw0", F.lit(0.0))
                + F.lit(float(beta)) * F.coalesce("cw", F.lit(0.0))
            ).alias("qw"),
        )
    )
    wsel = Window.partitionBy("query_id").orderBy(F.desc("qw"), F.asc("term"))
    expanded = (
        combined.withColumn("_r", F.row_number().over(wsel))
        .filter(F.col("_r") <= fb_terms)
        .drop("_r")
        .join(F.broadcast(dft), "term")
        .select("query_id", "term", F.col("df").alias("df_term"), "qw")
    )
    return _rank_weighted(index, norms, expanded, cfg.k)

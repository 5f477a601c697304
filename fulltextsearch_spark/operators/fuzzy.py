"""Fuzzy search: Lucene ``FuzzyQuery`` — edit-distance term expansion.

A query term matches every vocabulary term within ``max_edits`` Levenshtein
edits; each match becomes a scored clause of the disjunction, weighted by
the Lucene fuzzy boost::

    boost = 1 - edits / min(len(query_term), len(matched_term))

(an exact match keeps full weight, a 1-edit match against a 4-char term
keeps 0.75, ...). Clause weights feed the unchanged BM25/TF-IDF scorer
through the ``qtf`` channel, exactly like weighted synonym expansion.

Scale shape: the expansion is a broadcast join of the tiny query-term table
against the skinny ``(term, df)`` dictionary projection (posting arrays
pruned out of the scan). With ``prefix_len=0`` that is a nested-loop with a
``levenshtein <= k`` predicate over the dictionary — O(dictionary) per
term, the same worst case as Lucene walking its FST Levenshtein automaton.
``prefix_len >= 1`` (Lucene's ``prefix_length``) adds an EQUI-join component
on the shared prefix, which Catalyst turns into a hash join — the
dictionary is probed, not scanned, and the levenshtein predicate only runs
on same-prefix candidates. A cheap length band (``abs(len diff) <= k``)
prunes before the edit-distance computation either way. On a 10^12-doc
corpus dictionary (~10^8 terms) prefix_len=1 cuts the candidate set ~30x
before any O(len^2) distance work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import _scored_candidates, topk

__all__ = ["expand_fuzzy", "search_fuzzy", "autocorrect_terms", "search_autocorrect",
]


def expand_fuzzy(
    index: IndexTables,
    fuzzy_terms: DataFrame,
    max_edits: int = 2,
    prefix_len: int = 0,
    max_expansions: int | None = 50,
) -> DataFrame:
    """fuzzy_terms(query_id, qterm) -> (query_id, term, qtf) weighted clauses.

    ``qtf`` is the summed fuzzy boost over the query's qterms matching the
    vocabulary term (a term reachable from two qterms accumulates both
    boosts — the multi-clause analogue of duplicate query tokens).
    ``max_expansions`` keeps each qterm's best matches only (fewest edits,
    then highest df, then term ASC) — Lucene's ``maxExpansions``.
    """
    if max_edits < 0:
        raise ValueError(f"max_edits must be >= 0, got {max_edits}")
    q = fuzzy_terms.select("query_id", "qterm")
    cond = (
        F.abs(F.length("term") - F.length("qterm")) <= F.lit(max_edits)
    ) & (F.levenshtein(F.col("term"), F.col("qterm")) <= F.lit(max_edits))
    if prefix_len > 0:
        # equi-component first: Catalyst extracts it into a hash-join key,
        # so the dictionary is probed per prefix instead of fully scanned
        cond = (
            F.substring("term", 1, prefix_len) == F.substring("qterm", 1, prefix_len)
        ) & cond
    cand = index.postings.select("term", "df").join(F.broadcast(q), on=cond, how="inner")
    cand = cand.withColumn(
        "_edits", F.levenshtein(F.col("term"), F.col("qterm"))
    ).withColumn(
        "_boost",
        F.lit(1.0)
        - F.col("_edits").cast("double")
        / F.least(F.length("term"), F.length("qterm")).cast("double"),
    )
    if max_expansions is not None:
        w = Window.partitionBy("query_id", "qterm").orderBy(
            F.asc("_edits"), F.desc("df"), F.asc("term")
        )
        cand = cand.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_expansions
        )
    return cand.groupBy("query_id", "term").agg(F.sum("_boost").alias("qtf"))


def search_fuzzy(
    index: IndexTables,
    fuzzy_terms: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    max_edits: int = 2,
    prefix_len: int = 0,
    max_expansions: int | None = 50,
) -> DataFrame:
    """fuzzy_terms(query_id, qterm) -> (query_id, rank, doc_id, score) top-k
    of the boost-weighted disjunction over edit-distance term matches."""
    q_terms = expand_fuzzy(index, fuzzy_terms, max_edits, prefix_len, max_expansions)
    return topk(
        _scored_candidates(index, q_terms, cfg, scoring), k if k is not None else cfg.k
    )


def autocorrect_terms(
    index: IndexTables,
    slots: DataFrame,
    max_edits: int = 2,
    lam: float = 1.5,
) -> DataFrame:
    """slots(query_id, slot, term) -> (query_id, slot, corrected, edits):
    noisy-channel spelling correction per query token (Kernighan, Church &
    Gale 1990 shape): a token present in the index dictionary is NEVER
    corrected (valid words stay); an OOV token maps to the candidate
    maximizing ``ln(df) - lam * edits`` (language-model prior minus the
    error-model penalty) within ``max_edits`` Levenshtein, tie-broken
    term-ASC; an OOV token with no candidate keeps itself (and will match
    nothing downstream — the honest outcome for gibberish).

    The candidate join is the same banded levenshtein probe as
    :func:`expand_fuzzy` (length band + broadcast query side — the skinny
    dictionary is probed, never shuffled).
    """
    d = index.postings.select("term", "df")
    in_dict = slots.join(
        d.select(F.col("term"), F.lit(1).alias("_hit")), "term", "left"
    )
    known = in_dict.where(F.col("_hit").isNotNull()).select(
        "query_id", "slot", F.col("term").alias("corrected"),
        F.lit(0).cast("long").alias("edits"),
    )
    oov = in_dict.where(F.col("_hit").isNull()).select(
        "query_id", "slot", F.col("term").alias("qterm")
    )
    cond = (
        F.abs(F.length("term") - F.length("qterm")) <= F.lit(max_edits)
    ) & (F.levenshtein(F.col("term"), F.col("qterm")) <= F.lit(max_edits))
    cand = d.join(F.broadcast(oov), on=cond, how="inner").withColumn(
        "_edits", F.levenshtein(F.col("term"), F.col("qterm"))
    ).withColumn(
        "_score",
        F.log(F.col("df").cast("double")) - F.lit(float(lam)) * F.col("_edits"),
    )
    w = Window.partitionBy("query_id", "slot").orderBy(
        F.desc("_score"), F.asc("term")
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", "slot", F.col("term").alias("corrected"),
            F.col("_edits").cast("long").alias("edits"),
        )
    )
    uncorrectable = oov.join(
        best.select("query_id", "slot"), ["query_id", "slot"], "left_anti"
    ).select(
        "query_id", "slot", F.col("qterm").alias("corrected"),
        F.lit(-1).cast("long").alias("edits"),
    )
    return known.unionByName(best).unionByName(uncorrectable)


def search_autocorrect(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    max_edits: int = 2,
    lam: float = 1.5,
    k: int | None = None,
) -> DataFrame:
    """Correct-then-retrieve ("showing results for ..."): every query token
    autocorrects via :func:`autocorrect_terms`, then the corrected bag of
    words runs through the unchanged BM25 scorer with the engine's
    duplicate-token multiplicity semantics."""
    from fulltextsearch_spark.operators.positional import phrase_slots
    from fulltextsearch_spark.operators.query import _scored_candidates, topk

    slots = phrase_slots(queries, stem=cfg.stem)
    fixed = autocorrect_terms(index, slots, max_edits=max_edits, lam=lam)
    q_terms = fixed.groupBy("query_id", F.col("corrected").alias("term")).agg(
        F.count(F.lit(1)).alias("qtf")
    )
    scored = _scored_candidates(index, q_terms, cfg, "bm25")
    return topk(scored, k if k is not None else cfg.k)

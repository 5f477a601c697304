"""Prefix autocomplete over the index term dictionary.

The search-box completion surface (Lucene suggesters / ES
``completion``-style, popularity-ranked): given a typed prefix, return the
top-``k`` vocabulary terms that start with it, ranked by document
frequency (how many docs contain the term — the engine's own ``df``, so
the suggester needs NO extra artifact beyond the index), tie-broken by
term ASC for determinism.

Scale shape: the candidate source is the skinny ``(term, df)`` projection
of the postings — column pruning keeps posting arrays out of the scan, and
each term is one row, so its ``df`` is the term total as stored. The
prefix table is tiny and **broadcast**; ``startswith`` is a non-equi
predicate, so the join is a broadcast nested-loop over the dictionary —
one map-side pass, nothing shuffles but the (prefix, candidate) survivors
entering the per-prefix top-k. A 10^12-doc corpus's term dictionary is
~10^8 rows — a per-executor-memory-sized broadcast complement, scanned
once per suggestion batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.operators.index_build import IndexTables

__all__ = ["autocomplete"]


def autocomplete(index: IndexTables, prefixes: DataFrame, k: int = 5) -> DataFrame:
    """prefixes(query_id, prefix) -> (query_id, rank, term, df) top-k per prefix.

    Prefixes are matched verbatim against the dictionary (callers wanting
    the engine's case folding should pre-tokenize the prefix); a prefix
    with no matching vocabulary yields no rows.
    """
    cand = index.postings.select("term", "df").join(
        F.broadcast(prefixes), F.col("term").startswith(F.col("prefix")), "inner"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "term", F.col("df").cast("long").alias("df"))
    )

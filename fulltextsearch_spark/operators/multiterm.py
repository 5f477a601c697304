"""Multi-term query expansion: wildcard and regexp search over the dictionary.

The Lucene ``WildcardQuery`` / ``RegexpQuery`` surface (``MultiTermQuery``
with the ``SCORING_BOOLEAN_REWRITE`` semantics): a pattern is expanded
against the index's term dictionary into the set of vocabulary terms it
matches, and the query is then scored as the plain BM25/TF-IDF disjunction
of those terms. A term matched by several of a query's patterns contributes
once per matching pattern (each pattern is an independent clause — the
exact analogue of duplicate query tokens on the token path, reference
``inverted_index_engine.cpp:119-135``).

Pattern languages:

* **wildcard** — Lucene syntax: ``*`` matches any run (incl. empty), ``?``
  matches exactly one character; everything else is literal (the engine
  vocabulary is the tokenizer's 67-char whitelist, so ``%``/``_``/``$`` are
  legitimate term bytes and are escaped before the LIKE translation).
  Escaping ``*``/``?`` themselves is not supported.
* **regexp** — anchored full-term match (Lucene ``RegexpQuery`` semantics:
  the pattern must cover the whole term, not a substring), via
  ``^(?:pattern)$``.

Scale shape: expansion touches only the skinny ``(term, df)`` projection of
the postings — column pruning keeps posting arrays out of the dictionary
scan, and each term is one row, so the dictionary is the projection. The
pattern table is tiny and **broadcast**; LIKE/RLIKE against a column
pattern is a non-equi predicate, so the join is a broadcast nested-loop
over the dictionary — one map-side pass (a 10^12-doc corpus's dictionary is
~10^8 rows, scanned once per pattern batch; Lucene walks an FST per
pattern, same O(dictionary) worst case). ``max_expansions`` bounds the
per-pattern clause count exactly like Lucene's ``maxExpansions`` (keep the
``max_expansions`` highest-df terms; ties break term ASC) so one ``a*``
pattern cannot fan a query out into millions of posting probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.index_build import IndexTables
from fulltextsearch_spark.operators.query import _scored_candidates, topk

__all__ = [
    "expand_patterns",
    "search_regexp",
    "search_wildcard",
    "wildcard_to_like",
    "build_term_trigrams", "required_literal_runs", "search_regexp_trigram",
]


def wildcard_to_like(pattern_col) -> F.Column:
    """Lucene wildcard -> SQL LIKE pattern Column (``*``->``%``, ``?``->``_``),
    escaping LIKE metacharacters that are literal in the wildcard syntax."""
    esc = F.regexp_replace(pattern_col, r"([%_\\])", r"\\$1")
    return F.translate(esc, "*?", "%_")


def expand_patterns(
    index: IndexTables,
    patterns: DataFrame,
    syntax: str = "wildcard",
    max_expansions: int | None = None,
) -> DataFrame:
    """patterns(query_id, pattern) -> (query_id, term, qtf) expanded clauses.

    ``qtf`` = number of the query's patterns matching the term (clause
    multiplicity). With ``max_expansions``, each pattern keeps only its
    ``max_expansions`` highest-df matches (ties: term ASC) BEFORE the
    per-query merge — Lucene's per-``MultiTermQuery`` cap, applied
    deterministically.
    """
    if syntax == "wildcard":
        cond = F.expr("term LIKE _like ESCAPE '\\\\'")
        pats = patterns.withColumn("_like", wildcard_to_like(F.col("pattern")))
    elif syntax == "regexp":
        cond = F.expr("term RLIKE _re")
        pats = patterns.withColumn(
            "_re", F.concat(F.lit("^(?:"), F.col("pattern"), F.lit(")$"))
        )
    else:
        raise ValueError(f"unknown syntax {syntax!r} (use 'wildcard' or 'regexp')")
    cand = index.postings.select("term", "df").join(F.broadcast(pats), cond, "inner")
    if max_expansions is not None:
        w = Window.partitionBy("query_id", "pattern").orderBy(
            F.desc("df"), F.asc("term")
        )
        cand = cand.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_expansions
        )
    return cand.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))


def search_wildcard(
    index: IndexTables,
    patterns: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    max_expansions: int | None = None,
) -> DataFrame:
    """patterns(query_id, pattern) -> (query_id, rank, doc_id, score) top-k,
    scoring the disjunction of each query's wildcard-expanded terms."""
    q_terms = expand_patterns(index, patterns, "wildcard", max_expansions)
    return topk(
        _scored_candidates(index, q_terms, cfg, scoring), k if k is not None else cfg.k
    )


def search_regexp(
    index: IndexTables,
    patterns: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    max_expansions: int | None = None,
) -> DataFrame:
    """Anchored-regexp analogue of :func:`search_wildcard`."""
    q_terms = expand_patterns(index, patterns, "regexp", max_expansions)
    return topk(
        _scored_candidates(index, q_terms, cfg, scoring), k if k is not None else cfg.k
    )


_REGEX_META = set(".*+?[](){}|\\^$")


def required_literal_runs(pattern: str, min_len: int = 3) -> list[str]:
    r"""Literal substrings every match of ``pattern`` must contain — the
    required-factor extraction of Cox's trigram code search (conservative
    subset): maximal runs of plain characters, broken at any regex
    metacharacter, with a run's LAST character dropped when a quantifier
    follows it (that character may repeat or vanish). GROUP contents are
    never collected (a trailing ``?``/``*`` could make them optional —
    weaker pruning, never wrong). Any alternation voids all guarantees,
    and any BACKSLASH bails out too (escapes inside classes/groups would
    otherwise derail the bracket/paren scanning — e.g. ``[x\]abc]`` would
    falsely mark ``abc`` required); both return [] (no prefilter, plain
    dictionary scan — conservative, never wrong).
    """
    if "|" in pattern or "\\" in pattern:
        return []
    runs: list[str] = []
    cur: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        ch = pattern[i]
        if ch in _REGEX_META:
            if ch in "*+?{" and cur:
                cur.pop()  # quantifier binds the previous literal
            if ch == "[":
                while i < n and pattern[i] != "]":
                    i += 1
            if ch == "{":
                while i < n and pattern[i] != "}":
                    i += 1
            if ch == "(":
                depth = 1
                while i + 1 < n and depth:
                    i += 1
                    if pattern[i] == "(":
                        depth += 1
                    elif pattern[i] == ")":
                        depth -= 1
            if cur:
                runs.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        runs.append("".join(cur))
    return [r for r in runs if len(r) >= min_len]


def build_term_trigrams(index: IndexTables) -> DataFrame:
    """(tri, term) — character-trigram posting map over the vocabulary, the
    build artifact of trigram-accelerated regex search (persist next to
    the index like champions/VSM norms). ~(len-2) rows per term."""
    d = index.postings.select("term")
    idxs = F.sequence(F.lit(1), F.greatest(F.length("term") - 2, F.lit(0)))
    return (
        d.where(F.length("term") >= 3)
        .select(
            "term",
            F.explode(
                F.transform(idxs, lambda i: F.col("term").substr(i, F.lit(3)))
            ).alias("tri"),
        )
        .distinct()
    )


def search_regexp_trigram(
    index: IndexTables,
    tri_map: DataFrame,
    patterns: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    max_expansions: int | None = None,
) -> DataFrame:
    """Regexp search with trigram prefiltering (Cox, "Regular Expression
    Matching with a Trigram Index" — the Google Code Search design,
    re-expressed over the engine's vocabulary): each pattern's required
    literal runs become required trigrams; candidate terms come from
    INTERSECTING the trigram posting map (probed rows only — the
    vocabulary is never scanned for such patterns), and only candidates
    pay the RLIKE verification. Patterns with no extractable run fall
    back to the full-dictionary scan of :func:`search_regexp` —
    conservative, never wrong. Result-identical to :func:`search_regexp`
    by construction (pinned by test and by the shared driver oracle).
    """
    pats = patterns.select("query_id", "pattern").collect()
    tri_rows = []
    fallback = []
    for r in pats:
        tris = sorted(
            {run[i : i + 3] for run in required_literal_runs(r["pattern"])
             for i in range(len(run) - 2)}
        )
        if tris:
            tri_rows += [(r["query_id"], r["pattern"], t) for t in tris]
        else:
            fallback.append((r["query_id"], r["pattern"]))
    spark = patterns.sparkSession
    parts = []
    if tri_rows:
        req = spark.createDataFrame(tri_rows, ["query_id", "pattern", "tri"])
        n_req = req.groupBy("query_id", "pattern").agg(
            F.count(F.lit(1)).alias("_n")
        )
        cand = (
            tri_map.join(F.broadcast(req), "tri")
            .groupBy("query_id", "pattern", "term")
            .agg(F.count(F.lit(1)).alias("_hit"))
            .join(F.broadcast(n_req), ["query_id", "pattern"])
            .where(F.col("_hit") == F.col("_n"))
            .where(F.expr("term RLIKE concat('^(?:', pattern, ')$')"))
            .join(index.postings.select("term", "df"), "term")
            .select("query_id", "pattern", "term", "df")
        )
        parts.append(cand)
    if fallback:
        fb_pats = spark.createDataFrame(fallback, ["query_id", "pattern"])
        cond = F.expr("term RLIKE _re")
        fb = index.postings.select("term", "df").join(
            F.broadcast(
                fb_pats.withColumn(
                    "_re", F.concat(F.lit("^(?:"), F.col("pattern"), F.lit(")$"))
                )
            ),
            cond,
            "inner",
        ).select("query_id", "pattern", "term", "df")
        parts.append(fb)
    if not parts:
        # Mirror search_regexp: an empty pattern set yields an empty result
        # frame, not an error — the two are documented result-identical.
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id bigint, score double"
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    if max_expansions is not None:
        w = Window.partitionBy("query_id", "pattern").orderBy(
            F.desc("df"), F.asc("term")
        )
        cand = cand.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_expansions
        )
    q_terms = cand.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    return topk(
        _scored_candidates(index, q_terms, cfg, scoring), k if k is not None else cfg.k
    )

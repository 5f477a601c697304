"""Top-k query serving over the logical inverted index (exhaustive path).

Mirrors the reference's ``search()``
(``/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:109-162``)
as declarative DataFrame ops:

* query tokenization uses the *same* Arrow tokenizer; duplicate query tokens
  contribute multiple times to the score (the reference loops over tokens,
  not unique terms, ``:119-135``) — expressed deterministically as
  ``score * qtf`` after a groupBy on query terms;
* missing terms drop out via the inner join (``find()`` miss, ``:121-126``);
* top-k order is (score DESC, doc_id ASC) — the reference's heap breaks
  boundary ties by hash order (nondeterministic, ``:137-152``); we define
  the deterministic tiebreak;
* the query side is tiny and **broadcast**; postings never shuffle at query
  time. The per-(query, doc) sum shuffles candidates only.

This exhaustive path is the semantic oracle for the block-max WAND path
(:mod:`fulltextsearch_spark.operators.wand`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.scoring import bm25_col, lm_dirichlet_col, tfidf_col
from fulltextsearch_spark.functions.tokenizer import tokenize_udf
from fulltextsearch_spark.operators.index_build import IndexTables

__all__ = [
    "clarity_scores",
    "expand_query_terms",
    "explain_scores",
    "query_terms",
    "search",
    "search_conjunctive",
    "search_expanded",
    "search_filtered",
    "search_lm_dirichlet",
    "search_rm3",
    "topk",
]


def query_terms(queries: DataFrame, stem: bool = True) -> DataFrame:
    """(query_id, term, qtf) — tokenized queries with duplicate multiplicity."""
    tok = tokenize_udf(stem)
    return (
        queries.select("query_id", F.explode(tok(F.col("content"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def _per_term_score(scoring: str, index: IndexTables, cfg: EngineConfig):
    """Per-(term, doc) score Column over (tf, df, dl) — shared dispatch so
    the ranked path and explain() can never disagree on the arithmetic."""
    if scoring == "bm25":
        return bm25_col(
            F.col("tf"), F.col("df"), F.col("dl"), index.n_docs, index.avgdl, cfg.k1, cfg.b
        )
    if scoring == "tfidf":
        return tfidf_col(F.col("tf"), F.col("df"), F.col("dl"), index.n_docs)
    if scoring == "dfr":
        from fulltextsearch_spark.functions.scoring import dfr_inl2_col

        return dfr_inl2_col(
            F.col("tf"), F.col("df"), F.col("dl"), index.n_docs, index.avgdl
        )
    raise ValueError(f"unknown scoring {scoring!r} (use 'bm25', 'tfidf' or 'dfr')")


def _flat_postings(index: IndexTables, q_terms: DataFrame) -> DataFrame:
    """(query_id, qtf, df, doc_id, tf, dl) — the broadcast query probe
    exploded to per-posting rows. The single source of the probe
    projection, shared by the exhaustive scorer, the champion-list path,
    and the tuning sweep."""
    return index.postings.join(F.broadcast(q_terms), "term").select(
        "query_id",
        "qtf",
        "df",
        F.explode("postings").alias("p"),
    ).select(
        "query_id",
        "qtf",
        "df",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )


def _scored_candidates(
    index: IndexTables,
    q_terms: DataFrame,
    cfg: EngineConfig,
    scoring: str,
    with_matches: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) — per-(query, doc) accumulated scores.

    The broadcast probe via :func:`_flat_postings`; scoring arithmetic via
    :func:`_per_term_score`, shared with :func:`explain_scores`.
    """
    flat = _flat_postings(index, q_terms)
    per_term = _per_term_score(scoring, index, cfg)
    aggs = [F.sum("_s").alias("score")]
    if with_matches:
        # one flat row per matched (query term, doc) — postings carry each
        # (term, doc) exactly once — so count(*) IS the number of distinct
        # query terms the doc matched.
        aggs.append(F.count(F.lit(1)).alias("n_matched"))
    return (
        flat.withColumn("_s", per_term * F.col("qtf").cast("double"))
        .groupBy("query_id", "doc_id")
        .agg(*aggs)
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, doc_id, score) — deterministic per-query top-k.

    Window + row_number compiles to WindowGroupLimit (rank pushdown): each
    shuffle partition keeps only its local top-k before the final per-query
    selection — the distributed analogue of the reference's size-k min-heap
    (``inverted_index_engine.cpp:137-161``).
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def search(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """queries(query_id, content) -> (query_id, rank, doc_id, score)."""
    q_terms = query_terms(queries, stem=cfg.stem)
    scored = _scored_candidates(index, q_terms, cfg, scoring)
    return topk(scored, k if k is not None else cfg.k)


def search_lm_dirichlet(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    mu: float = 2000.0,
    k: int | None = None,
) -> DataFrame:
    """Top-k under the Dirichlet-smoothed language model (Lucene
    ``LMDirichletSimilarity``; Zhai & Lafferty, SIGIR 2001).

    Needs one statistic BM25 does not: the collection term frequency
    ``cf(t) = sum of tf over t's postings``. It is computed only for the
    broadcast query terms — the probe touches the matched terms' rows alone
    (parquet row-group pruning on ``term``) and the sum is an
    ``F.aggregate`` over each term's one posting array (no explode, no
    extra aggregate). Corpus token count = ``avgdl * n_docs`` exactly (the
    build defines avgdl = sum(dl)/N with N = max(doc_id)+1).

    Query-token multiplicity scales per-term scores exactly as the BM25 path
    (``score * qtf``) — eq. 6's ``c(w;q)`` factor.
    """
    flat = _flat_with_cf(index, query_terms(queries, stem=cfg.stem))
    total_tokens = float(index.avgdl) * float(index.n_docs)
    per_term = lm_dirichlet_col(F.col("tf"), F.col("cf"), F.col("dl"), total_tokens, mu)
    scored = (
        flat.withColumn("_s", per_term * F.col("qtf").cast("double"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )
    return topk(scored, k if k is not None else cfg.k)


def _flat_with_cf(index: IndexTables, q_terms: DataFrame) -> DataFrame:
    """Exploded (query_id, qtf, cf, doc_id, tf, dl) rows for the language-
    model scorers: the BM25 probe plus the collection term frequency
    ``cf(t)``, an F.aggregate over each matched term's posting array."""
    cf = F.aggregate("postings", F.lit(0).cast("long"), lambda acc, p: acc + p["tf"])
    return (
        index.postings.join(F.broadcast(q_terms), "term")
        .select("query_id", "qtf", cf.alias("cf"), F.explode("postings").alias("p"))
        .select(
            "query_id",
            "qtf",
            "cf",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
            F.col("p.dl").alias("dl"),
        )
    )


def search_lm_jm(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    lam: float = 0.1,
    k: int | None = None,
) -> DataFrame:
    """Top-k under the Jelinek-Mercer-smoothed language model (Lucene
    ``LMJelinekMercerSimilarity``) — same probe + cf plumbing as the
    Dirichlet path, linear document/collection interpolation instead of
    the pseudo-count prior."""
    from fulltextsearch_spark.functions.scoring import lm_jm_col

    flat = _flat_with_cf(index, query_terms(queries, stem=cfg.stem))
    total_tokens = float(index.avgdl) * float(index.n_docs)
    per_term = lm_jm_col(F.col("tf"), F.col("cf"), F.col("dl"), total_tokens, lam)
    scored = (
        flat.withColumn("_s", per_term * F.col("qtf").cast("double"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
    )
    return topk(scored, k if k is not None else cfg.k)


def search_conjunctive(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    min_match: int | None = None,
) -> DataFrame:
    """Boolean-AND retrieval: rank only docs matching ALL query terms.

    Classic conjunctive semantics (Lucene ``+term``/``AND``, minshould=100%):
    the candidate set is the intersection of the query terms' posting lists;
    scores stay plain BM25/TF-IDF over the matched terms. A query term absent
    from the corpus makes the intersection empty (no doc can match all
    terms). ``min_match=m`` relaxes to Lucene's *minimum_should_match*: keep
    docs matching at least ``m`` DISTINCT query terms (``None`` -> all).

    Plan shape: the only additions over :func:`search` are a count in the
    existing per-(query, doc) aggregate and a broadcast join against the
    per-query distinct-term counts — no new wide op. (Block-max AND
    pruning exists in the literature; the exhaustive scorer stays the
    semantic oracle here, matching how WAND is gated on the OR path.)
    """
    q_terms = query_terms(queries, stem=cfg.stem)  # distinct (query, term)
    scored = _scored_candidates(index, q_terms, cfg, scoring, with_matches=True)
    need = q_terms.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n_q"))
    if min_match is not None:
        need = need.select("query_id", F.least(F.lit(min_match), F.col("_n_q")).alias("_n_q"))
    kept = (
        scored.join(F.broadcast(need), "query_id")
        .filter(F.col("n_matched") >= F.col("_n_q"))
        .select("query_id", "doc_id", "score")
    )
    return topk(kept, k if k is not None else cfg.k)


def explain_scores(
    index: IndexTables,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """Lucene ``explain()`` analogue: per-term score contributions for the
    top-k docs of each query.

    Returns one row per (query, doc, matched term) with the raw scoring
    inputs — ``(query_id, doc_id, term, tf, df, dl, qtf, term_score)`` where
    ``term_score = qtf x score(tf, df, dl)`` and ``sum(term_score) over
    (query, doc)`` equals the doc's ranked score exactly (same join, same
    arithmetic as :func:`search`; the final aggregate is simply not taken).

    Plan shape: identical broadcast probe as the search path, then a
    LEFT SEMI join against the k-row-per-query result set — explain output
    is bounded by ``queries x k x |query terms|`` rows, never candidates.
    """
    q_terms = query_terms(queries, stem=cfg.stem)
    top = search(index, queries, cfg, scoring=scoring, k=k)
    flat = (
        index.postings.join(F.broadcast(q_terms), "term")
        .select(
            "query_id", "term", "qtf", "df", F.explode("postings").alias("p")
        )
        .select(
            "query_id",
            "term",
            "qtf",
            "df",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
            F.col("p.dl").alias("dl"),
        )
        .join(top.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_semi")
    )
    per_term = _per_term_score(scoring, index, cfg)
    return flat.select(
        "query_id",
        "doc_id",
        "term",
        "tf",
        "df",
        "dl",
        "qtf",
        (per_term * F.col("qtf").cast("double")).alias("term_score"),
    )


def expand_query_terms(
    q_terms: DataFrame, synonyms: DataFrame, weight: float = 0.5
) -> DataFrame:
    """Weighted query-time synonym expansion (Lucene SynonymFilter analogue).

    ``synonyms`` is a ``(term, syn)`` table given POST-tokenization (both
    sides already lowercased/stop-filtered/stemmed to match the index
    vocabulary — the same contract a Lucene synonym graph has after the
    analyzer). Each query term contributes its synonyms at ``weight x`` its
    own multiplicity; a synonym that is also an original query term merges
    additively (qtf 1.0 + weight), so scores stay a single weighted sum per
    (query, doc) through the unchanged scorer.

    Plan shape: the synonym table is a broadcast dimension; expansion adds
    one map-side join + a re-aggregate over the tiny query-term set — no
    new wide op against the index.
    """
    base = q_terms.select("query_id", "term", F.col("qtf").cast("double").alias("qtf"))
    syn = q_terms.join(F.broadcast(synonyms), "term").select(
        "query_id",
        F.col("syn").alias("term"),
        (F.col("qtf") * F.lit(float(weight))).alias("qtf"),
    )
    return (
        base.unionByName(syn)
        .groupBy("query_id", "term")
        .agg(F.sum("qtf").alias("qtf"))
    )


def search_expanded(
    index: IndexTables,
    queries: DataFrame,
    synonyms: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    weight: float = 0.5,
) -> DataFrame:
    """Top-k with weighted synonym expansion of the query terms."""
    q_terms = expand_query_terms(query_terms(queries, stem=cfg.stem), synonyms, weight)
    scored = _scored_candidates(index, q_terms, cfg, scoring)
    return topk(scored, k if k is not None else cfg.k)


def search_filtered(
    index: IndexTables,
    queries: DataFrame,
    allowed_docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
) -> DataFrame:
    """Top-k restricted to a caller-supplied doc predicate (filtered search).

    ``allowed_docs`` is any DataFrame with a ``doc_id`` column — typically
    the corpus/doc_stats table with a metadata predicate applied (lang,
    length, date-range, curation verdict). Exact semantics: the top-k among
    allowed docs, NOT a post-filter of the unfiltered top-k (a post-filter
    under-fills k whenever filtered-out docs rank high).

    Plan shape: one LEFT SEMI join of the candidate (query, doc, score)
    rows against the skinny allowed doc_id projection — Catalyst prunes the
    predicate source to one column before the exchange, and AQE broadcasts
    the smaller side when selective. Applied AFTER scoring so idf/df keep
    their corpus-wide values (standard filtered-search semantics: the
    filter narrows candidates, not the collection statistics).
    """
    q_terms = query_terms(queries, stem=cfg.stem)
    scored = _scored_candidates(index, q_terms, cfg, scoring)
    kept = scored.join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
    return topk(kept, k if k is not None else cfg.k)


def search_rm3(
    index: IndexTables,
    queries: DataFrame,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    fb_docs: int = 5,
    fb_terms: int = 10,
    alpha: float = 0.5,
    scoring: str = "bm25",
    k: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance feedback (RM3, Lavrenko & Croft 2001 as shipped in
    Lucene/Anserini): run the query, take the top ``fb_docs`` documents as
    implicit relevance evidence, expand the query with their most frequent
    ``fb_terms`` terms, interpolate with the original query at ``alpha``,
    and re-run.

    Feedback-term selection uses INTEGER occurrence counts over the
    feedback docs with a total (count desc, term asc) tie-break, so the
    expanded term SET is a pure function of the corpus (no FP boundary can
    flip it); the interpolated weights
    ``alpha * qtf/|q| + (1-alpha) * fw/sum(fw)`` only scale scores after
    that, which is what keeps the whole two-pass pipeline SQL-replayable.

    Scale shape: pass 1 is the ordinary broadcast-probe search; feedback
    tokenization touches ONLY the fb docs (queries x fb_docs rows semi-join
    the corpus scan — column-pruned, never a full re-read); pass 2 is the
    same search with <= fb_terms + |q| weighted terms. The index is probed
    twice, the corpus text once, for a handful of rows.
    """
    from fulltextsearch_spark.functions.tokenizer import tokenize_udf  # noqa: PLC0415

    q_terms = query_terms(queries, stem=cfg.stem)
    first = topk(_scored_candidates(index, q_terms, cfg, scoring), fb_docs)
    fb_ids = first.select("query_id", "doc_id")
    fb_text = docs.join(
        F.broadcast(fb_ids.select("doc_id").distinct()), "doc_id"
    ).select("doc_id", F.explode(tokenize_udf(cfg.stem)(F.col(text_col))).alias("term"))
    fw = (
        fb_text.join(F.broadcast(fb_ids), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("fw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("fw"), "term")
    sel = (
        fw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= fb_terms)
        .drop("_rn")
    )
    tot = sel.groupBy("query_id").agg(F.sum("fw").alias("_tot"))
    w_fb = sel.join(tot, "query_id").select(
        "query_id", "term", (F.col("fw") / F.col("_tot")).alias("_wfb")
    )
    nq = q_terms.groupBy("query_id").agg(F.sum("qtf").alias("_nq"))
    w_orig = q_terms.join(nq, "query_id").select(
        "query_id", "term", (F.col("qtf") / F.col("_nq")).alias("_wo")
    )
    final = w_orig.join(w_fb, ["query_id", "term"], "full").select(
        "query_id",
        "term",
        (
            F.lit(float(alpha)) * F.coalesce("_wo", F.lit(0.0))
            + F.lit(1.0 - float(alpha)) * F.coalesce("_wfb", F.lit(0.0))
        ).alias("qtf"),
    )
    return topk(_scored_candidates(index, final, cfg, scoring), k if k is not None else cfg.k)


def clarity_scores(
    index: IndexTables,
    queries: DataFrame,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    fb_docs: int = 5,
    scoring: str = "bm25",
    text_col: str = "text",
) -> DataFrame:
    """-> (query_id, n_fb_terms, clarity): query-difficulty prediction
    (Cronen-Townsend, Zhou & Croft, SIGIR 2002). The query language model
    is the uniform mixture of the top ``fb_docs`` result docs'
    maximum-likelihood models; clarity is its KL divergence (bits) from
    the collection model:

        clarity = sum_w P(w|Q) * log2( P(w|Q) / P_coll(w) )

    High clarity = the result set's language is far from the collection's
    (a focused, well-performing query); low = the query retrieves
    background noise. Deterministic because the feedback doc SET comes
    from the engine's deterministic rank path; the remaining arithmetic
    is pure ratios over integer counts.

    Scale: pass 1 is the ordinary search; the mixture model touches only
    the fb docs (pruned semi-joined scan); the collection model is the
    corpus unigram aggregate the other LM surfaces already use.
    """
    from fulltextsearch_spark.functions.tokenizer import tokenize_udf  # noqa: PLC0415

    q_terms = query_terms(queries, stem=cfg.stem)
    first = topk(_scored_candidates(index, q_terms, cfg, scoring), fb_docs)
    fb_ids = first.select("query_id", "doc_id")
    n_fb = fb_ids.groupBy("query_id").agg(F.count(F.lit(1)).alias("_nfb"))
    # ONE corpus tokenize pass: collection term counts; the scalar total is
    # an aggregate OVER that table, and the fb-doc side joins the corpus
    # BEFORE tokenizing so only the handful of feedback docs re-tokenize
    coll = (
        docs.select(F.explode(tokenize_udf(cfg.stem)(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("cf"))
    )
    total = coll.agg(F.sum("cf").alias("ct"))
    fb_tf = (
        docs.join(F.broadcast(fb_ids.select("doc_id").distinct()), "doc_id")
        .select(
            "doc_id", F.explode(tokenize_udf(cfg.stem)(F.col(text_col))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dl = fb_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    pwq = (
        fb_tf.join(dl, "doc_id")
        .join(F.broadcast(fb_ids), "doc_id")
        .join(F.broadcast(n_fb), "query_id")
        .groupBy("query_id", "term", "_nfb")
        .agg(F.sum(F.col("tf") / F.col("dl")).alias("_s"))
        .select("query_id", "term", (F.col("_s") / F.col("_nfb")).alias("pwq"))
    )
    return (
        pwq.join(coll, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fb_terms"),
            F.sum(
                F.col("pwq") * F.log2(F.col("pwq") / (F.col("cf") / F.col("ct")))
            ).alias("clarity"),
        )
    )

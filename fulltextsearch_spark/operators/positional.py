"""Positional inverted index + exact phrase search.

The reference engine indexes (term -> docID, tf) only
(/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:15-35);
phrase queries are the classic next index feature, so this module adds the
positional variant Spark-first: postings carry the sorted in-document
positions of each term (positions count SURVIVING tokens of the engine
tokenizer — stop words removed — identically on the build and query side),
and a phrase matches where every token of the phrase occurs at consecutive
surviving positions.

Matching is pure relational algebra — no per-row Python:

1. the phrase tokenizes to (query_id, slot, term), slot = 0..k-1, carried
   as a BROADCAST table, so the postings join prunes to the phrase's terms
   map-side (and to O(phrase-terms) row groups on a term-sorted saved
   index, same as the BM25 serving path);
2. each posting row explodes to candidate phrase STARTS: position - slot;
3. a start where ALL k slots are present is one phrase occurrence —
   a count over (query_id, doc_id, start), i.e. the only wide ops are
   group-bys on fine-grained (doc, position) keys: no skew (a position key
   appears at most k times), no text or array crosses an exchange after
   the explode.

Scoring treats the phrase as one virtual term with tf = occurrence count
and df = number of matching docs, through the engine's exact BM25 column
math (functions/scoring.py, pinned to the reference formula) — so ranking
is deterministic and the whole pipeline is replayable in ANSI SQL for the
driver oracle.

Scale notes (10^12 docs): positional postings are ~2-3x the plain index
(one int per occurrence); the build is the same one-shuffle groupBy as the
plain index with per-(term,doc) lists bounded by per-doc tf, and
``save_positional_index`` clusters by term for footer pruning. Duplicate
phrase tokens ("buffalo buffalo") cost one extra explode per duplicated
slot, nothing else.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.functions.scoring import bm25_col
from fulltextsearch_spark.functions.tokenizer import tokenize_udf
from fulltextsearch_spark.operators.query import topk
from fulltextsearch_spark.operators.util import write_clustered

__all__ = [
    "PositionalIndex",
    "build_positional_index",
    "save_positional_index",
    "load_positional_index",
    "phrase_slots",
    "phrase_occurrences",
    "phrase_prefix_occurrences",
    "phrase_prefix_topk",
    "phrase_topk",
    "best_snippets",
    "proximity_occurrences",
    "proximity_topk",
    "search_sdm",
    "span_first_occurrences",
    "span_first_topk",
]


@dataclass
class PositionalIndex:
    """postings: (term, doc_id, positions sorted ARRAY<INT>); doc_stats:
    (doc_id, dl); N/avgdl use the reference's N = max(doc_id)+1 semantics."""

    postings: DataFrame
    doc_stats: DataFrame
    n_docs: int
    avgdl: float
    stem: bool = False


def build_positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stem: bool = False,
) -> PositionalIndex:
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_udf(do_stem=stem)(F.col(text_col)).alias("_toks"),
    )
    dls = toked.select("doc_id", F.size("_toks").cast("long").alias("dl"))
    stats = dls.agg(
        (F.max("doc_id") + 1).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / (F.max("doc_id") + 1)).alias("avgdl"),
    ).collect()[0]
    pos = toked.select(
        "doc_id", F.posexplode("_toks").alias("pos", "term")
    )
    postings = pos.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions")
    )
    return PositionalIndex(
        postings=postings,
        doc_stats=dls,
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        stem=stem,
    )


def save_positional_index(index: PositionalIndex, root: str) -> None:
    """Term-clustered parquet (:func:`write_clustered`), like
    ``save_compressed_index``: a phrase probe reads O(phrase-terms) row
    groups via footer min/max on ``term``."""
    write_clustered(index.postings, "term", f"{root}/postings", F.col("doc_id"))
    index.doc_stats.write.mode("overwrite").parquet(f"{root}/doc_stats")
    index.postings.sparkSession.createDataFrame(
        [(index.n_docs, index.avgdl, index.stem)],
        "n_docs LONG, avgdl DOUBLE, stem BOOLEAN",
    ).write.mode("overwrite").parquet(f"{root}/corpus_stats")


def load_positional_index(spark: SparkSession, root: str) -> PositionalIndex:
    stats = spark.read.parquet(f"{root}/corpus_stats").collect()[0]
    return PositionalIndex(
        postings=spark.read.parquet(f"{root}/postings"),
        doc_stats=spark.read.parquet(f"{root}/doc_stats"),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        stem=bool(stats["stem"]),
    )


def phrase_slots(phrases: DataFrame, stem: bool = False) -> DataFrame:
    """(query_id, content) -> (query_id, slot, term): the phrase through
    the SAME tokenizer as the index, slot = surviving-token position. A
    stop word inside a phrase is dropped on both sides, so "state of the
    art" matches the consecutive surviving tokens ``state art`` — document
    semantics, not an accident, and identical to how the text indexed."""
    toked = phrases.select(
        "query_id", tokenize_udf(do_stem=stem)(F.col("content")).alias("_toks")
    )
    return toked.select(
        "query_id", F.posexplode("_toks").alias("slot", "term")
    )


def _occurrences_from_slots(
    index: PositionalIndex, slots: DataFrame, n_slots: DataFrame
) -> DataFrame:
    """Matching core shared by exact-phrase and phrase-prefix search:
    ``slots`` is (query_id, slot, term) — possibly several terms per slot
    (prefix expansion) — and ``n_slots`` the (query_id, n_slots) required
    consecutive-match count. A (slot, start) pair stays unique per (query,
    doc) even with multi-term slots: one doc position holds exactly one
    term, so for a fixed start only one expanded term can land on a slot."""
    cand = index.postings.join(F.broadcast(slots), "term")
    starts = cand.select(
        "query_id",
        "doc_id",
        "slot",
        F.explode(
            F.transform("positions", lambda p: p - F.col("slot"))
        ).alias("start"),
    ).filter(F.col("start") >= 0)
    matched = starts.groupBy("query_id", "doc_id", "start").agg(
        F.count("*").alias("_m")
    )
    occ = matched.join(F.broadcast(n_slots), "query_id").filter(
        F.col("_m") == F.col("n_slots")
    )
    return occ.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_occ")
    )


def phrase_occurrences(
    index: PositionalIndex, phrases: DataFrame
) -> DataFrame:
    """(query_id, content) -> (query_id, doc_id, n_occ): docs where the
    phrase occurs at least once, with the exact occurrence count. Phrases
    whose every token is a stop word (zero slots) match nothing."""
    slots = phrase_slots(phrases, stem=index.stem)
    n_slots = slots.groupBy("query_id").agg(
        (F.max("slot") + 1).alias("n_slots")
    )
    return _occurrences_from_slots(index, slots, n_slots)


def phrase_prefix_occurrences(
    index: PositionalIndex,
    phrases: DataFrame,
    max_expansions: int | None = 50,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the phrase's LAST token is a prefix that
    expands against the vocabulary; a doc matches where the exact leading
    tokens are followed by ANY expanded term at the final consecutive
    position. ``max_expansions`` keeps the first (term ASC — ES's
    index-order) expansions, like ES's default 50. An empty expansion
    matches nothing (required slots come from the ORIGINAL phrase length,
    never from the surviving slot set).

    ``dictionary`` is any one-column ``term`` frame; by default it derives
    from the positional postings (a vocab-sized distinct — fine per query
    batch; at full scale pass the plain index's skinny ``(term, df)``
    projection instead, which exists as a build artifact)."""
    slots = phrase_slots(phrases, stem=index.stem)
    n_slots = slots.groupBy("query_id").agg(
        (F.max("slot") + 1).alias("n_slots")
    )
    last = slots.groupBy("query_id").agg(F.max("slot").alias("_last"))
    tagged = slots.join(F.broadcast(last), "query_id")
    exact = tagged.filter(F.col("slot") < F.col("_last")).select(
        "query_id", "slot", "term"
    )
    pref = tagged.filter(F.col("slot") == F.col("_last")).select(
        "query_id", "slot", F.col("term").alias("prefix")
    )
    if dictionary is None:
        dictionary = index.postings.select("term").distinct()
    exp = dictionary.select("term").join(
        F.broadcast(pref), F.col("term").startswith(F.col("prefix"))
    )
    if max_expansions is not None:
        w = Window.partitionBy("query_id").orderBy(F.asc("term"))
        exp = exp.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_expansions
        )
    all_slots = exact.unionByName(exp.select("query_id", "slot", "term"))
    return _occurrences_from_slots(index, all_slots, n_slots)


def phrase_prefix_topk(
    index: PositionalIndex,
    phrases: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_expansions: int | None = 50,
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """match_phrase_prefix ranked like :func:`phrase_topk`: the whole
    prefix-phrase is ONE virtual term (tf = occurrence count, df = matching
    docs) through the reference BM25 formula."""
    occ = phrase_prefix_occurrences(index, phrases, max_expansions, dictionary)
    return _virtual_term_topk(index, occ, k, k1, b)


def phrase_topk(
    index: PositionalIndex,
    phrases: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(query_id, content) -> (query_id, rank, doc_id, score): the phrase
    scored as ONE virtual term — tf = occurrences, df = matching docs —
    through the reference BM25 formula, deterministic tie-break on doc_id."""
    occ = phrase_occurrences(index, phrases)
    return _virtual_term_topk(index, occ, k, k1, b)


def _virtual_term_topk(
    index: PositionalIndex, occ: DataFrame, k: int, k1: float, b: float
) -> DataFrame:
    """Shared virtual-term BM25 ranking over a (query_id, doc_id, n_occ)
    occurrence frame."""
    df_ph = occ.groupBy("query_id").agg(F.count("*").cast("long").alias("_df"))
    scored = (
        occ.join(F.broadcast(df_ph), "query_id")
        .join(index.doc_stats, "doc_id")
        .select(
            "query_id",
            "doc_id",
            bm25_col(
                F.col("n_occ"),
                F.col("_df"),
                F.col("dl"),
                index.n_docs,
                index.avgdl,
                k1=k1,
                b=b,
            ).alias("score"),
        )
    )
    return topk(scored, k)


def best_snippets(
    index: PositionalIndex, queries: DataFrame, pairs: DataFrame, window: int
) -> DataFrame:
    """Snippet selection: the best ``window``-token span per (query, doc).

    For each requested (query_id, doc_id) pair — typically a top-k result
    page — pick the window of ``window`` consecutive surviving-token
    positions that (1) covers the most DISTINCT query terms, then (2) the
    most total query-term occurrences, then (3) starts earliest. The
    optimal window always starts at a query-term occurrence, so anchors
    are exactly the term positions (the classic snippet argument: sliding
    the window right to the next hit never loses coverage). Returns
    ``(query_id, doc_id, snip_start, n_terms, n_hits)`` — the caller slices
    the display text by token positions (or re-tokenizes the one stored
    doc) driver-side; the index never stores raw text.

    Relational shape mirrors :func:`proximity_occurrences`: postings prune
    to the query's terms via a broadcast join, then to the requested pairs
    (broadcast — k docs per query), and the cover test is a per-(query,
    doc) range self-join; the final argmax is a window over at most
    (occurrences per doc) rows per pair. No text crosses an exchange.
    """
    toked = queries.select(
        "query_id",
        tokenize_udf(do_stem=index.stem)(F.col("content")).alias("_toks"),
    )
    qterms = toked.select(
        "query_id", F.explode(F.array_distinct("_toks")).alias("term")
    )
    pos = (
        index.postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(pairs.select("query_id", "doc_id")), ["query_id", "doc_id"])
        .select("query_id", "doc_id", "term", F.explode("positions").alias("pos"))
    )
    a = pos.select("query_id", "doc_id", F.col("pos").alias("anchor"))
    hits = pos.select(
        "query_id", "doc_id", F.col("term").alias("_t"), F.col("pos").alias("_p")
    )
    covered = (
        a.join(hits, ["query_id", "doc_id"])
        .filter(
            (F.col("_p") >= F.col("anchor"))
            & (F.col("_p") < F.col("anchor") + window)
        )
        .groupBy("query_id", "doc_id", "anchor")
        .agg(
            F.countDistinct("_t").alias("n_terms"),
            F.count("*").alias("n_hits"),
        )
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("anchor")
    )
    return (
        covered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            "doc_id",
            F.col("anchor").cast("long").alias("snip_start"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("n_hits").cast("long").alias("n_hits"),
        )
    )


def proximity_occurrences(
    index: PositionalIndex, queries: DataFrame, window: int
) -> DataFrame:
    """(query_id, content) -> (query_id, doc_id, n_windows): unordered
    proximity match. A WINDOW is anchored at any occurrence of any query
    term; it counts when every DISTINCT query term occurs somewhere in
    [anchor, anchor + window). ``n_windows`` is the number of anchors that
    satisfy it — 0-row docs are absent. Order within the window does not
    matter (that is :func:`phrase_occurrences`'s job); term multiplicity
    in the query does not matter either (the term SET must be covered).

    Relational shape: postings prune to the query's terms via a broadcast
    join (same map-side pruning as the phrase path), positions explode,
    and the window test is a per-(query, doc) range self-join — bounded by
    (query-term occurrences per doc)^2 in the worst case, but the join
    keys are fine-grained (query_id, doc_id) pairs, so no task sees more
    than one document's positions for one query.
    """
    toked = queries.select(
        "query_id",
        tokenize_udf(do_stem=index.stem)(F.col("content")).alias("_toks"),
    )
    qterms = toked.select(
        "query_id", F.explode(F.array_distinct("_toks")).alias("term")
    )
    n_terms = qterms.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    pos = (
        index.postings.join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id", "term", F.explode("positions").alias("pos"))
    )
    a = pos.select("query_id", "doc_id", F.col("pos").alias("anchor"))
    b = pos.select(
        "query_id", "doc_id", F.col("term").alias("_t"), F.col("pos").alias("_p")
    )
    covered = (
        a.join(b, ["query_id", "doc_id"])
        .filter(
            (F.col("_p") >= F.col("anchor"))
            & (F.col("_p") < F.col("anchor") + window)
        )
        .groupBy("query_id", "doc_id", "anchor")
        .agg(F.countDistinct("_t").alias("_m"))
    )
    wins = covered.join(F.broadcast(n_terms), "query_id").filter(
        F.col("_m") == F.col("n_terms")
    )
    return wins.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_windows")
    )


def proximity_topk(
    index: PositionalIndex,
    queries: DataFrame,
    window: int,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Proximity-ranked top-k: the query scores as one virtual term with
    tf = satisfying-window count and df = matching docs, through the
    reference BM25 formula — deterministic tie-break on doc_id."""
    occ = proximity_occurrences(index, queries, window).withColumnRenamed(
        "n_windows", "n_occ"
    )
    df_q = occ.groupBy("query_id").agg(F.count("*").cast("long").alias("_df"))
    scored = (
        occ.join(F.broadcast(df_q), "query_id")
        .join(index.doc_stats, "doc_id")
        .select(
            "query_id",
            "doc_id",
            bm25_col(
                F.col("n_occ"), F.col("_df"), F.col("dl"),
                index.n_docs, index.avgdl, k1=k1, b=b,
            ).alias("score"),
        )
    )
    return topk(scored, k)


def span_first_occurrences(index: PositionalIndex, spans: DataFrame) -> DataFrame:
    """Lucene SpanFirstQuery: match documents where the span term occurs
    within the first ``end`` SURVIVING token positions (position semantics
    identical to the phrase machinery: stop words removed, survivors
    renumbered).

    ``spans`` is (query_id, term, end) — one row per span clause, terms
    already tokenizer-normalized. Returns (query_id, doc_id, n_occ) with
    ``n_occ`` the count of qualifying occurrences (the span-query analogue
    of tf, feeding the shared virtual-term scorer).

    Scale shape: one broadcast probe of the positional postings on the
    span terms (O(clause-terms) row groups on a saved index), then a
    per-row higher-order ``filter`` over the positions array — no explode,
    no shuffle beyond the probe.
    """
    cand = index.postings.join(F.broadcast(spans), "term")
    return cand.select(
        "query_id",
        "doc_id",
        F.size(F.filter("positions", lambda p: p < F.col("end")))
        .cast("long")
        .alias("n_occ"),
    ).filter(F.col("n_occ") >= 1)


def span_first_topk(
    index: PositionalIndex,
    spans: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(query_id, term, end) -> (query_id, rank, doc_id, score): span_first
    matches ranked through the shared virtual-term BM25 (tf = qualifying
    occurrences, df = matching docs), deterministic doc_id tie-break."""
    return _virtual_term_topk(index, span_first_occurrences(index, spans), k, k1, b)


def search_sdm(
    index: PositionalIndex,
    queries: DataFrame,
    lambdas: tuple[float, float, float] = (0.8, 0.1, 0.1),
    mu: float = 2000.0,
    window: int = 8,
    k: int = 10,
) -> DataFrame:
    """Sequential Dependence Model ranking (Metzler & Croft, SIGIR 2005 —
    the Indri/Galago default that beats bag-of-words on web collections):

        score(d) = lT * sum_i  f(q_i, d)
                 + lO * sum_i  f(#1(q_i q_{i+1}), d)      (ordered, adjacent)
                 + lU * sum_i  f(#uw{window}(q_i q_{i+1}), d)  (unordered)

    with every feature Dirichlet-smoothed query-likelihood,
    ``f(e, d) = ln((tf_e(d) + mu * cf_e / C) / (dl + mu))`` over the
    positional index: tf of an ordered pair counts adjacent occurrences
    (pos2 = pos1 + 1), tf of an unordered pair counts position pairs less
    than ``window`` apart (each unordered co-occurrence of two distinct
    positions of the SAME term counts once per direction — the documented
    convention, mirrored in the oracle); cf_e is the corpus total of the
    same counter and C the corpus token count. Features whose corpus
    frequency is zero are dropped (the reference's unknown-term skip,
    lifted to expressions); candidates are docs matching >= 1 query term,
    and every candidate is scored on EVERY surviving feature (absent
    features contribute the smoothed zero-tf value, which depends on dl).

    Scale shape: all probes broadcast the query side; pair counters join
    exactly two posting rows per doc on the doc key and count via array
    intersections / bounded aggregates (never a position explode into a
    shuffle); the candidate x feature frame is |candidates| x O(|q|) rows.
    """
    lt, lo, lu = (float(x) for x in lambdas)
    c_total = float(index.avgdl) * float(index.n_docs)
    slots = phrase_slots(queries, stem=index.stem)

    uni_terms = slots.select("term").distinct()
    post_q = index.postings.join(F.broadcast(uni_terms), "term")
    tf_t = post_q.select(
        "term", "doc_id", F.size("positions").cast("long").alias("tf")
    )
    cf_t = tf_t.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))

    cand = (
        slots.select("query_id", "term")
        .distinct()
        .join(tf_t.select("term", "doc_id").distinct(), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    dl = index.doc_stats

    def smoothed(tf_col, cf_col):
        return F.log(
            (tf_col.cast("double") + F.lit(mu) * cf_col / F.lit(c_total))
            / (F.col("dl").cast("double") + F.lit(mu))
        )

    # --- unigram features: one instance per slot (duplicates count twice)
    uni_feats = slots.join(F.broadcast(cf_t), "term")  # OOV slots drop here
    s_t = (
        cand.join(F.broadcast(uni_feats), "query_id")
        .join(tf_t, ["term", "doc_id"], "left")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(smoothed(F.coalesce("tf", F.lit(0)), F.col("cf"))).alias("s"))
    )

    # --- adjacent pairs
    nxt = slots.select(
        "query_id", (F.col("slot") - 1).alias("slot"), F.col("term").alias("t2")
    )
    pairs = slots.withColumnRenamed("term", "t1").join(nxt, ["query_id", "slot"])
    p1 = post_q.select(
        F.col("term").alias("t1"), "doc_id", F.col("positions").alias("pos1")
    )
    p2 = post_q.select(
        F.col("term").alias("t2"), "doc_id", F.col("positions").alias("pos2")
    )
    pair_docs = (
        pairs.select("query_id", "slot", "t1", "t2")
        .join(p1, "t1")
        .join(p2, ["t2", "doc_id"])
    )
    od = F.size(
        F.array_intersect(F.transform("pos1", lambda x: x + 1), F.col("pos2"))
    ).cast("long")
    ud = F.aggregate(
        "pos1",
        F.lit(0),
        lambda acc, x: acc
        + F.size(
            F.filter(
                "pos2",
                lambda y: (y != x) & (F.abs(y - x) < F.lit(window)),
            )
        ),
    ).cast("long")
    counted = pair_docs.select(
        "query_id", "slot", "doc_id", od.alias("od"), ud.alias("ud")
    )
    cf_pair = counted.groupBy("query_id", "slot").agg(
        F.sum("od").cast("double").alias("cfo"),
        F.sum("ud").cast("double").alias("cfu"),
    )

    def pair_score(tf_name: str, cf_name: str):
        feats = cf_pair.where(F.col(cf_name) > 0).select("query_id", "slot", cf_name)
        return (
            cand.join(F.broadcast(feats), "query_id")
            .join(counted.select("query_id", "slot", "doc_id", tf_name),
                  ["query_id", "slot", "doc_id"], "left")
            .join(dl, "doc_id")
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum(
                    smoothed(F.coalesce(tf_name, F.lit(0)), F.col(cf_name))
                ).alias("s")
            )
        )

    s_o = pair_score("od", "cfo")
    s_u = pair_score("ud", "cfu")

    total = (
        s_t.withColumnRenamed("s", "st")
        .join(s_o.withColumnRenamed("s", "so"), ["query_id", "doc_id"], "left")
        .join(s_u.withColumnRenamed("s", "su"), ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            (
                F.lit(lt) * F.col("st")
                + F.lit(lo) * F.coalesce("so", F.lit(0.0))
                + F.lit(lu) * F.coalesce("su", F.lit(0.0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        total.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"), "doc_id", "score"
        )
    )

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator stage from SURVEY.md §2 over
the driver testdata ``documents``/``embeddings`` tables; ``oracle_sql()``
gives the DuckDB-equivalent SQL. Stemming is not SQL-expressible, so the
SQL-checked pipeline queries run the engine with ``stem=False`` (the stemmer
itself is pinned byte-identical to the reference's Snowball C stemmer by
``tests/test_porter2.py``); stemmed variants are included as rows-only checks.

Testdata text is pure lowercase ASCII (verified), so DuckDB's
``regexp_split_to_array``+``lower`` tokenization is exactly the reference
tokenizer semantics for these inputs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

K1, B = 1.2, 0.75
TOPK = 10
RRF_K = 60  # Cormack/Clarke/Buettcher SIGIR'09 constant

# Fixed query set over the testdata vocabulary. Tokens are given
# post-tokenization (duplicates preserved — reference accumulates per query
# token occurrence, inverted_index_engine.cpp:119-135).
QUERY_TOKENS: list[tuple[str, str]] = [
    ("q1", "join"),
    ("q1", "filter"),
    ("q2", "query"),
    ("q2", "query"),
    ("q2", "window"),
    ("q4", "dup"),
    ("q5", "spark"),
    ("q5", "merge"),
    ("q5", "sort"),
    ("q5", "fast"),
]

# conjunctive-entry query set: 'dup' is the one rare term in the testdata
# vocabulary (df~5% vs ~78% for everything else), so its high idf pulls
# dup-only docs into the OR top-10 that the AND intersection then drops —
# at sf0.01, 19 of 30 result rows differ from the OR ranking (the HAVING
# clause is exercised, not vacuous).
CONJ_QUERY_TOKENS: list[tuple[str, str]] = [
    ("qc1", "dup"),
    ("qc1", "join"),
    ("qc2", "dup"),
    ("qc2", "window"),
    ("qc2", "sort"),
    ("qc3", "spark"),
    ("qc3", "merge"),
    ("qc3", "fast"),
]

# wildcard / regexp multi-term entries: patterns expand against the index
# dictionary (Lucene MultiTermQuery, scoring_boolean rewrite — each pattern
# is an independent clause). 's*' and 's???' overlap on scan/slow/sort
# (clause multiplicity qtf=2 is exercised); 'd??' isolates the one rare
# testdata term 'dup' (df~3%), so its high idf visibly reorders results.
WILDCARDS: list[tuple[str, str]] = [
    ("qw1", "s*"),
    ("qw1", "s???"),
    ("qw2", "*a*"),
    ("qw2", "d??"),
]
REGEXPS: list[tuple[str, str]] = [
    ("qr1", "(join|merge|sort)"),
    ("qr2", "v.*"),
    ("qr2", "d.p"),
]
# Dirichlet smoothing parameter for the LM entry (the standard default).
LMD_MU = 2000.0

# significant-terms entry (ES JLH): foreground = BM25 top-25, keep terms in
# >=2 fg docs, report the top 10 by JLH score.
SIG_N_FG, SIG_TOP, SIG_MIN_DC = 25, 10, 2
# decay function-score entry: doc "age" derives deterministically from
# doc_id (the testdata has no timestamp column — same convention as the
# pagerank entry's synthetic edges); exp decay with ES-default shape.
DECAY_MOD, DECAY_SCALE, DECAY_RATE, DECAY_OFFSET = 97, 60.0, 0.5, 5.0
# term-vectors entry: the requested doc set (a per-doc inspection API).
TV_DOC_IDS = [1, 3, 5, 7]
# dis_max entry: Lucene's default-ish tie breaker.
DISMAX_TIE = 0.3
# fuzzy entry: misspellings of testdata vocabulary terms ('dap' reaches the
# rare high-idf term 'dup'; 'filtr'/'windoe' are 1-edit typos; 'joni' is 2).
FUZZY_TERMS: list[tuple[str, str]] = [
    ("qf1", "joni"),
    ("qf1", "filtr"),
    ("qf2", "windoe"),
    ("qf2", "dap"),
]
FUZZY_MAX_EDITS, FUZZY_PREFIX, FUZZY_MAX_EXP = 2, 1, 50
# boosting entry: per-query negative clause demoting docs that also match it.
NEG_QUERY_TOKENS: list[tuple[str, str]] = [
    ("q1", "window"),
    ("q2", "join"),
    ("q4", "fast"),
    ("q5", "dup"),
]
NEG_BOOST = 0.2
# temperature-mixing entry (mT5/XLM-R alpha).
MIX_ALPHA = 0.3
# MMR diversification entry: top-N cosine candidates re-ranked to k.
MMR_N, MMR_LAM = 20, 0.7

# synonym map for the expanded-search entry, given post-tokenization (the
# Lucene-SynonymFilter contract); all targets are corpus terms. q5 carries
# both 'spark' and 'fast', so spark->fast exercises the additive merge
# (qtf 1.0 + 0.5) rather than only pure expansion.
SYNONYMS: list[tuple[str, str]] = [
    ("join", "merge"),
    ("query", "filter"),
    ("sort", "window"),
    ("spark", "fast"),
]
SYN_WEIGHT = 0.5

_TOKEN_SPLIT_SQL = "[^0-9a-z$%&+@]+"


def _stop_list_sql() -> str:
    from fulltextsearch_spark.functions.tokenizer import STOP_WORDS

    return ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tok_cte(src_where: str | None = None) -> str:
    """Shared DuckDB CTEs: tokens list / exploded tokens / doc lengths."""
    src_filter = f"WHERE {src_where}" if src_where else ""
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()})) AS tokens
  FROM documents {src_filter}
),
tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
dls AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM toks)
"""


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_tf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-(doc, term) term frequency."""
    from fulltextsearch_spark.operators.index_build import doc_term_frequencies

    return doc_term_frequencies(_docs(spark, sf_dir), stem=False).select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf")
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-doc token count (dl), 0-token docs included."""
    from fulltextsearch_spark.functions.tokenizer import term_counts_udf

    tc = term_counts_udf(do_stem=False)
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tc(F.col("text"))["dl"].cast("long").alias("dl"),
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: N = max(doc_id)+1, avgdl = sum(dl)/N (reference semantics)."""
    return q_doc_stats(spark, sf_dir).agg(
        (F.max("doc_id") + F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / (F.max("doc_id") + F.lit(1))).alias("avgdl"),
    )


def q_df_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: document frequency per term."""
    return (
        q_tf_table(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def q_postings_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: posting-list build, summarized per term (sorted-list invariants)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index

    idx = build_index(
        spark, _docs(spark, sf_dir), EngineConfig(stem=False), persist=False
    )
    return idx.postings.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.element_at("postings", 1)["doc_id"].cast("long").alias("first_doc"),
        F.element_at("postings", -1)["doc_id"].cast("long").alias("last_doc"),
        F.aggregate(
            "postings", F.lit(0).cast("long"), lambda acc, p: acc + p["tf"]
        ).alias("sum_tf"),
    )


def _q_topk(spark: SparkSession, sf_dir: str, scoring: str, stem: bool) -> DataFrame:
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=stem)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = search(idx, queries, cfg, scoring=scoring)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F4 + J1/J2 + K1/K2: end-to-end BM25 top-k (unstemmed)."""
    return _q_topk(spark, sf_dir, "bm25", stem=False)


UPSERT_SUFFIX = " upserted fresh content"
UPSERT_NEW_TEXT = "brand new page about spark merge sort and fast join"


def q_bm25_topk_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index lifecycle: upsert (replace-or-insert) — every doc_id % 10 == 0
    page is refetched with appended text and one brand-new page appends at
    id N; tombstone-compact + delta-build + segment-merge must be
    value-identical to a fresh build over the updated corpus, so this
    entry's oracle is the monolithic BM25 SQL over the UPDATED text."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import build_compressed_index
    from fulltextsearch_spark.operators.deletes import upsert_docs_compressed
    from fulltextsearch_spark.operators.wand import search_wand

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    cidx = build_compressed_index(spark, docs, cfg)
    updated = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(UPSERT_SUFFIX)).alias("text")
    )
    inserted = spark.createDataFrame([(n, UPSERT_NEW_TEXT)], ["doc_id", "text"])
    new_docs = updated.unionByName(inserted)
    merged = upsert_docs_compressed(spark, cidx, new_docs, cfg)
    res = search_wand(merged, _query_frame(spark), cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _upserted_sql() -> str:
    n_src = (
        "SELECT doc_id, CASE WHEN doc_id % 10 = 0 "
        f"THEN text || '{UPSERT_SUFFIX}' ELSE text END AS text FROM documents "
        "UNION ALL "
        f"SELECT (SELECT max(doc_id) + 1 FROM documents), '{UPSERT_NEW_TEXT}'"
    )
    # the shared monolithic oracle, re-pointed at the updated corpus
    from_docs = "FROM documents"
    base = _scored_sql(
        "ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) * "
        f"(tf.tf * ({K1} + 1.0)) / (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))"
    )
    assert base.count(from_docs) == 1
    return base.replace(from_docs, f"FROM ({n_src}) documents")


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion round trip: deterministic WARC/1.0 response records
    synthesized from the documents table (url/date from doc_id, payload an
    html wrap of the text), then parsed back by the Content-Length-framed
    record walker. The oracle constructs the expected (url, date, bytes,
    md5) directly from documents — the round trip must reproduce them."""
    from fulltextsearch_spark.sources.warc import parse_warc, synth_warc_records

    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://crawl.test/p/"), F.col("doc_id")).alias("url"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
    )
    parsed = parse_warc(synth_warc_records(pages))
    return parsed.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("html_md5"),
    )


_WARC_SQL = """
SELECT 'https://crawl.test/p/' || doc_id AS url,
       strftime(TIMESTAMP '2024-03-01 00:00:00' + doc_id * INTERVAL 1 SECOND,
                '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       length('<html><body>' || text || '</body></html>')::BIGINT AS n_bytes,
       md5('<html><body>' || text || '</body></html>') AS html_md5
FROM documents
"""


def q_federated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated scatter-gather: the corpus split into two doc-range shards
    built INDEPENDENTLY, queried as one federation with global statistics
    (summed df, federation-wide N/avgdl from the shards' own build
    artifacts — the distributed-IR pitfall per-shard idf would create).
    Provably rank/score-identical to the monolithic index: this entry
    SHARES bm25_topk's oracle."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.federated import search_federated
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    shard_a = build_index(spark, docs.where(F.col("doc_id") < n // 2), cfg, persist=False)
    shard_b = build_index(spark, docs.where(F.col("doc_id") >= n // 2), cfg, persist=False)
    res = search_federated([shard_a, shard_b], _query_frame(spark), cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


CHAMP_M = 5  # per-term champion list length — small so pruning is exercised


def q_champion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list retrieval (IIR §7.1.3 static pruning): build-time
    top-m=5 docs per term by exact BM25 contribution (impact DESC, doc_id
    tiebreak), query-time exact scoring restricted to the union of the
    query terms' champion lists. The testdata's head terms have df ~80% of
    the corpus, so m=5 prunes hard and the result provably differs from
    the exhaustive bm25_topk ranking; the oracle replays selection AND
    scoring."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.champions import (
        build_champions,
        search_champions,
    )
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    champs = build_champions(idx, m=CHAMP_M, cfg=cfg)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = search_champions(idx, champs, queries, cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_tiered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered retrieval (IIR §7.2.1): champion tier answers queries it can
    fill to k; queries whose candidate union is too small (q4's single
    rare term yields only m=5 champions < k=10) fall back per-query to the
    exhaustive tier — the fallback provably fires at sf0.01. The oracle
    CASEs between the two rankings on the same fill test."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.champions import (
        build_champions,
        search_tiered,
    )
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    champs = build_champions(idx, m=CHAMP_M, cfg=cfg)
    res = search_tiered(idx, champs, _query_frame(spark), cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 / Anserini):
    BM25 pass 1 -> top-5 feedback docs -> top-10 feedback terms by integer
    occurrence count (FP-free selection) -> alpha=0.5 interpolated weights
    -> BM25 pass 2. The oracle replays both passes, the feedback-term
    window, and the interpolation in SQL."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_rm3

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = search_rm3(idx, queries, docs, cfg, fb_docs=5, fb_terms=10, alpha=0.5)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_clarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-difficulty prediction: Clarity (Cronen-Townsend 2002) — KL
    divergence (bits) of the top-5 feedback docs' uniform-mixture language
    model from the collection model. Deterministic fb-doc selection via
    the engine rank path; everything else is ratios of integer counts,
    replayed term-for-term in SQL."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import clarity_scores

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = clarity_scores(idx, queries, docs, cfg, fb_docs=5)
    return res.select(
        "query_id", "n_fb_terms", F.round("clarity", 4).alias("clarity")
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: end-to-end TF-IDF top-k (unstemmed)."""
    return _q_topk(spark, sf_dir, "tfidf", stem=False)


def q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max MaxScore/WAND path over the compressed (delta+varint) index —
    provably rank-identical to the exhaustive path, so it shares the same
    DuckDB oracle as bm25_topk."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import build_compressed_index
    from fulltextsearch_spark.operators.wand import search_wand

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    cidx = build_compressed_index(spark, _docs(spark, sf_dir), cfg)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = search_wand(cidx, queries, cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 + serving path under the hard gate: build -> save_compressed_index
    -> QueryServer.load -> driver-tokenized static-IN-pruned search.
    Rank-identical to the exhaustive path, so it shares bm25_topk's oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    root = f"/tmp/fts_entry_serve_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    cidx = build_compressed_index(spark, _docs(spark, sf_dir), cfg)
    save_compressed_index(cidx, root)
    server = QueryServer.load(spark, root)
    queries = [
        (qid, " ".join(t for q, t in QUERY_TOKENS if q == qid))
        for qid in sorted({q for q, _ in QUERY_TOKENS})
    ]
    return server.search(queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_pfor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PForDelta codec under the hard gate: build (varint) ->
    save_compressed_index(codec="pfor") re-encodes every skip-aligned block
    as NewPFD (bit-packed low bits + varint exception patches) ->
    load_compressed_index -> block-max WAND decoding pfor streams. The
    re-encode is lossless and block-aligned, so block-max metadata carries
    over and the result shares bm25_topk's oracle. North-star anchor:
    "delta+varint/PForDelta compression" (BASELINE.json)."""
    import hashlib as _hl
    import shutil as _sh

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        load_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.wand import search_wand

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    root = f"/tmp/fts_entry_pfor_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _sh.rmtree(root, ignore_errors=True)
    cidx = build_compressed_index(spark, _docs(spark, sf_dir), cfg)
    save_compressed_index(cidx, root, codec="pfor")
    loaded = load_compressed_index(spark, root)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_wand(loaded, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_pfor_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PForDelta index on the in-process serving path under the hard gate:
    build (varint) -> save_compressed_index(codec="pfor") -> QueryServer.load
    -> search_local (pyarrow row-group reads + the numpy kernel decoding
    pfor blocks, no Spark job), run cold and then again warm (the second
    run serves from the row and decoded-postings caches). The two runs
    must return identical rows. Rank-identical to the exhaustive path, so
    it shares bm25_topk's oracle."""
    import hashlib as _hl
    import shutil as _sh

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    root = f"/tmp/fts_entry_pfor_local_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _sh.rmtree(root, ignore_errors=True)
    cidx = build_compressed_index(spark, _docs(spark, sf_dir), cfg)
    save_compressed_index(cidx, root, codec="pfor")
    server = QueryServer.load(spark, root)
    queries = [
        (qid, " ".join(t for q, t in QUERY_TOKENS if q == qid))
        for qid in sorted({q for q, _ in QUERY_TOKENS})
    ]
    cold = server.search_local(queries, cfg)
    warm = server.search_local(queries, cfg)
    if warm != cold:
        raise AssertionError("search_local: warm rows differ from cold rows")
    return spark.createDataFrame(
        cold, "query_id STRING, rank LONG, doc_id LONG, score DOUBLE"
    ).select("query_id", "rank", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming path under the hard gate: ingest the corpus as two
    micro-batches through the IncrementalIndexer sink, refresh after each
    (the second refresh exercises the affected-terms carry-over merge, not a
    rebuild), then query the CURRENT index version. Dense ids are assigned
    from a zero-padded order key so they replicate the table's doc_ids, and
    N/avgdl recompute over the full corpus — the final index is therefore
    value-identical to a batch build and shares bm25_topk's DuckDB oracle."""
    import hashlib as _hl
    import shutil as _sh

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.wand import search_wand
    from fulltextsearch_spark.streaming.incremental import (
        IncrementalIndexer,
        load_current_index,
        refresh_index,
    )

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    root = f"/tmp/fts_entry_incr_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _sh.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"), "text", "doc_id"
    )
    n = docs.count()
    indexer = IncrementalIndexer(spark, root, cfg, order_col="url", text_col="text")
    indexer.process_batch(docs.filter(F.col("doc_id") < n // 2), 0)
    refresh_index(spark, root, cfg)
    indexer.process_batch(docs.filter(F.col("doc_id") >= n // 2), 1)
    refresh_index(spark, root, cfg)
    cidx = load_current_index(spark, root)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_wand(cidx, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-AND retrieval (Lucene `+term`/minshould=100%): the candidate
    set is the INTERSECTION of the query terms' posting lists; scores stay
    plain BM25 over the matched terms. Beyond the reference, whose search()
    is OR-only (inverted_index_engine.cpp:109-162). The oracle adds a HAVING
    matched-count = distinct-query-terms clause to the shared scored CTE."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_conjunctive

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in CONJ_QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in CONJ_QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_conjunctive(idx, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard multi-term search (Lucene WildcardQuery, scoring_boolean
    rewrite): patterns expand against the index dictionary via a broadcast
    LIKE join, then score as the BM25 disjunction of the matched terms with
    per-pattern clause multiplicity. The oracle replays the expansion with
    LIKE over the vocabulary CTE."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.multiterm import search_wildcard

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    pats = spark.createDataFrame(WILDCARDS, ["query_id", "pattern"])
    return search_wildcard(idx, pats, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-regexp multi-term search (Lucene RegexpQuery: the pattern
    must cover the WHOLE term). Same expansion+scoring shape as the wildcard
    entry; the oracle uses regexp_full_match over the vocabulary CTE."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.multiterm import search_regexp

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    pats = spark.createDataFrame(REGEXPS, ["query_id", "pattern"])
    return search_regexp(idx, pats, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_lmd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k (Zhai & Lafferty 2001;
    Lucene LMDirichletSimilarity semantics incl. the per-term clamp at 0) —
    a second full similarity family over the same index, needing the
    collection term frequency the BM25 path never computes."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_lm_dirichlet

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_lm_dirichlet(idx, queries, cfg, mu=LMD_MU).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing (ES `collapse` / Lucene grouping): one best doc per
    `source` field in the top-k — collapse over ALL scored candidates, then
    rank groups, so a prolific source can't monopolize the result page."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.collapse import search_collapsed
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    keys = docs.select("doc_id", F.col("source").alias("key"))
    return search_collapsed(idx, queries, keys, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "key",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


FILTER_DL_MIN = 50  # filtered-search predicate: docs with at least 50 tokens


PAGERANK_D = 0.85
PAGERANK_ITERS = 10


def q_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (uniform teleport, dangling mass redistributed
    uniformly, fixed 10 power iterations). The testdata has no link graph,
    so edges derive deterministically from doc_id — doc i links to
    (7i+3)%N and (13i+5)%N, i%17==0 pages are dangling, self-links dropped,
    parallel edges deduped — mirrored in the oracle, which unrolls the same
    10 iterations as chained CTEs."""
    from fulltextsearch_spark.operators.linkgraph import pagerank

    docs = _docs(spark, sf_dir)
    n = docs.count()
    base = docs.select("doc_id")
    e1 = base.select("doc_id", ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = base.select("doc_id", ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    edges = (
        e1.unionByName(e2)
        .withColumnRenamed("doc_id", "src")
        .filter((F.col("src") % 17 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )
    pr = pagerank(edges, n, damping=PAGERANK_D, iters=PAGERANK_ITERS)
    return pr.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("pagerank", 6).alias("pagerank"),
    )


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph HITS (Kleinberg 1999): hub/authority mutual
    reinforcement, L2-normalized per half-step, fixed 10 iterations over
    the same deterministic synthetic link graph as pagerank_scores; the
    oracle unrolls every half-step as chained CTEs with subquery norms."""
    from fulltextsearch_spark.operators.linkgraph import hits

    docs = _docs(spark, sf_dir)
    n = docs.count()
    base = docs.select("doc_id")
    e1 = base.select("doc_id", ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = base.select("doc_id", ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    edges = (
        e1.unionByName(e2)
        .withColumnRenamed("doc_id", "src")
        .filter((F.col("src") % 17 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )
    out = hits(edges, n, iters=PAGERANK_ITERS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph communities: deterministic synchronous label propagation
    (most-frequent neighbor label, ties -> smallest, 5 fixed rounds) over
    the symmetrized synthetic link graph. Pure integer output; the oracle
    unrolls each round's vote/rank/update as CTEs."""
    from fulltextsearch_spark.operators.linkgraph import label_propagation

    docs = _docs(spark, sf_dir)
    n = docs.count()
    base = docs.select("doc_id")
    e1 = base.select("doc_id", ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = base.select("doc_id", ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    edges = (
        e1.unionByName(e2)
        .withColumnRenamed("doc_id", "src")
        .filter((F.col("src") % 17 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )
    out = label_propagation(edges, n, iters=5)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("community").cast("long").alias("community"),
    )


def _lpa_sql() -> str:
    iters = 5
    parts = [
        """
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb FROM documents),
v AS (SELECT doc_id FROM documents),
edges0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*7+3) % (SELECT nb FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+5) % (SELECT nb FROM nn) FROM documents
  ) WHERE src % 17 <> 0 AND src <> dst
),
sym AS MATERIALIZED (
  SELECT DISTINCT u, v2 AS nbr FROM (
    SELECT src AS u, dst AS v2 FROM edges0
    UNION ALL
    SELECT dst, src FROM edges0
  )
),
l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM v)"""
    ]
    for k in range(iters):
        parts.append(
            f""",
vt{k} AS MATERIALIZED (
  SELECT s.u, l.lbl, count(*) AS n
  FROM sym s JOIN l{k} l ON l.doc_id = s.nbr GROUP BY 1, 2),
wn{k} AS MATERIALIZED (
  SELECT u, lbl FROM (
    SELECT u, lbl, row_number() OVER (PARTITION BY u ORDER BY n DESC, lbl) AS rn
    FROM vt{k}) WHERE rn = 1),
l{k + 1} AS MATERIALIZED (
  SELECT v.doc_id, coalesce(w.lbl, p.lbl) AS lbl
  FROM v JOIN l{k} p ON p.doc_id = v.doc_id
  LEFT JOIN wn{k} w ON w.u = v.doc_id)"""
        )
    parts.append(
        f"""
SELECT doc_id::BIGINT AS doc_id, lbl::BIGINT AS community FROM l{iters}
"""
    )
    return "".join(parts)


def _hits_sql() -> str:
    iters = PAGERANK_ITERS
    parts = [
        """
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb, (max(doc_id)+1)::DOUBLE AS nd
            FROM documents),
v AS (SELECT doc_id FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*7+3) % (SELECT nb FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+5) % (SELECT nb FROM nn) FROM documents
  ) WHERE src % 17 <> 0 AND src <> dst
),
h0 AS MATERIALIZED (SELECT doc_id, 1.0/sqrt((SELECT nd FROM nn)) AS h FROM v)"""
    ]
    for k in range(iters):
        parts.append(
            f""",
araw{k} AS MATERIALIZED (
  SELECT e.dst, sum(h.h) AS ar FROM edges e JOIN h{k} h ON h.doc_id = e.src GROUP BY 1),
an{k} AS MATERIALIZED (SELECT coalesce(sqrt(sum(ar*ar)), 1.0) AS nrm FROM araw{k}),
a{k} AS MATERIALIZED (
  SELECT v.doc_id, coalesce(r.ar, 0) / (SELECT nrm FROM an{k}) AS a
  FROM v LEFT JOIN araw{k} r ON r.dst = v.doc_id),
hraw{k} AS MATERIALIZED (
  SELECT e.src, sum(a.a) AS hr FROM edges e JOIN a{k} a ON a.doc_id = e.dst GROUP BY 1),
hn{k} AS MATERIALIZED (SELECT coalesce(sqrt(sum(hr*hr)), 1.0) AS nrm FROM hraw{k}),
h{k + 1} AS MATERIALIZED (
  SELECT v.doc_id, coalesce(r.hr, 0) / (SELECT nrm FROM hn{k}) AS h
  FROM v LEFT JOIN hraw{k} r ON r.src = v.doc_id)"""
        )
    parts.append(
        f"""
SELECT h.doc_id::BIGINT AS doc_id, round(h.h, 6) AS hub, round(a.a, 6) AS authority
FROM h{iters} h JOIN a{iters - 1} a ON a.doc_id = h.doc_id
"""
    )
    return "".join(parts)


def _pagerank_sql() -> str:
    d, iters = PAGERANK_D, PAGERANK_ITERS
    parts = [
        f"""
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb, (max(doc_id)+1)::DOUBLE AS nd
            FROM documents),
v AS (SELECT doc_id FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*7+3) % (SELECT nb FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+5) % (SELECT nb FROM nn) FROM documents
  ) WHERE src % 17 <> 0 AND src <> dst
),
deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
pr0 AS MATERIALIZED (SELECT doc_id, 1.0/(SELECT nd FROM nn) AS r FROM v)"""
    ]
    for k in range(iters):
        parts.append(
            f""",
dang{k} AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS dm
            FROM pr{k} p LEFT JOIN deg ON p.doc_id = deg.src
            WHERE deg.src IS NULL),
c{k} AS MATERIALIZED (SELECT e.dst, sum(p.r / g.deg) AS contrib
         FROM pr{k} p JOIN edges e ON e.src = p.doc_id
         JOIN deg g ON g.src = e.src GROUP BY 1),
pr{k + 1} AS MATERIALIZED (SELECT v.doc_id,
              (1.0-{d})/(SELECT nd FROM nn)
                + {d}*(coalesce(c.contrib, 0)
                       + (SELECT dm FROM dang{k})/(SELECT nd FROM nn)) AS r
              FROM v LEFT JOIN c{k} c ON c.dst = v.doc_id)"""
        )
    parts.append(
        f"""
SELECT doc_id::BIGINT AS doc_id, round(r, 6) AS pagerank FROM pr{iters}
"""
    )
    return "".join(parts)


PPR_SEED_MOD = 50  # seeds = doc_id % 50 == 0 (10 seeds at sf0.01)


def q_ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW'02 / TrustRank shape): the
    teleport vector is uniform over a deterministic seed set (doc_id % 50
    == 0) instead of the whole graph, dangling mass restarts at the seeds,
    and ranks start from the seed distribution — proximity-to-seeds scores
    over the same synthetic link graph as pagerank_scores. The oracle
    unrolls the same 10 iterations with the seed teleport as CTEs."""
    from fulltextsearch_spark.operators.linkgraph import pagerank

    docs = _docs(spark, sf_dir)
    n = docs.count()
    base = docs.select("doc_id")
    e1 = base.select("doc_id", ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = base.select("doc_id", ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    edges = (
        e1.unionByName(e2)
        .withColumnRenamed("doc_id", "src")
        .filter((F.col("src") % 17 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )
    seeds = base.where(F.col("doc_id") % PPR_SEED_MOD == 0)
    pr = pagerank(
        edges, n, damping=PAGERANK_D, iters=PAGERANK_ITERS, seeds=seeds
    )
    return pr.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("pagerank", 8).alias("ppr"),
    )


def _ppr_sql() -> str:
    d, iters = PAGERANK_D, PAGERANK_ITERS
    parts = [
        f"""
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb FROM documents),
v AS (SELECT doc_id FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*7+3) % (SELECT nb FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+5) % (SELECT nb FROM nn) FROM documents
  ) WHERE src % 17 <> 0 AND src <> dst
),
deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
ns AS (SELECT count(*)::DOUBLE AS c FROM v WHERE doc_id % {PPR_SEED_MOD} = 0),
pvec AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % {PPR_SEED_MOD} = 0 THEN 1.0/(SELECT c FROM ns)
              ELSE 0.0 END AS p
  FROM v
),
pr0 AS MATERIALIZED (SELECT doc_id, p AS r FROM pvec)"""
    ]
    for k in range(iters):
        parts.append(
            f""",
dang{k} AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS dm
            FROM pr{k} p LEFT JOIN deg ON p.doc_id = deg.src
            WHERE deg.src IS NULL),
c{k} AS MATERIALIZED (SELECT e.dst, sum(p.r / g.deg) AS contrib
         FROM pr{k} p JOIN edges e ON e.src = p.doc_id
         JOIN deg g ON g.src = e.src GROUP BY 1),
pr{k + 1} AS MATERIALIZED (SELECT pv.doc_id,
              (1.0-{d})*pv.p
                + {d}*(coalesce(c.contrib, 0)
                       + (SELECT dm FROM dang{k})*pv.p) AS r
              FROM pvec pv LEFT JOIN c{k} c ON c.dst = pv.doc_id)"""
        )
    parts.append(
        f"""
SELECT doc_id::BIGINT AS doc_id, round(r, 8) AS ppr FROM pr{iters}
"""
    )
    return "".join(parts)


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index describe surface (queryable analogue of the reference's
    footprint API, fts_engine.hpp:50-60; on-disk bytes are logged per save
    in _lineage.jsonl): vocabulary size, total postings, head-term df,
    corpus scalars — one skinny (term, df) aggregate."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index, index_stats

    idx = build_index(spark, _docs(spark, sf_dir), EngineConfig(stem=False), persist=False)
    return index_stats(idx)


def _index_stats_sql() -> str:
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         round(sum(dl)::DOUBLE / (max(doc_id)+1), 6) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT count(*)::BIGINT AS n_terms, sum(df)::BIGINT AS total_postings,
       max(df)::BIGINT AS max_df, s.n_docs, s.avgdl
FROM dft CROSS JOIN stats s
GROUP BY s.n_docs, s.avgdl
"""


MLT_SEEDS = (3, 17, 42)  # seed doc_ids for More-Like-This
MLT_TERMS = 10  # max_query_terms


def q_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-Like-This (Lucene MLT semantics): each seed doc's top tf-idf
    terms become a bag-of-words query; BM25 ranks the rest of the corpus,
    seed excluded. Term weighting = the engine's (tf/dl)*idf
    (reference tf_idf.cpp:7-15), tiebreak term ASC."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.morelikethis import more_like_this

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    res = more_like_this(idx, docs, MLT_SEEDS, cfg, max_query_terms=MLT_TERMS)
    return res.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _mlt_sql() -> str:
    seeds = ", ".join(f"({i})" for i in MLT_SEEDS)
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
seeds(src) AS (VALUES {seeds}),
sw AS (
  SELECT t.doc_id AS src, t.term,
         (t.tf::DOUBLE / d.dl) *
         ln((s.n_docs - f.df + 0.5)/(f.df + 0.5) + 1.0) AS w
  FROM tf t
  JOIN seeds ON t.doc_id = seeds.src
  JOIN dls d ON d.doc_id = t.doc_id
  JOIN dft f ON f.term = t.term
  CROSS JOIN stats s
),
qt AS (
  SELECT src, term FROM (
    SELECT src, term,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, term ASC) AS rn
    FROM sw
  ) WHERE rn <= {MLT_TERMS}
),
scored AS (
  SELECT q.src AS query_id, tf.doc_id,
         sum(ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) *
             (tf.tf * ({K1} + 1.0)) /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))) AS score
  FROM qt q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id <> q.src
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


AUTOCOMPLETE_PREFIXES = [("p1", "qu"), ("p2", "fi"), ("p3", "spar"), ("p4", "da")]
AUTOCOMPLETE_K = 5


def q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete (search-box completion): top-k dictionary terms
    per typed prefix, ranked by df DESC then term ASC — popularity-ranked
    straight off the index's own (term, df), no extra artifact."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.autocomplete import autocomplete
    from fulltextsearch_spark.operators.index_build import build_index

    idx = build_index(
        spark, _docs(spark, sf_dir), EngineConfig(stem=False), persist=False
    )
    pfx = spark.createDataFrame(AUTOCOMPLETE_PREFIXES, ["query_id", "prefix"])
    res = autocomplete(idx, pfx, k=AUTOCOMPLETE_K)
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "term", "df"
    )


def _autocomplete_sql() -> str:
    vals = ", ".join(f"('{q}', '{p}')" for q, p in AUTOCOMPLETE_PREFIXES)
    return f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
pfx(query_id, prefix) AS (VALUES {vals}),
ranked AS (
  SELECT p.query_id, d.term, d.df,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY d.df DESC, d.term ASC) AS rank
  FROM pfx p JOIN dft d ON starts_with(d.term, p.prefix)
)
SELECT query_id, rank::BIGINT AS rank, term, df
FROM ranked WHERE rank <= {AUTOCOMPLETE_K}
"""


def q_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deletion + physical compaction (Lucene-style apply-on-merge):
    delete every doc_id%5==0 doc from the built index, then query. Only
    terms containing a deleted doc are rewritten (skinny broadcast semi-join
    finds them); N/avgdl recompute under engine A4/A5 semantics over the
    remaining ids. Value-identical to building over the remaining rows, so
    the oracle is the shared scored CTE with the complement WHERE clause.
    Beyond the reference, whose in-RAM index can only rebuild
    (inverted_index_engine.cpp:15-35)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.deletes import delete_docs
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    deleted = docs.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    after = delete_docs(idx, deleted)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search(after, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search: exact top-k among docs satisfying a metadata
    predicate (here dl >= FILTER_DL_MIN over doc_stats) — a semi-join of the
    candidate scores against the skinny allowed-doc projection, NOT a
    post-filter of the unfiltered top-k (which under-fills k). idf/avgdl
    keep corpus-wide values (standard filtered-search semantics)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_filtered

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    allowed = idx.doc_stats.filter(F.col("dl") >= FILTER_DL_MIN)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_filtered(idx, queries, allowed, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-merge (compaction) path under the hard gate: build TWO segment
    indexes over disjoint doc-id halves (each saved/loaded independently),
    merge_saved_indexes compacts them through the partial-combine reduce
    (zero text re-read — merge IO is the segments' compressed bytes), then
    block-max WAND over the merged index. The merge is value-identical to a
    batch build over the union corpus (tests/test_segments.py), so it shares
    bm25_topk's oracle. Beyond the reference, whose in-RAM index rebuilds
    from scratch (inverted_index_engine.cpp:15-35)."""
    import hashlib as _hl
    import shutil as _sh

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.segments import merge_saved_indexes
    from fulltextsearch_spark.operators.wand import search_wand

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    base = f"/tmp/fts_entry_seg_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _sh.rmtree(base, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    roots = [f"{base}/seg0", f"{base}/seg1"]
    for root, part in zip(
        roots,
        (docs.filter(F.col("doc_id") < n // 2), docs.filter(F.col("doc_id") >= n // 2)),
    ):
        save_compressed_index(build_compressed_index(spark, part, cfg), root)
    merged = merge_saved_indexes(spark, roots, out_root=f"{base}/merged", cfg=cfg)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_wand(merged, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_vsm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space-model tf-idf cosine top-k — the engine the reference
    declares but never implemented (vector_space_model_engine.cpp:8-33 all
    throw); completed here with classical VSM semantics (unstemmed for the
    DuckDB oracle)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.vsm import build_vsm, search_vsm

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_vsm(
        build_index(spark, _docs(spark, sf_dir), cfg, persist=False), persist=False
    )
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_vsm(idx, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference path incl. Snowball stemming. The DuckDB oracle maps
    tokens through a VALUES(term, stem) table enumerating the testdata
    vocabulary (stems produced by the vendored Porter2, which is itself
    pinned byte-identical vs the reference's compiled C stemmer in
    tests/test_porter2.py), so the join/score/topk stages are hash-checked
    end-to-end *under stemming* — semantics anchor:
    reference test/tokenizer/stemmingtokenizer_tests.cpp:17-32."""
    return _q_topk(spark, sf_dir, "bm25", stem=True)


ROCCHIO_FB_DOCS, ROCCHIO_FB_TERMS = 5, 10
ROCCHIO_ALPHA, ROCCHIO_BETA = 1.0, 0.75


def q_rocchio_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback over the VSM engine (Rocchio 1971,
    IIR §9.1.1) — the vector-space twin of rm3_topk: cosine pass 1, top-5
    fb docs, q' = alpha*q + (beta/|Dr|)*centroid truncated to the 10
    highest-weight terms, cosine pass 2 with the norm recomputed from q'.
    The oracle replays both passes, the centroid, and the truncation."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.vsm import build_vsm, search_rocchio

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_vsm(build_index(spark, docs, cfg, persist=False), persist=False)
    res = search_rocchio(
        idx,
        _query_frame(spark),
        docs,
        cfg,
        fb_docs=ROCCHIO_FB_DOCS,
        fb_terms=ROCCHIO_FB_TERMS,
        alpha=ROCCHIO_ALPHA,
        beta=ROCCHIO_BETA,
    )
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/A8/A10/F5/J3: trigram engine end-to-end. The DuckDB oracle replays
    the reference parser (whitelist runs, 3-byte windows with word offsets,
    padded 2-char words, end-of-input quirk), the offset-14 insert cap vs
    uncapped lookup, compactify, and the n_q-normalized BM25 sum in SQL;
    byte-parity is additionally pinned by tests/test_trigram.py against a
    per-byte C++ transcription oracle."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.trigram import build_trigram_index, search_trigram

    cfg = EngineConfig(k1=K1, b=B, k=TOPK)
    idx = build_trigram_index(spark, _docs(spark, sf_dir), cfg)
    # The testdata vocabulary is tiny, so compactify (stop-trigram pruning,
    # faithful to the reference) drops almost every trigram; 'dup' is rare
    # enough to survive at sf0.01 — pruned trigrams in t2/t3 still count
    # toward the n_q normalizer exactly like the reference's cleared lists.
    qs = [("t1", "dup"), ("t2", "dup value"), ("t3", "window dup table")]
    res = search_trigram(idx, qs, cfg)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_trigram_topk_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram S6/S7 under the hard gate: build -> save_trigram_index ->
    load_trigram_index -> search (reference store/load,
    trigram_index_engine.cpp:95-155). Round-trip is lossless, so it shares
    trigram_topk's oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.trigram import (
        build_trigram_index,
        load_trigram_index,
        save_trigram_index,
        search_trigram,
    )

    cfg = EngineConfig(k1=K1, b=B, k=TOPK)
    root = f"/tmp/fts_entry_tri_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    save_trigram_index(build_trigram_index(spark, _docs(spark, sf_dir), cfg), root)
    idx = load_trigram_index(spark, root)
    qs = [("t1", "dup"), ("t2", "dup value"), ("t3", "window dup table")]
    return search_trigram(idx, qs, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_resumable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed-build path under the hard gate: resumable_build (chunk
    manifests, lineage, A6 HLL metric, merge fingerprint) -> load -> WAND.
    The merged index is value-identical to a batch build, so it shares
    bm25_topk's oracle."""
    import hashlib as _hl
    import shutil as _sh

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.wand import search_wand
    from fulltextsearch_spark.plans.checkpoints import (
        load_compressed_index,
        resumable_build,
    )

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    root = f"/tmp/fts_entry_ckpt_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _sh.rmtree(root, ignore_errors=True)
    summary = resumable_build(
        spark, f"{sf_dir}/documents.parquet", root, cfg, has_doc_id=True
    )
    cidx = load_compressed_index(spark, summary["index_path"])
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    return search_wand(cidx, queries, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_stop_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: compactify — drop terms with df > n_docs/stop_share (trigram
    engine's stop-key pruning, trigram_index_engine.cpp:36-38)."""
    df_tbl = q_df_table(spark, sf_dir)
    stats = q_corpus_stats(spark, sf_dir).collect()[0]
    stop_share = max(2, min(10, int(stats["n_docs"] / (stats["avgdl"] + 1))))
    threshold = stats["n_docs"] / stop_share
    return df_tbl.filter(F.col("df") <= F.lit(threshold)).select("term", "df")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: exact dedup groups by content hash."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_count"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: whitespace token counting."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: cheap text-quality features per doc."""
    from fulltextsearch_spark.functions.tokenizer import STOP_WORDS

    docs = _docs(spark, sf_dir)
    all_words = F.split(F.trim(F.col("text")), r"\s+")
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])
    n_words = F.size(all_words)
    # count stopwords among whitespace words
    n_stop = F.aggregate(
        all_words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.when(F.array_contains(stop_arr, w), 1).otherwise(0),
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(n_stop.cast("double") / F.greatest(n_words, F.lit(1)), 4).alias("stop_ratio"),
        F.round(F.length("text").cast("double") / F.greatest(n_words, F.lit(1)), 4).alias(
            "chars_per_word"
        ),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: deterministic stopword/CJK language-ID heuristic."""
    from fulltextsearch_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace + BPE-ish pre-tokenizer counts."""
    from fulltextsearch_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: fixed-size overlapping token-window chunking
    (chunk_size=32, overlap=8 -> step 24) over the engine's unstemmed
    token stream — the RAG / embedding-prep step. Pure map-side: tokenize
    + sequence + explode + slice, zero shuffles. The DuckDB oracle replays
    tokenization (shared CTE), the start grid (generate_series by step),
    the slice, and the join-text independently."""
    from fulltextsearch_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_size=32, overlap=8)


def q_maxp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage retrieval with MaxP doc aggregation (Callan SIGIR'94 /
    Dai & Callan SIGIR'19's sparse ancestor): 32-token passages (overlap
    8) scored as their own BM25 corpus (passage-native N/avgdl/df), docs
    ranked by their best passage (lowest chunk wins score ties). The
    oracle replays chunking, passage stats, scoring, and the rollup."""
    from fulltextsearch_spark.operators.chunking import search_maxp

    res = search_maxp(
        _docs(spark, sf_dir), _query_frame(spark),
        chunk_size=32, overlap=8, k=TOPK, k1=K1, b=B,
    )
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
        F.col("best_chunk").cast("long").alias("best_chunk"),
    )


_MAXP_SQL = f"""
WITH {{tok_cte}},
st AS (
  SELECT doc_id, tokens,
         unnest(generate_series(0, greatest(len(tokens) - 1, 0), 24)) AS start_tok
  FROM toks
),
chunks AS (
  SELECT doc_id, (start_tok // 24)::BIGINT AS chunk_id,
         list_slice(tokens, start_tok + 1, start_tok + 32) AS w
  FROM st
),
ch AS (SELECT doc_id, chunk_id, w, len(w)::BIGINT AS n_tokens
       FROM chunks WHERE len(w) >= 1),
stats AS (SELECT count(*)::BIGINT AS n_chunks,
                 sum(n_tokens)::DOUBLE / count(*) AS avgdl FROM ch),
ctf AS (
  SELECT doc_id, chunk_id, n_tokens, unnest(w) AS term FROM ch
),
ctf2 AS (
  SELECT doc_id, chunk_id, n_tokens, term, count(*)::BIGINT AS tf
  FROM ctf GROUP BY 1, 2, 3, 4
),
cdf AS (SELECT term, count(*)::BIGINT AS df FROM ctf2 GROUP BY 1),
qt AS (SELECT * FROM (VALUES {{qtoks}}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
cs AS (
  SELECT q.query_id, c.doc_id, c.chunk_id,
         sum(q.qtf * ln((s.n_chunks - d.df + 0.5)/(d.df + 0.5) + 1.0) *
             (c.tf * ({K1} + 1.0)) /
             (c.tf + {K1} * (1.0 - {B} + {B} * c.n_tokens / s.avgdl))) AS cscore
  FROM qtf q JOIN ctf2 c ON c.term = q.term JOIN cdf d ON d.term = q.term
  CROSS JOIN stats s
  GROUP BY 1, 2, 3
),
best AS (
  SELECT query_id, doc_id, cscore AS score, chunk_id AS best_chunk FROM (
    SELECT query_id, doc_id, chunk_id, cscore,
           row_number() OVER (PARTITION BY query_id, doc_id
                              ORDER BY cscore DESC, chunk_id ASC) AS rn
    FROM cs) WHERE rn = 1
),
ranked AS (
  SELECT query_id, doc_id, score, best_chunk,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM best
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score, best_chunk::BIGINT AS best_chunk
FROM ranked WHERE rank <= {TOPK}
"""


SEQ_LEN = 64


def q_packed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized training sequences the packed_sequences map
    describes: per-sequence token arrays assembled in seq_pos order, gated
    on md5 of the space-joined tokens — every sequence except the last
    must hold exactly SEQ_LEN tokens of the concatenated corpus stream."""
    from fulltextsearch_spark.operators.chunking import materialize_sequences

    out = materialize_sequences(_docs(spark, sf_dir), seq_len=SEQ_LEN, bucket_span=64)
    return out.select(
        "seq_id", "n_toks", F.md5(F.array_join("tokens", " ")).alias("toks_md5")
    )


_PACKED_TOKENS_SQL = f"""
WITH {{tok_cte}},
n AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS n FROM toks WHERE len(tokens) > 0),
offs AS (
  SELECT doc_id, tokens, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
  FROM n
),
spans AS (
  SELECT doc_id, tokens, n, off,
         unnest(range(off // {SEQ_LEN}, (off + n - 1) // {SEQ_LEN} + 1)) AS seq_id
  FROM offs
),
pieces AS (
  SELECT seq_id,
         greatest(seq_id * {SEQ_LEN}, off) - seq_id * {SEQ_LEN} AS seq_pos,
         list_slice(tokens,
                    (greatest(seq_id * {SEQ_LEN}, off) - off + 1)::INT,
                    (least((seq_id + 1) * {SEQ_LEN}, off + n) - off)::INT) AS piece
  FROM spans
),
assembled AS (
  SELECT seq_id,
         flatten(list(piece ORDER BY seq_pos)) AS tokens
  FROM pieces GROUP BY 1
)
SELECT seq_id::BIGINT AS seq_id, len(tokens)::BIGINT AS n_toks,
       md5(array_to_string(tokens, ' ')) AS toks_md5
FROM assembled
"""


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: model-based quality filter (the CCNet / LLaMA
    fastText-classifier stage) as closed-form multinomial Naive Bayes over
    the engine token stream — trained on source='src0' (target domain) vs
    'src1' (background), scoring every doc. Counts are integers and the
    log-ratio dag is fixed, so model weights AND scores replay in SQL."""
    from fulltextsearch_spark.operators.qualityclf import nb_score, nb_train

    docs = _docs(spark, sf_dir)
    labels = docs.where(F.col("source").isin("src0", "src1")).select(
        "doc_id", (F.col("source") == "src0").cast("int").alias("label")
    )
    model = nb_train(docs, labels, alpha=0.5)
    return nb_score(docs, model)


_NB_QUALITY_SQL = """
WITH {tok_cte},
lab AS (
  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS label
  FROM documents WHERE source IN ('src0', 'src1')
),
sdt AS (SELECT l.label, t.term FROM tok t JOIN lab l USING (doc_id)),
cnt AS (
  SELECT term,
         sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS c0
  FROM sdt GROUP BY 1
),
tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0,
               count(*)::BIGINT AS v FROM cnt),
dc AS (SELECT sum(label)::BIGINT AS d1, sum(1 - label)::BIGINT AS d0 FROM lab),
wts AS (
  SELECT term, ln((c1 + 0.5) / (n1 + 0.5 * v)) - ln((c0 + 0.5) / (n0 + 0.5 * v)) AS llr
  FROM cnt CROSS JOIN tot
),
consts AS (
  SELECT ln(d1::DOUBLE / d0::DOUBLE) AS prior_llr,
         ln(0.5 / (n1 + 0.5 * v)) - ln(0.5 / (n0 + 0.5 * v)) AS oov_llr
  FROM tot CROSS JOIN dc
),
per AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_toks,
         sum(coalesce(w.llr, c.oov_llr)) AS s
  FROM tok t LEFT JOIN wts w USING (term) CROSS JOIN consts c
  GROUP BY 1
)
SELECT d.doc_id, coalesce(p.n_toks, 0)::BIGINT AS n_toks,
       round(c.prior_llr + coalesce(p.s, 0.0), 4) AS nb_llr,
       (CASE WHEN c.prior_llr + coalesce(p.s, 0.0) > 0 THEN 1 ELSE 0 END)::INT AS pred
FROM documents d LEFT JOIN per p USING (doc_id) CROSS JOIN consts c
"""


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: GPT-style sequence packing — the corpus token
    stream concatenated in doc_id order and cut into fixed 64-token training
    sequences, docs spanning boundaries. Pure-integer pack map (seq_id,
    doc_id, doc_start, seq_pos, n_toks); the two-level offset decomposition
    is value-identical to the oracle's single cumulative window."""
    from fulltextsearch_spark.operators.chunking import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=SEQ_LEN, bucket_span=64)


_PACKED_SQL = f"""
WITH {{tok_cte}},
n AS (SELECT doc_id, len(tokens)::BIGINT AS n FROM toks WHERE len(tokens) > 0),
offs AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
  FROM n
),
spans AS (
  SELECT doc_id, n, off,
         unnest(range(off // {SEQ_LEN}, (off + n - 1) // {SEQ_LEN} + 1)) AS seq_id
  FROM offs
)
SELECT seq_id::BIGINT AS seq_id, doc_id,
       (greatest(seq_id * {SEQ_LEN}, off) - off)::BIGINT AS doc_start,
       (greatest(seq_id * {SEQ_LEN}, off) - seq_id * {SEQ_LEN})::BIGINT AS seq_pos,
       (least((seq_id + 1) * {SEQ_LEN}, off + n)
        - greatest(seq_id * {SEQ_LEN}, off))::BIGINT AS n_toks
FROM spans
"""


def q_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: benchmark decontamination (published exact
    n-gram-overlap rule, GPT-3 App. C style; n=8 over the engine's
    unstemmed token stream here so the small corpus has cross-doc hits).
    The "benchmark" is a deterministic subset of the corpus itself
    (doc_id % 17 == 3) — the leaked-eval-set scenario the rule exists
    for. The DuckDB oracle replays tokenization, the sliding n-grams,
    and the distinct-gram overlap count independently (string-join on
    grams; Spark joins on xxhash64 of the same grams)."""
    from fulltextsearch_spark.operators.decontam import contamination_flags

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 3).select("text")
    return contamination_flags(docs, bench, n=8, min_hits=1).orderBy("doc_id")


# Phrase-search query set: frequent / rare / stop-word-laden (same surviving
# stream as p1) / no-match phrases over the testdata vocabulary.
PHRASES = [
    ("p1", "value table"),
    ("p2", "slow hash batch"),
    ("p3", "value of the table"),
    ("p4", "salmon zebra"),
]


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional index + exact phrase top-k (beyond the reference, which
    indexes (term, doc, tf) only — inverted_index_engine.cpp:15-35). Pure
    relational adjacency: postings carry surviving-token positions, each
    posting row explodes to start = pos - slot, a start with all slots
    present is one occurrence; the phrase scores as a single virtual term
    (tf = occurrences, df = matching docs) through the reference BM25
    formula. The DuckDB oracle replays positions (zipped unnest), the
    slot-shifted adjacency join, and the scoring independently."""
    from fulltextsearch_spark.operators.positional import (
        build_positional_index,
        phrase_topk,
    )

    idx = build_positional_index(_docs(spark, sf_dir))
    qs = spark.createDataFrame(PHRASES, ["query_id", "content"])
    res = phrase_topk(idx, qs, k=TOPK, k1=K1, b=B)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# match_phrase_prefix query set: the last token is a PREFIX ('ta' -> table,
# 'sp' -> spark/...); pp4 exercises stop-word drops before the prefix slot.
PREFIX_PHRASES = [
    ("pp1", "value ta"),
    ("pp2", "slow ha"),
    ("pp3", "fast sp"),
    ("pp4", "value of the ta"),
]
PP_MAX_EXP = 50


def q_phrase_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix over the positional index: the phrase's last
    token expands as a prefix against the vocabulary (term-ASC
    max_expansions cap), exact leading slots + any expanded final term at
    the consecutive position; ranked as one virtual term like phrase_topk.
    The oracle replays expansion (starts_with over the vocabulary CTE) and
    the slot-shifted adjacency with required slots from the ORIGINAL
    phrase length."""
    from fulltextsearch_spark.operators.positional import (
        build_positional_index,
        phrase_prefix_topk,
    )

    idx = build_positional_index(_docs(spark, sf_dir))
    qs = spark.createDataFrame(PREFIX_PHRASES, ["query_id", "content"])
    res = phrase_prefix_topk(idx, qs, k=TOPK, k1=K1, b=B, max_expansions=PP_MAX_EXP)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# Proximity query set (unordered within-window cover) + the window size.
PROX_QUERIES = [
    ("x1", "slow hash"),
    ("x2", "value table part"),
    ("x3", "salmon zebra"),
]
PROX_WINDOW = 5
SNIP_WINDOW = 8  # snippet span length (surviving tokens)


def q_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional index, unordered proximity ranking: a window anchored at
    any query-term occurrence counts when every distinct query term occurs
    in [anchor, anchor+W); tf = window count, scored as a virtual term via
    the reference BM25 formula. The DuckDB oracle replays the range
    self-join cover test and the scoring independently."""
    from fulltextsearch_spark.operators.positional import (
        build_positional_index,
        proximity_topk,
    )

    idx = build_positional_index(_docs(spark, sf_dir))
    qs = spark.createDataFrame(PROX_QUERIES, ["query_id", "content"])
    res = proximity_topk(idx, qs, window=PROX_WINDOW, k=TOPK, k1=K1, b=B)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# fuzzy-suggestion entry: misspellings of mid-frequency testdata vocabulary
SUGGEST_QUERIES = [
    ("s1", "custmer"),
    ("s2", "windoq"),
    ("s3", "streem"),
    ("s4", "smaller"),
    ("s5", "colum"),
    ("s6", "vectorr"),
]


def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy 'did you mean' term suggestion over the corpus vocabulary:
    character-trigram Jaccard through the SAME packed-trigram parser the
    trigram engine uses (offset byte dropped — position-insensitive), ties
    broken by occurrence count then term. The oracle replays the parser
    over the vocabulary and the misspelled words, then the Jaccard and the
    ranking."""
    from fulltextsearch_spark.operators.trigram import suggest_terms

    qdf = spark.createDataFrame(SUGGEST_QUERIES, ["query_id", "word"])
    return suggest_terms(_docs(spark, sf_dir), qdf, k=5).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "term",
        F.round("jaccard", 4).alias("jaccard"),
        F.col("n_occ").cast("long").alias("n_occ"),
    )


def _suggest_sql() -> str:
    qvals = ", ".join(f"('{q}', '{w}')" for q, w in SUGGEST_QUERIES)
    return f"""
WITH {_tok_cte()},
vocab AS (SELECT term, count(*)::BIGINT AS n_occ FROM tok GROUP BY 1),
{_trigram_emit_sql('vocab', 'term', 'term')[1:]},
vt AS (SELECT DISTINCT term, raw // 256 AS tri FROM vocab_tri),
vn AS (SELECT term, count(*)::BIGINT AS n_tri FROM vt GROUP BY 1),
qsrc AS (SELECT * FROM (VALUES {qvals}) v(query_id, word)),
{_trigram_emit_sql('qsrc', 'query_id', 'word')[1:]},
qtd AS (SELECT DISTINCT query_id, raw // 256 AS tri FROM qsrc_tri),
qn AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qtd GROUP BY 1),
inter AS (SELECT q.query_id, v.term, count(*)::BIGINT AS c
          FROM qtd q JOIN vt v USING (tri) GROUP BY 1, 2),
scored AS (SELECT i.query_id, i.term,
                  i.c::DOUBLE / (qn.n_q + vn.n_tri - i.c) AS jaccard, vb.n_occ
           FROM inter i
           JOIN qn USING (query_id)
           JOIN vn ON vn.term = i.term
           JOIN vocab vb ON vb.term = i.term),
ranked AS (SELECT query_id, term, jaccard, n_occ,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY jaccard DESC, n_occ DESC, term ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, term, round(jaccard, 4) AS jaccard,
       n_occ::BIGINT AS n_occ
FROM ranked WHERE rank <= 5
"""


def q_snippet_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet selection over the positional index: for each proximity
    top-k result, the best SNIP_WINDOW-token span — max distinct query
    terms covered, then max total hits, then earliest start (anchors are
    query-term occurrences; sliding right to the next hit never gains
    coverage). The oracle replays ranking, anchors, and the argmax."""
    from fulltextsearch_spark.operators.positional import (
        best_snippets,
        build_positional_index,
        proximity_topk,
    )

    idx = build_positional_index(_docs(spark, sf_dir))
    qs = spark.createDataFrame(PROX_QUERIES, ["query_id", "content"])
    pairs = proximity_topk(idx, qs, window=PROX_WINDOW, k=TOPK, k1=K1, b=B).select(
        "query_id", "doc_id"
    )
    return best_snippets(idx, qs, pairs, window=SNIP_WINDOW).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("snip_start").cast("long").alias("snip_start"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


SPAN_L = 8  # min duplicated-span length (surviving tokens)

# BM25F (simple form, Robertson & Zaragoza 2009 §3.3): title weighted 2.5x
# with its own length normalization; the title field derives as the first 6
# whitespace words of the text (the testdata has no title column) —
# mirrored literally in the oracle's src CTE.
BM25F_WEIGHTS = {"title": 2.5, "body": 1.0}
BM25F_B = {"title": 0.6, "body": 0.75}


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F multi-field top-k: per-field weighted, length-normalized tf
    summed across fields, then ONE shared k1 saturation (NOT a weighted sum
    of per-field BM25 — that would double-saturate); idf over any-field df;
    duplicate query tokens keep the engine's multiplicity semantics."""
    from fulltextsearch_spark.operators.fields import bm25f_topk, build_fielded_index

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 6), " ").alias("title"),
        F.col("text").alias("body"),
    )
    idx = build_fielded_index(docs, {"title": "title", "body": "body"}, stem=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = bm25f_topk(idx, queries, BM25F_WEIGHTS, BM25F_B, k1=K1, k=TOPK)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _bm25f_sql() -> str:
    wt, wb = BM25F_WEIGHTS["title"], BM25F_WEIGHTS["body"]
    bt, bb = BM25F_B["title"], BM25F_B["body"]
    return f"""
WITH src AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS title,
         text AS body
  FROM documents
),
ft AS (
  SELECT doc_id, 'title' AS field,
         list_filter(regexp_split_to_array(lower(title), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()})) AS tokens
  FROM src
  UNION ALL
  SELECT doc_id, 'body',
         list_filter(regexp_split_to_array(lower(body), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()}))
  FROM src
),
flen AS (SELECT doc_id, field, len(tokens)::BIGINT AS flen FROM ft),
ftok AS (SELECT doc_id, field, unnest(tokens) AS term FROM ft),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM src),
avgf AS (SELECT field, sum(flen)::DOUBLE / (SELECT n_docs FROM stats) AS avglen
         FROM flen GROUP BY 1),
tf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftok GROUP BY 1,2,3),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM ftok GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
wtf AS (
  SELECT q.query_id, q.qtf, tf.term, tf.doc_id,
         sum((CASE WHEN tf.field = 'title' THEN {wt} ELSE {wb} END) * tf.tf /
             (1.0 - (CASE WHEN tf.field = 'title' THEN {bt} ELSE {bb} END)
              + (CASE WHEN tf.field = 'title' THEN {bt} ELSE {bb} END)
                * flen.flen::DOUBLE / avgf.avglen)) AS wtf
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN flen ON flen.doc_id = tf.doc_id AND flen.field = tf.field
  JOIN avgf ON avgf.field = tf.field
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT w.query_id, w.doc_id,
         sum(w.qtf * ln(((SELECT n_docs FROM stats) - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * w.wtf / ({K1} + w.wtf)) AS score
  FROM wtf w JOIN dft d USING (term)
  GROUP BY 1, 2
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


ANCHOR_W, ANCHOR_B = {"body": 1.0, "anchor": 2.0}, {"body": 0.75, "anchor": 0.5}
ANCHOR_NW, ANCHOR_CAP = 3, 8


def q_anchor_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text ranking — THE classic web-search field combination
    (Brin & Page 1998; Craswell et al. SIGIR'01): each page's incoming
    anchor text (first-3-words-of-source stand-in over the synthetic link
    graph, ascending-src order, capped at 8) joins the body as a second
    BM25F field at weight 2.0 / b 0.5. Composes anchor_texts with the
    fielded index; the oracle replays edges, anchors, both fields, and
    the shared-saturation BM25F sum."""
    from fulltextsearch_spark.operators.fields import bm25f_topk, build_fielded_index
    from fulltextsearch_spark.operators.linkgraph import anchor_texts

    docs = _docs(spark, sf_dir)
    n = docs.count()
    base = docs.select("doc_id")
    e1 = base.select("doc_id", ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
    e2 = base.select("doc_id", ((F.col("doc_id") * 13 + 5) % n).alias("dst"))
    edges = (
        e1.unionByName(e2)
        .withColumnRenamed("doc_id", "src")
        .filter((F.col("src") % 17 != 0) & (F.col("src") != F.col("dst")))
        .distinct()
    )
    anch = anchor_texts(docs, edges, n_words=ANCHOR_NW, max_anchors=ANCHOR_CAP)
    fielded = docs.join(anch, "doc_id", "left").select(
        "doc_id",
        F.col("text").alias("body"),
        F.coalesce("anchor", F.lit("")).alias("anchor"),
    )
    idx = build_fielded_index(fielded, {"body": "body", "anchor": "anchor"}, stem=False)
    res = bm25f_topk(idx, _query_frame(spark), ANCHOR_W, ANCHOR_B, k1=K1, k=TOPK)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _anchor_bm25f_sql() -> str:
    wb, wa = ANCHOR_W["body"], ANCHOR_W["anchor"]
    bb, ba = ANCHOR_B["body"], ANCHOR_B["anchor"]
    tsplit, stops, qtoks = _TOKEN_SPLIT_SQL, _stop_list_sql(), _values_query_tokens()
    return f"""
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb FROM documents),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*7+3) % (SELECT nb FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*13+5) % (SELECT nb FROM nn) FROM documents
  ) WHERE src % 17 <> 0 AND src <> dst
),
anch0 AS (
  SELECT e.dst, e.src,
         array_to_string(list_slice(string_split(d.text, ' '), 1, {ANCHOR_NW}), ' ') AS a
  FROM edges e JOIN documents d ON d.doc_id = e.src
),
anch1 AS (
  SELECT dst, src, a, row_number() OVER (PARTITION BY dst ORDER BY src) AS rn
  FROM anch0
),
anch AS (
  SELECT dst AS doc_id, string_agg(a, ' ' ORDER BY src) AS anchor
  FROM anch1 WHERE rn <= {ANCHOR_CAP} GROUP BY 1
),
src AS (
  SELECT d.doc_id, d.text AS body, coalesce(an.anchor, '') AS anchor
  FROM documents d LEFT JOIN anch an ON an.doc_id = d.doc_id
),
ft AS (
  SELECT doc_id, 'body' AS field,
         list_filter(regexp_split_to_array(lower(body), '{tsplit}'),
                     x -> x <> '' AND x NOT IN ({stops})) AS tokens
  FROM src
  UNION ALL
  SELECT doc_id, 'anchor',
         list_filter(regexp_split_to_array(lower(anchor), '{tsplit}'),
                     x -> x <> '' AND x NOT IN ({stops}))
  FROM src
),
flen AS (SELECT doc_id, field, len(tokens)::BIGINT AS flen FROM ft),
ftok AS (SELECT doc_id, field, unnest(tokens) AS term FROM ft),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM src),
avgf AS (SELECT field, sum(flen)::DOUBLE / (SELECT n_docs FROM stats) AS avglen
         FROM flen GROUP BY 1),
tf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftok GROUP BY 1,2,3),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM ftok GROUP BY 1),
qt AS (SELECT * FROM (VALUES {qtoks}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
wtf AS (
  SELECT q.query_id, q.qtf, tf.term, tf.doc_id,
         sum((CASE WHEN tf.field = 'anchor' THEN {wa} ELSE {wb} END) * tf.tf /
             (1.0 - (CASE WHEN tf.field = 'anchor' THEN {ba} ELSE {bb} END)
              + (CASE WHEN tf.field = 'anchor' THEN {ba} ELSE {bb} END)
                * flen.flen::DOUBLE / avgf.avglen)) AS wtf
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN flen ON flen.doc_id = tf.doc_id AND flen.field = tf.field
  JOIN avgf ON avgf.field = tf.field
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT w.query_id, w.doc_id,
         sum(w.qtf * ln(((SELECT n_docs FROM stats) - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * w.wtf / ({K1} + w.wtf)) AS score
  FROM wtf w JOIN dft d USING (term)
  GROUP BY 1, 2
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic duplicate injection for the exact-substring entry (the
    synthetic testdata has no exact long repeats): every doc_id%7==0 doc is
    cloned wholesale at +100000, and every doc_id%11==0 doc contributes its
    first-30-whitespace-word prefix at +200000 — both mirrored literally in
    the oracle's src CTE."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    prefixes = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 30), " ").alias("text"),
    )
    return d.unionByName(clones).unionByName(prefixes)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr re-expressed as
    duplicated-L-gram coverage): maximal >=SPAN_L-token spans occurring >=2
    times in the corpus, keep-first policy (the earliest copy stays). The
    oracle replays grams, occurrence counts, the first-occurrence exemption,
    and the gaps-and-islands interval merge in SQL."""
    from fulltextsearch_spark.operators.spandedup import duplicate_spans

    res = duplicate_spans(_span_docs(spark, sf_dir), min_len=SPAN_L, keep_first=True)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def _span_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 30), ' ') AS text
  FROM documents WHERE doc_id % 11 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()})) AS tokens
  FROM src
),
starts AS (
  SELECT doc_id, unnest(generate_series(1, len(tokens) - {SPAN_L} + 1)) AS i, tokens
  FROM toks WHERE len(tokens) >= {SPAN_L}
),
grams AS (
  SELECT doc_id, (i - 1)::BIGINT AS start,
         array_to_string(list_slice(tokens, i, i + {SPAN_L} - 1), ' ') AS gram
  FROM starts
),
marked AS (
  SELECT doc_id, start,
         count(*) OVER (PARTITION BY gram) AS cnt,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
  FROM grams
),
hits AS (SELECT doc_id, start FROM marked WHERE cnt >= 2 AND rn > 1),
fl AS (
  SELECT doc_id, start,
         CASE WHEN start > coalesce(lag(start) OVER (PARTITION BY doc_id ORDER BY start),
                                    -1000000000) + {SPAN_L} THEN 1 ELSE 0 END AS newisl
  FROM hits
),
isl AS (
  SELECT doc_id, start,
         sum(newisl) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT doc_id::BIGINT AS doc_id, min(start)::BIGINT AS span_start,
       (max(start) + {SPAN_L})::BIGINT AS span_end, count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, island
"""


def _lineful_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata text is single-line with no punctuation, so the
    line-level filter rules would be degenerate on it. Deterministically
    inject line and sentence structure — replace literal ' the ' with a
    newline, then literal ' value ' with '. ' — with the exact same two
    replaces in the DuckDB oracle, so the rules run over real multi-line,
    multi-sentence shapes on both engines."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" the "), F.lit("\n")),
            F.lit(" value "),
            F.lit(". "),
        ).alias("text"),
    )


_LINEFUL_SQL = (
    "SELECT doc_id, replace(replace(text, ' the ', chr(10)), ' value ', '. ') AS text "
    "FROM documents"
)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: the Gopher quality heuristics (Rae et al. 2021,
    A1.1) as per-doc stats + pass gate, pure Column math."""
    from fulltextsearch_spark.operators.webfilters import gopher_quality

    return gopher_quality(_lineful_docs(spark, sf_dir))


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: the Gopher repetition-removal rules (Rae et
    al. 2021, Table A1) — within-doc duplicate line fractions plus top/
    duplicated word n-gram character fractions, zero-shuffle Column math."""
    from fulltextsearch_spark.operators.webfilters import gopher_repetition

    return gopher_repetition(_lineful_docs(spark, sf_dir))


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: the C4 page/line cleaning heuristics (Raffel
    et al. 2020 §2.2) as per-doc stats + pass gate."""
    from fulltextsearch_spark.operators.webfilters import c4_line_filters

    return c4_line_filters(_lineful_docs(spark, sf_dir))


BOIL_MIN_DF = 3


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate-line removal (CCNet §3.1 / Dolma common-line
    rule): lines appearing in >= 3 distinct docs are stripped everywhere.
    Two deterministic footer lines ('all rights reserved' on every doc,
    'cookie notice' on even ids) are injected on top of the lineful text so
    the rule provably fires; gated on md5 of each rebuilt doc."""
    from fulltextsearch_spark.operators.webfilters import boilerplate_lines

    base = _lineful_docs(spark, sf_dir)
    docs = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nall rights reserved"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("\ncookie notice")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = boilerplate_lines(docs, min_df=BOIL_MIN_DF)
    return out.select(
        "doc_id", "n_lines", "n_removed", F.md5("text").alias("text_md5")
    )


_BOIL_SQL = f"""
WITH lineful AS ({{lineful}}),
docs2 AS (
  SELECT doc_id,
         text || chr(10) || 'all rights reserved' ||
         CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'cookie notice' ELSE '' END AS text
  FROM lineful
),
lines AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS ls
  FROM docs2
),
pairs AS (SELECT DISTINCT doc_id, md5(lower(unnest(ls))) AS h FROM lines),
boil AS (
  SELECT h FROM (SELECT h, count(*) AS df FROM pairs GROUP BY 1)
  WHERE df >= {BOIL_MIN_DF}
),
barr AS (SELECT coalesce(list(h), []) AS bl FROM boil),
kept AS (
  SELECT l.doc_id, l.ls,
         list_filter(l.ls, x -> NOT list_contains(b.bl, md5(lower(x)))) AS ks
  FROM lines l CROSS JOIN barr b
)
SELECT doc_id, len(ls)::BIGINT AS n_lines,
       (len(ls) - len(ks))::BIGINT AS n_removed,
       md5(array_to_string(ks, chr(10))) AS text_md5
FROM kept
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: paragraph-granularity exact dedup stats
    (keep-first policy of Lee et al. 2022) — one bounded shuffle on the
    normalized-paragraph key."""
    from fulltextsearch_spark.operators.webfilters import paragraph_dedup_stats

    return paragraph_dedup_stats(_lineful_docs(spark, sf_dir))


def _url_expr():
    """Deterministic messy-URL Column from doc_id (the testdata has no url
    column). Pair (2g, 2g+1) spells the SAME page two ways: variant 1
    uppercases scheme+host and adds the default port, a trailing slash,
    tracking params, swapped param order, and a fragment; groups with
    g%3==0 also give variant 1 a real extra param (page=2) so it stays a
    distinct page; http groups with g%10==0 spell variant 0 SCHEME-LESS
    ("www.siteN.com/...", common in messy crawl data) to pin the
    implicit-http normalization rule. g%9 families pin one URL-parse rule
    each: g%9==0 gives variant 1 NO query but a '?' inside the fragment
    ("#sec?x=1" — must not resurrect as parameters), g%9==1 a VALUELESS
    tracking param ("&fbclid" — must still strip), g%9==2 an IPv4-literal
    host (its own domain, never the last-two-octets), g%9==3 a trailing
    root-dot host ("….com."). Mirrored literally in the oracle SQL."""
    g = F.expr("doc_id DIV 2")
    v = F.col("doc_id") % 2
    kind = g % 2
    scheme = F.when(kind == 0, F.lit("http")).otherwise(F.lit("https"))
    port = F.when(kind == 0, F.lit(":80")).otherwise(F.lit(":443"))
    tld = (
        F.when(g % 4 == 0, F.lit(".com"))
        .when(g % 4 == 1, F.lit(".org"))
        .when(g % 4 == 2, F.lit(".co.uk"))
        .otherwise(F.lit(".net"))
    )
    named = F.concat(F.lit("www.site"), (g % 37).cast("string"), tld)
    host = (
        F.when(g % 9 == 2, F.concat(F.lit("10."), (g % 5).cast("string"), F.lit(".0.1")))
        .when(g % 9 == 3, F.concat(named, F.lit(".")))
        .otherwise(named)
    )
    path = F.concat(F.lit("/docs/item"), (g % 41).cast("string"))
    extra = F.when(g % 3 == 0, F.lit("&page=2")).otherwise(F.lit(""))
    url0 = F.when(
        g % 10 == 0, F.concat(host, path, F.lit("?a=1&b=2"))
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, F.lit("?a=1&b=2")))
    suffix = (
        F.when(g % 9 == 0, F.lit("/#sec?x=1"))
        .when(
            g % 9 == 1,
            F.concat(F.lit("/?b=2&a=1&utm_source=feed&fbclid"), extra, F.lit("#sec")),
        )
        .otherwise(
            F.concat(F.lit("/?b=2&a=1&utm_source=feed&fbclid=x9"), extra, F.lit("#sec"))
        )
    )
    url1 = F.concat(F.upper(scheme), F.lit("://"), F.upper(host), port, path, suffix)
    return F.when(v == 0, url0).otherwise(url1)


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", _url_expr().alias("url"))


SPLIT_WEIGHTS, SPLIT_NAMES = (0.8, 0.1, 0.1), ("train", "val", "test")


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment hashes the REGISTERED
    DOMAIN, so same-site near-duplicate pages can never straddle splits
    (the evaluation-hygiene rule row-level random splits violate). Pure
    function of (salt, domain) — zero shuffles, stable under re-runs and
    corpus growth."""
    from fulltextsearch_spark.operators.sampling import group_split
    from fulltextsearch_spark.operators.urltools import registered_domain

    docs = _url_docs(spark, sf_dir).withColumn(
        "domain", registered_domain(F.col("url"))
    )
    out = group_split(docs, "domain", weights=SPLIT_WEIGHTS, names=SPLIT_NAMES)
    return out.select("doc_id", "domain", "split")


def _group_split_sql() -> str:
    total = float(sum(SPLIT_WEIGHTS))
    case = "CASE"
    cum = 0.0
    for w, name in zip(SPLIT_WEIGHTS[:-1], SPLIT_NAMES[:-1]):
        cum += w / total
        case += (
            f" WHEN (('0x' || substr(md5('split:' || domain), 1, 8))::UINT64)::DOUBLE"
            f" < {cum * 4294967296.0!r} THEN '{name}'"
        )
    case += f" ELSE '{SPLIT_NAMES[-1]}' END"
    return (
        _DOMAIN_CTES
        + f"""
SELECT doc_id::BIGINT AS doc_id, domain, {case} AS split
FROM doms ORDER BY doc_id
"""
    )


_DOMAIN_CTES = r"""
WITH p AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents
),
parts AS (
  SELECT doc_id, v, g,
    CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END AS port,
    CASE WHEN g % 9 = 2 THEN '10.' || (g % 5) || '.0.1'
         WHEN g % 9 = 3 THEN 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) || '.'
         ELSE 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) END AS host,
    '/docs/item' || (g % 41) AS path,
    CASE WHEN g % 3 = 0 THEN '&page=2' ELSE '' END AS extra
  FROM p
),
urls0 AS (
  SELECT doc_id,
    CASE WHEN v = 0 AND g % 10 = 0
      THEN host || path || '?a=1&b=2'
      WHEN v = 0
      THEN scheme || '://' || host || path || '?a=1&b=2'
      ELSE upper(scheme) || '://' || upper(host) || port || path ||
           (CASE WHEN g % 9 = 0 THEN '/#sec?x=1'
                 WHEN g % 9 = 1 THEN '/?b=2&a=1&utm_source=feed&fbclid' || extra || '#sec'
                 ELSE '/?b=2&a=1&utm_source=feed&fbclid=x9' || extra || '#sec' END)
    END AS url
  FROM parts
),
urls AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.\-]*://')
         THEN url ELSE 'http://' || url END AS url
  FROM urls0
),
hosts AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)),
                   ':[0-9]+$', ''), '\.$', '') AS host
  FROM urls
),
doms AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
         THEN host
         WHEN regexp_matches(host, '[^.]+\.(co|com|org|net|ac|gov|edu)\.(uk|au|jp|in|br|nz|za|mx|ar|cn|id|tr)$')
              AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
         WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
         ELSE host END AS domain
  FROM hosts
)
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: URL normalization (case/port/fragment/tracking-
    param/param-order/trailing-slash canonicalization) + keep-first dedup
    per normalized URL — one shuffle on the normalized-URL hash."""
    from fulltextsearch_spark.operators.urltools import url_dedup

    return url_dedup(_url_docs(spark, sf_dir)).orderBy("doc_id")


def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: registered-domain extraction (public-suffix
    approximation) + per-domain document cap, keeping the lowest doc_ids."""
    from fulltextsearch_spark.operators.urltools import domain_caps

    return domain_caps(_url_docs(spark, sf_dir), max_per_domain=3).orderBy("doc_id")


def q_curate_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: the composed web-page curation pipeline — URL
    dedup → per-domain cap → Gopher quality → Gopher repetition → C4 gate
    as ONE plan whose only wide ops are two short-key windows (text never
    crosses an exchange). Verdict row per document.

    Entry-specific knobs so every gate DISCRIMINATES on the synthetic
    testdata (a constant flag would make the hash gate vacuous): the
    injection also turns ' table ' into a sentence+line break (giving C4
    its '.'-terminated lines), the required-stop rule is waived (the
    synthetic vocabulary contains no English stop words — every other
    Gopher clause still applies), and the domain cap is 2 so it binds."""
    from fulltextsearch_spark.operators.curation import curate_web

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        _url_expr().alias("url"),
        F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")),
                F.lit(" the "),
                F.lit("\n"),
            ),
            F.lit(" value "),
            F.lit(". "),
        ).alias("text"),
    )
    return curate_web(
        docs, max_per_domain=2, gopher_kwargs={"min_required_stops": 0}
    ).orderBy("doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: exact character-8-shingle Jaccard pairs over a doc subset (the
    testdata vocabulary is tiny, so an unrestricted shingle join is a
    cartesian blowup by construction — real corpora are far sparser)."""
    from fulltextsearch_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return ngram_jaccard_pairs(docs, shingle_k=8, threshold=0.08).select(
        "doc_id_a", "doc_id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: transitive closure of the exact-Jaccard pair
    graph (the step after pair generation that a real dedup pipeline needs —
    keep one canonical doc per cluster, not per pair). Spark side: iterative
    min-label propagation; oracle: DuckDB recursive CTE reachability."""
    from fulltextsearch_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    pairs = ngram_jaccard_pairs(docs, shingle_k=8, threshold=0.08)
    cc = connected_components(
        pairs, all_nodes=docs.select(F.col("doc_id").alias("node"))
    )
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    )


def q_neardup_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware serving ("similar results omitted"): BM25 candidates
    collapsed to ONE hit per near-dup cluster (cluster key = canonical min
    doc_id from connected components over the exact-Jaccard pair graph;
    singletons key to themselves) — the duplicates stay in the index, only
    the result page collapses. Oracle composes the recursive-CTE closure
    with the monolithic scored CTE and both collapse windows."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.collapse import collapse_topk
    from fulltextsearch_spark.operators.dedup import cluster_keys, ngram_jaccard_pairs
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import _scored_candidates, query_terms

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs.filter(F.col("doc_id") < 50), shingle_k=8, threshold=0.08
    )
    keys = cluster_keys(docs, pairs)
    idx = build_index(spark, docs, cfg, persist=False)
    scored = _scored_candidates(idx, query_terms(_query_frame(spark), stem=False), cfg, "bm25")
    res = collapse_topk(scored, keys, TOPK)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("key").cast("long").alias("key"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _neardup_collapsed_sql() -> str:
    return f"""
WITH RECURSIVE {_tok_cte().strip()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) *
             (tf.tf * ({K1} + 1.0)) /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
d50 AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(length(text) - 7, 1) + 1),
      i -> substr(text, i::INT, 8)))) AS shingle
  FROM d50
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pr AS (
  SELECT ia AS a, ib AS b FROM inter
  JOIN sizes sa ON sa.doc_id = ia
  JOIN sizes sb ON sb.doc_id = ib
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.08
),
edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM d50
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
ckeys AS (SELECT node AS doc_id, min(comp) AS key FROM reach GROUP BY 1),
allkeys AS (
  SELECT d.doc_id, coalesce(c.key, d.doc_id) AS key
  FROM documents d LEFT JOIN ckeys c USING (doc_id)
),
best AS (
  SELECT query_id, key, doc_id, score FROM (
    SELECT s.query_id, k.key, s.doc_id, s.score,
           row_number() OVER (PARTITION BY s.query_id, k.key
                              ORDER BY s.score DESC, s.doc_id ASC) AS rn
    FROM scored s JOIN allkeys k USING (doc_id)
  ) WHERE rn = 1
),
ranked AS (
  SELECT query_id, key, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM best
)
SELECT query_id, rank::BIGINT AS rank, key::BIGINT AS key,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup MATERIALIZATION: keep one canonical doc (min doc_id) per
    near-dup cluster, all other columns passing through — the step that
    actually shrinks a training corpus. Returns the surviving doc_ids with
    their text lengths to prove content rides along the semi join."""
    from fulltextsearch_spark.operators.dedup import (
        dedup_by_components,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    pairs = ngram_jaccard_pairs(docs, shingle_k=8, threshold=0.08)
    kept = dedup_by_components(docs, pairs)
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("text_len"),
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: MinHash-LSH near-dup candidate pairs. The KR/M61 shingle hash
    and the (a*h+b) mod 2^61-1 permutation family are exact integer math, so
    the DuckDB oracle recomputes signatures, band buckets, and est_jaccard
    independently (HUGEINT arithmetic); the estimator is additionally pinned
    vs exact Jaccard in tests/test_pipeline_ops.py."""
    from fulltextsearch_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3, shingle_k=8).select(
        "doc_id_a", "doc_id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


XCONTAM_OFFSET = 1 << 40


def q_cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate train-test contamination: the MinHash-LSH pipeline
    over corpus x benchmark (benchmark = every 25th doc lightly edited by
    a prepended token — the edit exact n-gram decontamination would need
    8 grams to absorb, but shingle Jaccard sees through). Only cross-side
    collisions survive; ids rebased. Same exact-M61 oracle machinery as
    minhash_pairs over the unioned source."""
    from fulltextsearch_spark.operators.dedup import cross_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.concat(F.lit("bmk "), F.col("text")).alias("text")
    )
    out = cross_contamination(
        docs, bench, threshold=0.3, shingle_k=8, bench_offset=XCONTAM_OFFSET
    )
    return out.select(
        "corpus_doc_id", "bench_doc_id", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup quality gate: recall/precision of the MinHash-LSH candidate
    pipeline against exact 8-shingle Jaccard ground truth at the same 0.3
    threshold — the sample-audit a production pipeline runs before
    trusting the approximate path at full scale. Counts are integers; the
    oracle composes the (already hash-gated) exact and MinHash replays
    and intersects them."""
    from fulltextsearch_spark.operators.dedup import lsh_recall_eval

    res = lsh_recall_eval(_docs(spark, sf_dir), shingle_k=8, threshold=0.3)
    return res.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.round("recall", 4).alias("recall"),
        F.round("precision", 4).alias("precision"),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: SimHash hamming<=3 pairs via exact 4x16 banding. Banding is
    exact for hamming<=3 (pigeonhole; proven vs brute force in tests), so the
    DuckDB oracle does the brute-force pair scan over independently
    recomputed KR/M61 token-hash signatures."""
    from fulltextsearch_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_docs(spark, sf_dir))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: exact cosine>=0.4 near-dup pairs over embeddings."""
    from fulltextsearch_spark.operators.similarity import embedding_neardup_exact

    return embedding_neardup_exact(_embeddings(spark, sf_dir), threshold=0.4).select(
        "vec_id_a", "vec_id_b", F.round("sim", 4).alias("sim")
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: winnowing document fingerprints (Schleimer et al.,
    SIGMOD'03; k=8, window=4). KR/M61 k-gram hashes are exact integer math,
    so the DuckDB oracle replays the per-window rightmost-minimum selection
    independently; also pinned vs a pure-Python winnow in tests."""
    from fulltextsearch_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir).filter(F.col("doc_id") < 100))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: multi-table hyperplane-LSH ANN. The DuckDB oracle replays
    the identical machinery — the seeded hyperplanes ride along as VALUES
    and the oracle recomputes sign buckets, hamming-1 multiprobe, candidate
    union, and cosine top-k independently; recall vs exact brute force is
    additionally asserted in tests."""
    from fulltextsearch_spark.operators.similarity import lsh_cosine_topk

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    res = lsh_cosine_topk(emb, q, dim=64, k=TOPK, n_planes=6, n_tables=16)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: IVF (k-means coarse quantizer, nprobe lists) ANN. The
    DuckDB oracle carries the deterministic k-means centroids as VALUES and
    independently recomputes nearest-centroid assignment, nprobe list
    selection, candidate scoring, and the top-k."""
    from fulltextsearch_spark.operators.similarity import ivf_cosine_topk

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    res = ivf_cosine_topk(emb, q, n_centroids=10, nprobe=6, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: product quantization (Jegou et al. 2011) with ADC cosine
    scoring — 4 subspaces x 16 codes over the 64-dim embeddings. The DuckDB
    oracle carries the deterministic per-subspace codebooks as VALUES and
    independently recomputes per-vector code assignment (argmin per
    subspace slice), the per-query lookup tables, the reconstruction-norm
    denominator, and the top-k."""
    from fulltextsearch_spark.operators.similarity import build_pq, pq_adc_topk

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    idx = build_pq(emb, m=4, n_codes=16)
    res = pq_adc_topk(idx, q, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: IVF-PQ (Jegou et al. 2011 §IV) — coarse quantizer +
    product quantization of the residual, ADC cosine over nprobe lists.
    The DuckDB oracle carries BOTH codebook stages as VALUES and replays
    list assignment, residual code assignment, probe selection, and the
    centroid+residual ADC similarity (numerator dot parts, denominator
    |c|^2 + 2*cross + |r|^2) independently in SQL."""
    from fulltextsearch_spark.operators.similarity import build_ivfpq, ivfpq_adc_topk

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    idx = build_ivfpq(emb, n_centroids=10, m=4, n_codes=16, persist=False)
    res = ivfpq_adc_topk(idx, q, nprobe=6, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: int8 scalar quantization (FAISS SQ8) — per-dimension
    global min/max affine quantizer, codes = floor((x-min)/scale + 0.5)
    clamped to [0,255], cosine against the reconstructions. The quantizer
    is closed-form from the data (no trained codebooks), so the DuckDB
    oracle recomputes min/scale/codes/reconstruction/top-k entirely from
    the embeddings table with no carried constants."""
    from fulltextsearch_spark.operators.similarity import build_sq, sq_cosine_topk

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    idx = build_sq(emb)
    res = sq_cosine_topk(idx, q, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_ivfpq_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the index store/load gate: build -> save_ivfpq_index
    (codes clustered by list_id, quantizer stages as row tables) ->
    load_ivfpq_index -> probe. The round-trip is lossless (float64
    survives parquet DOUBLE exactly), so it shares ann_ivfpq_topk's
    oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.operators.similarity import (
        build_ivfpq,
        ivfpq_adc_topk,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    root = f"/tmp/fts_entry_ivfpq_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    save_ivfpq_index(
        build_ivfpq(emb, n_centroids=10, m=4, n_codes=16, persist=False), root
    )
    idx = load_ivfpq_index(spark, root)
    res = ivfpq_adc_topk(idx, q, nprobe=6, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the SERVED gate: build -> save_ivfpq_index (codes
    clustered by list_id) -> ivfpq_topk_served, where the union of probe
    lists is a literal list_id IN-filter pushed into the clustered codes
    scan (parquet footer pruning) before the ADC kernel. Result-identical
    to ann_ivfpq_topk with the same quantizer, so it shares its oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.operators.similarity import (
        build_ivfpq,
        ivfpq_topk_served,
        save_ivfpq_index,
    )

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    root = f"/tmp/fts_entry_ivfpqs_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    save_ivfpq_index(
        build_ivfpq(emb, n_centroids=10, m=4, n_codes=16, persist=False), root
    )
    res = ivfpq_topk_served(spark, root, q, nprobe=6, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF under the index store/load gate: build -> save_ivf_index (raw
    vectors clustered by list_id) -> load_ivf_index -> ivf_topk_served,
    where candidate selection is a literal list_id IN-filter pushed into
    the clustered parquet scan (footer pruning), never a join against the
    base table. Result-identical to ann_ivf_topk with the same quantizer,
    so it shares its oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.operators.similarity import (
        ivf_topk_served,
        load_ivf_index,
        save_ivf_index,
    )

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    root = f"/tmp/fts_entry_ivf_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    save_ivf_index(emb, root, n_centroids=10)
    idx = load_ivf_index(spark, root)
    res = ivf_topk_served(spark, idx, q, nprobe=6, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_lsh_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH under the index store/load gate: build ->
    save_lsh_index (vectors clustered by the fused table*2^p+bucket key) ->
    load_lsh_index -> lsh_topk_served, where the probe set is a literal
    tb IN-filter pushed into the clustered scan. Result-identical to
    ann_lsh_topk with the same params (planes regenerate from the stored
    seed, same hamming-1 probe policy, same scoring kernel), so it shares
    its oracle."""
    import hashlib as _hl

    from fulltextsearch_spark.operators.similarity import (
        load_lsh_index,
        lsh_topk_served,
        save_lsh_index,
    )

    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec"),
    )
    root = f"/tmp/fts_entry_lsh_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    save_lsh_index(emb, root, dim=64, n_planes=6, n_tables=16)
    idx = load_lsh_index(spark, root)
    res = lsh_topk_served(spark, idx, q, k=TOPK)
    return res.select("query_id", "rank", "vec_id", F.round("sim", 4).alias("sim"))


def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity: approximate kNN similarity JOIN — every vector's top-3
    cosine neighbors among its 3 nearest IVF lists' members (self
    excluded); the semantic near-dup graph builder. The DuckDB oracle
    carries the k-means centroids as VALUES and replays assignment,
    per-vector probe selection, the candidate join, and the ranked
    neighbor lists."""
    from fulltextsearch_spark.operators.similarity import ivf_knn_join

    emb = _embeddings(spark, sf_dir)
    res = ivf_knn_join(emb, n_centroids=10, nprobe=3, k=3)
    return res.select("vec_id", "rank", "nb_id", F.round("sim", 4).alias("sim"))


def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: SemDeDup (Abbas et al., 2023) — k-means cluster
    the embeddings, then inside each cluster drop any point whose cosine to a
    smaller-id cluster-mate exceeds the threshold. The DuckDB oracle carries
    the deterministic k-means centroids as VALUES and independently replays
    assignment, the within-cluster lower-triangular pair test, and the keep
    flag. Threshold 0.3 sits 1.8e-4 from the nearest sf0.01 pair cosine, so
    the boundary cannot flap on summation-order FP noise."""
    from fulltextsearch_spark.operators.similarity import semdedup_keep

    emb = _embeddings(spark, sf_dir)
    res = semdedup_keep(emb, n_centroids=16, threshold=0.3)
    return res.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("list_id").cast("long").alias("list_id"),
        F.col("kept").cast("long").alias("kept"),
    )


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: 8x8 average-hash perceptual fingerprint over the FTSB
    image payloads — pure integer arithmetic (cross-multiplied block-mean
    test, no division), rendered as 16 hex chars, so the oracle replays
    every bit from character codes alone."""
    from fulltextsearch_spark.operators.multimodal import image_ahash, media_from_docs

    media = media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 30))
    return image_ahash(media)


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: FTSB container header parse. The media table derives
    deterministically from the documents table (media_from_docs), so the
    DuckDB oracle predicts every header field from doc_id/length(text) by
    formula while Spark actually round-trips the bytes through
    struct.pack/unpack; byte-level round-trips also pinned in tests."""
    from fulltextsearch_spark.operators.multimodal import media_from_docs, media_metadata

    return media_metadata(media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 30)))


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: per-channel means + gray std over FTSB image payloads.
    The payload is the doc's text bytes repeated to w*h*3, so the DuckDB
    oracle recomputes every statistic from character codes alone while
    Spark actually decodes the binary container."""
    from fulltextsearch_spark.operators.multimodal import image_stats, media_from_docs

    media = media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 30))
    return image_stats(media).select(
        "media_id",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_gray", 6).alias("std_gray"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: PCM features over FTSB audio payloads (int16 LE samples
    from the doc's text bytes — sample values, rms and frame counts are
    all predictable from character codes in the DuckDB oracle)."""
    from fulltextsearch_spark.operators.multimodal import audio_features, media_from_docs

    media = media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 60))
    return audio_features(media).select(
        "media_id",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "n_frames_energy",
    )


def q_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: nearest-neighbor resize re-encodes real pixel bytes into a
    fresh FTSB container; parsing the result's header proves the decode ->
    transform -> encode round trip against a formula oracle."""
    from fulltextsearch_spark.operators.multimodal import (
        media_from_docs,
        media_metadata,
        resize_images,
    )

    media = media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 30))
    return media_metadata(resize_images(media, out_w=12, out_h=9)).select(
        "media_id", "width", "height", "channels", "n_frames", "payload_bytes"
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: every-2nd-frame sampling over FTSB video payloads; frame
    indexes and single-frame payload sizes are exact formulas of doc_id."""
    from fulltextsearch_spark.operators.multimodal import media_from_docs, sample_frames

    media = media_from_docs(_docs(spark, sf_dir).filter(F.col("doc_id") < 30))
    return sample_frames(media, every_nth=2).select(
        "media_id",
        "frame_idx",
        F.length("frame_payload").cast("long").alias("frame_bytes"),
    )


DIMREC_DIMS, DIMREC_QIDS = [16, 32, 64], [0, 7, 21]


def q_ann_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit (Kusupati et al.
    NeurIPS'22): recall@10 of cosine search over the first 16/32/64 dims
    vs the full 64-dim truth, micro-averaged over 3 probe vectors — the
    embedding-side twin of the MinHash recall gate. Integer counts + one
    division; dim=64 must reach recall 1.0 by construction."""
    from fulltextsearch_spark.operators.similarity import dim_truncation_recall

    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    qs = emb.where(F.col("vec_id").isin(DIMREC_QIDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return dim_truncation_recall(emb, qs, dims=DIMREC_DIMS, k=TOPK)


def _dim_recall_sql() -> str:
    qids = ", ".join(str(q) for q in DIMREC_QIDS)
    parts = []
    for d in DIMREC_DIMS:
        parts.append(f"""
SELECT dim, n_queries, n_hit,
       round(n_hit / ({TOPK}.0 * {len(DIMREC_QIDS)}), 4) AS recall
FROM (
SELECT {d}::BIGINT AS dim, {len(DIMREC_QIDS)}::BIGINT AS n_queries,
       (SELECT count(*) FROM (
          SELECT t.query_id, t.vec_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_sum(list_transform(list_zip(e.embedding, q.embedding),
                                             p -> p[1]::DOUBLE * p[2]::DOUBLE))
                     / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE*x::DOUBLE)))
                        * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE*x::DOUBLE))))
                     DESC, e.vec_id ASC) AS rnk
            FROM embeddings e CROSS JOIN
                 (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN ({qids})) q
          ) t WHERE t.rnk <= {TOPK}
          ) full_t
          JOIN (
          SELECT t.query_id, t.vec_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_sum(list_transform(
                         list_zip(e.embedding[1:{d}], q.embedding[1:{d}]),
                         p -> p[1]::DOUBLE * p[2]::DOUBLE))
                     / (sqrt(list_sum(list_transform(e.embedding[1:{d}], x -> x::DOUBLE*x::DOUBLE)))
                        * sqrt(list_sum(list_transform(q.embedding[1:{d}], x -> x::DOUBLE*x::DOUBLE))))
                     DESC, e.vec_id ASC) AS rnk
            FROM embeddings e CROSS JOIN
                 (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN ({qids})) q
          ) t WHERE t.rnk <= {TOPK}
          ) trunc_t
          USING (query_id, vec_id)
       )::BIGINT AS n_hit
)
""")
    return " UNION ALL ".join(parts)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-k vs the vec_id=0 vector."""
    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    joined = emb.crossJoin(F.broadcast(qvec))
    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = dot / (norm(F.col("vec")) * norm(F.col("qvec")))
    # global top-k via orderBy+limit -> TakeOrderedAndProject (distributed
    # per-partition partial top-k, no single-partition window over the corpus);
    # the rank window then runs over k rows only
    top = (
        joined.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOPK)
    )
    # rank WITHOUT a window: pack the <=k rows into one array, sort, and
    # posexplode (rank = pos+1). A global window here — even over k rows —
    # trips WindowExec's move-all-data warning, which must stay reserved for
    # real regressions (a lit(0) partition key gets constant-folded away and
    # does NOT suppress it).
    cmp = lambda a, b: (  # noqa: E731
        F.when(a["sim"] > b["sim"], -1)
        .when(a["sim"] < b["sim"], 1)
        .when(a["vec_id"] < b["vec_id"], -1)
        .when(a["vec_id"] > b["vec_id"], 1)
        .otherwise(0)
        .cast("int")
    )
    packed = top.agg(F.collect_list(F.struct("sim", "vec_id")).alias("xs"))
    return packed.select(
        F.posexplode(F.array_sort("xs", cmp)).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("x.vec_id").alias("vec_id"),
        F.round("x.sim", 4).alias("sim"),
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline composition: exact-dedup canonicalization ->
    language filter -> quality gates in ONE declarative plan (single
    md5-window shuffle; lang/quality are codegen'd Column exprs)."""
    from fulltextsearch_spark.operators.curation import curate_corpus

    return curate_corpus(_docs(spark, sf_dir))


def q_bm25_topk_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted query-time synonym expansion (Lucene SynonymFilter analogue):
    each query term pulls its synonyms in at 0.5x weight through the
    unchanged BM25 scorer; a synonym that is already a query term merges
    additively. The oracle derives the same expansion from a VALUES synonym
    map — both engines expand independently."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_expanded

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    synonyms = spark.createDataFrame(SYNONYMS, ["term", "syn"])
    res = search_expanded(idx, queries, synonyms, cfg, weight=SYN_WEIGHT)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene explain() analogue: per-term BM25 contribution rows for each
    query's top-3 docs — raw scoring inputs (tf, df, dl, qtf) plus the
    weighted term score, whose per-(query, doc) sum is the ranked score."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import explain_scores

    cfg = EngineConfig(k1=K1, b=B, k=3, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in QUERY_TOKENS})],
        ["query_id", "content"],
    )
    exp = explain_scores(idx, queries, cfg, k=3)
    return exp.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("dl").cast("long").alias("dl"),
        F.col("qtf").cast("long").alias("qtf"),
        F.round("term_score", 4).alias("term_score"),
    )


def q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks natively): each click event
    pairs with the same user's latest view at-or-before it — the
    union-sort-carry-forward composition (one shuffle on user_id, linear
    per-partition scan; no range cross-product). Gap reported in exact
    integer microseconds; ties on view ts break to the greatest event_id."""
    from fulltextsearch_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    j = asof_join(clicks, views, on=["user_id"], right_ord="event_id")
    return j.select(
        F.col("click_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("r_event_id").cast("long").alias("view_id"),
        # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not) and is
        # timezone-independent — exact integer microseconds, no float drift
        F.expr("timestampdiff(MICROSECOND, r_ts, ts)").cast("long").alias("gap_us"),
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) over the events clickstream:
    gaps-and-islands via one key shuffle + two window passes, no self-join.
    Per-session rollup keeps the output compact and aggregate-checkable."""
    from fulltextsearch_spark.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts"
    )
    s = sessionize(ev, key="user_id", ts="ts", ord_col="event_id", gap_s=1800.0)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
        .cast("long")
        .alias("duration_us"),
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_id",
        "n_events",
        "duration_us",
    )


def q_campaign_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval containment) join without a cross-product: events
    attach to deterministic, partially-OVERLAPPING campaign windows
    (campaign i: begin = epoch + 9i hours, length 4 + 3*(i%3) hours, so
    10-hour campaigns overlap their 9-hour spacing) via the bucketed
    interval join. The oracle is the plain theta join DuckDB can afford
    at this scale."""
    from fulltextsearch_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    camps = spark.range(12).select(
        F.col("id").alias("campaign_id"),
        F.expr(
            "timestampadd(HOUR, cast(id*9 as int), "
            "timestamp_ntz'2024-01-01 00:00:00')"
        ).alias("begin"),
        F.expr(
            "timestampadd(HOUR, cast(id*9 + 4 + 3*(id%3) as int), "
            "timestamp_ntz'2024-01-01 00:00:00')"
        ).alias("end"),
    )
    j = range_join(ev, camps, point_ts="ts", begin="begin", end="end",
                   bucket_s=3600.0)
    return j.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("campaign_id").cast("long").alias("campaign_id"),
    )


def q_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram analogue: per-day, per-event-type counts plus an
    exactly-summed metric (value pre-scaled to integer cents so the sum is
    order-independent — no float accumulation drift between engines)."""
    from fulltextsearch_spark.operators.facets import date_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    h = date_histogram(ev, ts="ts", interval="day", keys=("event_type",),
                       value="cents")
    return h.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming (applyInPandasWithState) sessionization run over
    the events table as a Structured-Streaming file source with an
    availableNow trigger: emits every CLOSED 30-min-gap session; each
    user's open tail stays in the state store. The oracle replays exactly
    that contract in SQL — batch gaps-and-islands sessions minus each
    user's last session."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import uuid as _uuid

    from fulltextsearch_spark.streaming.sessions import streaming_sessionize

    # the file stream source needs a DIRECTORY; stage the single-file
    # testdata table into /tmp. Atomic (tmp name + os.replace) so a
    # concurrent run never reads a half-written file; re-copied when the
    # source size changes so a regenerated testdata file is not shadowed
    # by a stale staging copy.
    src = f"{sf_dir}/events.parquet"
    land = f"/tmp/fts_entry_sess_land_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    _os.makedirs(land, exist_ok=True)
    staged = _os.path.join(land, "events.parquet")
    if (
        not _os.path.exists(staged)
        or _os.path.getsize(staged) != _os.path.getsize(src)
    ):
        tmp = f"{staged}.{_uuid.uuid4().hex[:8]}.tmp"
        _sh.copyfile(src, tmp)
        _os.replace(tmp, staged)
    name = f"fts_entry_sess_{_uuid.uuid4().hex[:10]}"
    # TIMESTAMP_NTZ matches the batch readers' inferred type — epoch micros
    # stay timezone-independent, so the oracle's epoch_us() agrees on any
    # host timezone, not just UTC
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .parquet(land)
        .select("user_id", "event_id", "ts")
    )
    q = (
        streaming_sessionize(stream, gap_s=1800.0)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"/tmp/{name}_ck")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_sessions query did not finish in 300s")
    if q.exception() is not None:
        raise q.exception()
    return spark.table(name).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_start_us").cast("long").alias("session_start_us"),
        F.col("session_end_us").cast("long").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous exact dedup (applyInPandasWithState): the documents
    table plus deterministic clones (doc_id%7==0 re-arrives as doc_id+N)
    streams through the file source; exactly one canonical
    (text_hash, kept_doc_id) row is emitted per distinct md5(text), the
    clone always losing to the original. Oracle: plain min(doc_id) per
    hash over the same unioned batch world."""
    import hashlib as _hl
    import os as _os
    import uuid as _uuid

    from fulltextsearch_spark.streaming.sessions import streaming_dedup_first

    land = f"/tmp/fts_entry_sdedup_land_{_hl.md5(sf_dir.encode()).hexdigest()[:10]}"
    marker = _os.path.join(land, "_STAGED")
    src_size = _os.path.getsize(f"{sf_dir}/documents.parquet")
    if not (_os.path.exists(marker) and open(marker).read() == str(src_size)):
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        n = docs.count()
        clones = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + n).alias("doc_id"), "text"
        )
        docs.unionByName(clones).coalesce(1).write.mode("overwrite").parquet(land)
        with open(marker, "w") as f:
            f.write(str(src_size))
    name = f"fts_entry_sdedup_{_uuid.uuid4().hex[:10]}"
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(land)
    q = (
        streaming_dedup_first(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"/tmp/{name}_ck")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_dedup query did not finish in 300s")
    if q.exception() is not None:
        raise q.exception()
    return spark.table(name).select(
        "text_hash", F.col("kept_doc_id").cast("long").alias("kept_doc_id")
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (Church & Hanks): top-20 adjacent bigrams of
    the engine token stream by pointwise mutual information, support >= 5.
    Counts stay exact doubles (< 2^53) and the multiply order is mirrored
    in the oracle, so pmi reproduces bit-for-bit."""
    from fulltextsearch_spark.operators.textstats import collocations

    out = collocations(_docs(spark, sf_dir), min_count=5, k=20, stem=False)
    return out.select(
        "w1", "w2", F.col("n").cast("long").alias("n"),
        F.round("pmi", 4).alias("pmi"),
    )


DRIFT_MIN, DRIFT_K = 5, 10


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-increment drift telemetry: Jensen-Shannon divergence between
    two snapshot unigram distributions plus the top-10 risers/fallers by
    smoothed log-ratio. Snapshot A = first half of the corpus; snapshot B
    = second half with a deterministic injected newcomer token on every
    3rd doc, so real drift provably registers."""
    from fulltextsearch_spark.operators.textstats import corpus_drift

    docs = _docs(spark, sf_dir)
    n = docs.count()
    a = docs.where(F.col("doc_id") < n // 2)
    b = docs.where(F.col("doc_id") >= n // 2).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" driftterm"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return corpus_drift(a, b, min_count=DRIFT_MIN, k=DRIFT_K)


def _corpus_drift_sql() -> str:
    return f"""
WITH nn AS (SELECT (max(doc_id)+1)::BIGINT AS nb FROM documents),
a AS (SELECT doc_id, text FROM documents WHERE doc_id < (SELECT nb FROM nn) // 2),
b AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' driftterm' ELSE text END AS text
      FROM documents WHERE doc_id >= (SELECT nb FROM nn) // 2),
ta AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT_SQL}'),
                x -> x <> '' AND x NOT IN ({_stop_list_sql()}))) AS term
  FROM a
),
tb AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT_SQL}'),
                x -> x <> '' AND x NOT IN ({_stop_list_sql()}))) AS term
  FROM b
),
ca AS (SELECT term, count(*)::DOUBLE AS ca FROM ta GROUP BY 1),
cb AS (SELECT term, count(*)::DOUBLE AS cb FROM tb GROUP BY 1),
ab AS (
  SELECT coalesce(ca.term, cb.term) AS term,
         coalesce(ca.ca, 0.0) AS ca, coalesce(cb.cb, 0.0) AS cb
  FROM ca FULL JOIN cb ON ca.term = cb.term
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb2 FROM ab),
jsd AS (
  SELECT 'jsd' AS kind, 0::BIGINT AS rank, NULL::VARCHAR AS term,
         round(0.5 * sum(CASE WHEN ca / t.na > 0
               THEN (ca / t.na) * ln((ca / t.na) / ((ca / t.na + cb / t.nb2) / 2.0))
               ELSE 0.0 END)
             + 0.5 * sum(CASE WHEN cb / t.nb2 > 0
               THEN (cb / t.nb2) * ln((cb / t.nb2) / ((ca / t.na + cb / t.nb2) / 2.0))
               ELSE 0.0 END), 6) AS value
  FROM ab CROSS JOIN tot t
),
movers AS (
  SELECT term,
         ln(((cb + 0.5) / t.nb2) / ((ca + 0.5) / t.na)) AS lr
  FROM ab CROSS JOIN tot t WHERE ca + cb >= {DRIFT_MIN}
),
risers AS (
  SELECT 'riser' AS kind, rn::BIGINT AS rank, term, round(lr, 6) AS value FROM (
    SELECT term, lr, row_number() OVER (ORDER BY lr DESC, term ASC) AS rn FROM movers
  ) WHERE rn <= {DRIFT_K}
),
fallers AS (
  SELECT 'faller' AS kind, rn::BIGINT AS rank, term, round(lr, 6) AS value FROM (
    SELECT term, lr, row_number() OVER (ORDER BY lr ASC, term ASC) AS rn FROM movers
  ) WHERE rn <= {DRIFT_K}
)
SELECT * FROM jsd UNION ALL SELECT * FROM risers UNION ALL SELECT * FROM fallers
"""


SIMTERM_K, SIMTERM_MIN = 5, 3


def q_similar_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional term similarity (PPMI context vectors + cosine, Levy &
    Goldberg 2014's count baseline): top-5 nearest vocabulary terms per
    probe term — synonym/related-search mining without a trained model.
    Integer count core, one ln per surviving pair, probe vectors broadcast
    so the PPMI matrix is never self-joined."""
    from fulltextsearch_spark.operators.textstats import similar_terms

    probes = spark.createDataFrame(
        [(t,) for t in sorted({t for _, t in QUERY_TOKENS})], ["term"]
    )
    out = similar_terms(
        _docs(spark, sf_dir), probes, k=SIMTERM_K, min_count=SIMTERM_MIN
    )
    return out.select(
        "probe", "rank", "term", F.round("sim", 4).alias("sim")
    )


def _similar_terms_sql() -> str:
    qt = ", ".join(f"('{t}')" for t in sorted({t for _, t in QUERY_TOKENS}))
    return f"""
WITH {_tok_cte()},
bgz AS (
  SELECT unnest(list_zip(tokens[1:len(tokens)-1], tokens[2:len(tokens)])) AS z
  FROM toks WHERE len(tokens) >= 2
),
b2 AS (SELECT z[1] AS w1, z[2] AS w2 FROM bgz),
pairs AS (
  SELECT w, c, count(*)::DOUBLE AS nwc FROM (
    SELECT w1 AS w, w2 AS c FROM b2 UNION ALL SELECT w2 AS w, w1 AS c FROM b2
  ) GROUP BY 1, 2 HAVING count(*) >= {SIMTERM_MIN}
),
marg AS (SELECT w, sum(nwc) AS nw FROM pairs GROUP BY 1),
cmarg AS (SELECT c, sum(nwc) AS nc FROM pairs GROUP BY 1),
tot AS (SELECT sum(nwc) AS nn FROM pairs),
ppmi AS (
  SELECT * FROM (
    SELECT p.w, p.c,
           greatest(ln(p.nwc * t.nn / (m.nw * cm.nc)), 0.0) AS x
    FROM pairs p JOIN marg m USING (w) JOIN cmarg cm USING (c) CROSS JOIN tot t
  ) WHERE x > 0
),
norms AS (SELECT w, sqrt(sum(x*x)) AS nrm FROM ppmi GROUP BY 1),
pr AS (SELECT * FROM (VALUES {qt}) v(term)),
pvec AS (
  SELECT p.w AS probe, p.c, p.x AS px FROM ppmi p JOIN pr ON pr.term = p.w
),
dots AS (
  SELECT pv.probe, p.w, sum(p.x * pv.px) AS dot
  FROM ppmi p JOIN pvec pv USING (c)
  WHERE p.w <> pv.probe
  GROUP BY 1, 2
),
scored AS (
  SELECT d.probe, d.w AS term, d.dot / (n.nrm * pn.nrm) AS sim
  FROM dots d JOIN norms n ON n.w = d.w JOIN norms pn ON pn.w = d.probe
),
ranked AS (
  SELECT probe, term, sim,
         row_number() OVER (PARTITION BY probe ORDER BY sim DESC, term ASC) AS rank
  FROM scored
)
SELECT probe, rank::BIGINT AS rank, term, round(sim, 4) AS sim
FROM ranked WHERE rank <= {SIMTERM_K}
"""


CMS_DEPTH, CMS_WIDTH, CMS_SEED = 3, 16, 7


def q_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan) over term occurrences:
    width 16 forces bucket collisions on the sf0.01 vocabulary, so the
    one-sided over-count (cms_est >= exact_cnt) is actually exercised.
    Hashing is exact M61 arithmetic (KR base-257 + (a*h+b) permutations),
    so the oracle replays the sketch CONTENTS bit-for-bit, not just its
    guarantees."""
    from fulltextsearch_spark.operators.sketches import cms_build, cms_estimate

    cnt = (
        q_tf_table(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cnt"))
    )
    cms = cms_build(cnt, depth=CMS_DEPTH, width=CMS_WIDTH, seed=CMS_SEED)
    qterms = spark.createDataFrame(
        [(t,) for t in sorted({t for _, t in QUERY_TOKENS})], ["term"]
    )
    est = cms_estimate(cms, qterms, depth=CMS_DEPTH, width=CMS_WIDTH, seed=CMS_SEED)
    return est.join(cnt, "term", "left").select(
        "term",
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
    )


def _cms_sql() -> str:
    from fulltextsearch_spark.operators.dedup import _perm_params

    a, b = _perm_params(CMS_DEPTH, CMS_SEED)
    params = ", ".join(
        f"({d}, {int(a[d])}::HUGEINT, {int(b[d])}::HUGEINT)" for d in range(CMS_DEPTH)
    )
    qt = ", ".join(f"('{t}')" for t in sorted({t for _, t in QUERY_TOKENS}))
    return f"""
WITH {_tok_cte()},
cnt AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
h AS (SELECT term, cnt, {_kr_sql('term')} AS kr FROM cnt),
params AS (SELECT * FROM (VALUES {params}) p(d, a, b)),
buck AS (
  SELECT p.d, ((p.a * h.kr + p.b) % {_M61_SQL}) % {CMS_WIDTH} AS bucket,
         sum(h.cnt)::BIGINT AS total
  FROM h CROSS JOIN params p GROUP BY 1, 2
),
qt AS (SELECT * FROM (VALUES {qt}) v(term)),
qh AS (SELECT term, {_kr_sql('term')} AS kr FROM qt),
probes AS (
  SELECT q.term, p.d, ((p.a * q.kr + p.b) % {_M61_SQL}) % {CMS_WIDTH} AS bucket
  FROM qh q CROSS JOIN params p
),
est AS (
  SELECT pr.term, min(coalesce(b.total, 0))::BIGINT AS cms_est
  FROM probes pr LEFT JOIN buck b ON b.d = pr.d AND b.bucket = pr.bucket
  GROUP BY 1
)
SELECT e.term, coalesce(c.cnt, 0)::BIGINT AS exact_cnt, e.cms_est
FROM est e LEFT JOIN cnt c USING (term)
"""


def q_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline aggregations (derivative / cumulative_sum / moving_fn
    unweighted avg, window 3) over the per-(day, event_type) date_histogram.
    deriv and cum are pure integer window math; mov_avg is one exact-operand
    IEEE division rounded to 4 dp, so all three replay in SQL."""
    from fulltextsearch_spark.operators.facets import date_histogram, pipeline_aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts", "event_type")
    h = date_histogram(ev, ts="ts", interval="day", keys=("event_type",))
    out = pipeline_aggs(h, metric="n", keys=("event_type",), window=3)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("deriv").cast("long").alias("deriv"),
        F.col("cum").cast("long").alias("cum"),
        "mov_avg",
    )


_PIPELINE_AGGS_SQL = """
WITH h AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT day, event_type, n,
       (n - lag(n) OVER w)::BIGINT AS deriv,
       sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
       round((sum(n) OVER t)::DOUBLE / (count(*) OVER t)::DOUBLE, 4) AS mov_avg
FROM h
WINDOW w AS (PARTITION BY event_type ORDER BY day),
       t AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


HLL_P, HLL_SEED = 6, 11  # m=64 registers — the reference's exact layout


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-term estimate (reference hyperloglog.hpp:7-53,
    64 registers) next to the exact cardinality. The sketch CONTENTS replay
    in SQL: exact-M61 hashing, 48-bit truncation so floor(log2) and the
    scaled harmonic sum are exact integers in both engines, and the raw
    Flajolet estimator is a fixed dag of correctly-rounded IEEE ops on
    exactly-representable operands (constant folded driver-side)."""
    from fulltextsearch_spark.operators.sketches import hll_build, hll_estimate

    terms = q_tf_table(spark, sf_dir).select("term")
    regs = hll_build(terms, p=HLL_P, seed=HLL_SEED, value_col="term")
    est = hll_estimate(regs, p=HLL_P)
    exact = terms.agg(F.countDistinct("term").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact).select(
        "m", "v_zero", "harmonic_scaled", "hll_est", "exact_distinct"
    )


def _hll_sql() -> str:
    from fulltextsearch_spark.operators.dedup import _perm_params

    a, b = _perm_params(1, HLL_SEED)
    m = 1 << HLL_P
    w = 48 - HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    const = alpha * m * m * float(1 << (w + 1))
    return f"""
WITH {_tok_cte()},
dt AS (SELECT DISTINCT term FROM tok),
h AS (
  SELECT (({int(a[0])}::HUGEINT * {_kr_sql('term')} + {int(b[0])}::HUGEINT)
          % {_M61_SQL}) // {1 << (61 - 48)} AS h48
  FROM dt
),
ir AS (
  SELECT (h48 // {1 << w})::BIGINT AS idx, (h48 % {1 << w})::BIGINT AS rest
  FROM h
),
rho AS (
  SELECT idx,
         max(CASE WHEN rest = 0 THEN {w + 1}
                  ELSE {w} - floor(log2(rest::DOUBLE))::BIGINT END) AS rho
  FROM ir GROUP BY idx
),
grid AS (SELECT unnest(range(0, {m})) AS idx),
full_regs AS (
  SELECT coalesce(r.rho, 0) AS rho
  FROM grid g LEFT JOIN rho r USING (idx)
),
agg AS (
  SELECT {m}::BIGINT AS m,
         sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
         sum(pow(2.0, ({w + 1} - rho)::DOUBLE))::BIGINT AS harmonic_scaled
  FROM full_regs
),
ex AS (SELECT count(DISTINCT term)::BIGINT AS exact_distinct FROM tok)
SELECT m, v_zero, harmonic_scaled,
       round({const!r} / harmonic_scaled::DOUBLE, 4) AS hll_est,
       exact_distinct
FROM agg CROSS JOIN ex
"""


ANN_FILTER_MOD = 3
ANN_FILTER_PROBES = [0, 7]


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the metadata-filter + ANN combination):
    exact cosine top-k among vec_id % 3 == 0 only — the PRE-filter
    strategy, correct at any selectivity, with the semi join pushed below
    the matmul."""
    from fulltextsearch_spark.operators.similarity import filtered_cosine_topk

    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    qs = emb.where(F.col("vec_id").isin(ANN_FILTER_PROBES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    allowed = emb.where(F.col("vec_id") % ANN_FILTER_MOD == 0).select("vec_id")
    out = filtered_cosine_topk(emb, qs, allowed, k=TOPK)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"),
        "vec_id", F.round("sim", 4).alias("sim"),
    )


def _ann_filtered_sql() -> str:
    probes = ", ".join(str(p) for p in ANN_FILTER_PROBES)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id IN ({probes})),
sims AS (
  SELECT q.query_id, e.vec_id::BIGINT AS vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                                 p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id % {ANN_FILTER_MOD} = 0
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(sim, 4) AS sim
FROM ranked WHERE rank <= {TOPK}
"""


HYBRID_ANCHORS = [("q1", 3), ("q2", 17), ("q4", 21), ("q5", 42)]


def q_hybrid_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern hybrid search: reciprocal-rank fusion of the lexical BM25
    top-k with a dense cosine top-k (per-query anchor vectors stand in for
    query embeddings — vec_id and doc_id are 1:1 in the testdata). Fused
    scores are exact sums over integer ranks, bit-replayable."""
    from fulltextsearch_spark.operators.hybrid import rrf_fuse
    from fulltextsearch_spark.operators.similarity import brute_cosine_topk

    lex = q_bm25_topk(spark, sf_dir).select("query_id", "rank", "doc_id")
    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    anchors = spark.createDataFrame(HYBRID_ANCHORS, ["qname", "anchor"])
    qs = emb.where(
        F.col("vec_id").isin([a for _, a in HYBRID_ANCHORS])
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    vec = (
        brute_cosine_topk(emb, qs, k=TOPK)
        .join(F.broadcast(anchors), F.col("query_id") == F.col("anchor"))
        .select(
            F.col("qname").alias("query_id"), "rank",
            F.col("vec_id").alias("doc_id"),
        )
    )
    fused = rrf_fuse([lex, vec], rrf_k=RRF_K, k=TOPK)
    return fused.select(
        "query_id", F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def _hybrid_vector_sql(bm25_expr: str) -> str:
    anchors = ", ".join(f"('{q}', {a})" for q, a in HYBRID_ANCHORS)
    return f"""
WITH lex AS (SELECT * FROM ({_scored_sql(bm25_expr)})),
an AS (SELECT * FROM (VALUES {anchors}) v(query_id, anchor)),
q AS (SELECT an.query_id, e.embedding AS qe
      FROM an JOIN embeddings e ON e.vec_id = an.anchor),
sims AS (
  SELECT q.query_id, e.vec_id::BIGINT AS doc_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                                 p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))) AS sim
  FROM embeddings e CROSS JOIN q
),
vec AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rank
    FROM sims
  ) WHERE rank <= {TOPK}
),
contrib AS (
  SELECT query_id, doc_id, 1.0/({RRF_K} + rank) AS c FROM lex
  UNION ALL
  SELECT query_id, doc_id, 1.0/({RRF_K} + rank) FROM vec
),
fused AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 6) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def q_lang_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped cardinality (the ES `cardinality` agg under GROUP BY):
    per-language distinct-term estimate via one HLL register set per key —
    at most 64 rows per group however large it is — next to the exact
    count. Same exact-integer replay guarantees as hll_distinct, with
    absent registers folded in arithmetically (no grid join)."""
    from fulltextsearch_spark.functions.tokenizer import tokenize_udf
    from fulltextsearch_spark.operators.sketches import (
        hll_build_keyed,
        hll_estimate_keyed,
    )

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(tokenize_udf(False)(F.col("text"))).alias("term")
    )
    regs = hll_build_keyed(toks, "lang", p=HLL_P, seed=HLL_SEED)
    est = hll_estimate_keyed(regs, p=HLL_P)
    exact = toks.groupBy(F.col("lang").alias("key")).agg(
        F.countDistinct("term").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "key").select(
        F.col("key").alias("lang"),
        "v_zero", "harmonic_scaled", "hll_est", "exact_distinct",
    )


def _lang_distinct_sql() -> str:
    from fulltextsearch_spark.operators.dedup import _perm_params

    a, b = _perm_params(1, HLL_SEED)
    m = 1 << HLL_P
    w = 48 - HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m)
    const = alpha * m * m * float(1 << (w + 1))
    return f"""
WITH {_tok_cte()},
lt AS (SELECT d.lang, t.term FROM tok t JOIN documents d USING (doc_id)),
dt AS (SELECT DISTINCT lang, term FROM lt),
h AS (
  SELECT lang, (({int(a[0])}::HUGEINT * {_kr_sql('term')} + {int(b[0])}::HUGEINT)
          % {_M61_SQL}) // {1 << (61 - 48)} AS h48
  FROM dt
),
ir AS (
  SELECT lang, (h48 // {1 << w})::BIGINT AS idx,
         (h48 % {1 << w})::BIGINT AS rest
  FROM h
),
rho AS (
  SELECT lang, idx,
         max(CASE WHEN rest = 0 THEN {w + 1}
                  ELSE {w} - floor(log2(rest::DOUBLE))::BIGINT END) AS rho
  FROM ir GROUP BY 1, 2
),
agg AS (
  SELECT lang, count(*)::BIGINT AS np,
         sum(pow(2.0, ({w + 1} - rho)::DOUBLE))::BIGINT AS hp
  FROM rho GROUP BY 1
),
est AS (
  SELECT lang, ({m} - np)::BIGINT AS v_zero,
         (hp + ({m} - np) * {1 << (w + 1)})::BIGINT AS harmonic_scaled
  FROM agg
),
ex AS (SELECT lang, count(DISTINCT term)::BIGINT AS exact_distinct FROM lt GROUP BY 1)
SELECT e.lang, e.v_zero, e.harmonic_scaled,
       round({const!r} / e.harmonic_scaled::DOUBLE, 4) AS hll_est,
       x.exact_distinct
FROM est e JOIN ex x USING (lang)
"""


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (rrf_k=60) of the per-query
    BM25 top-k with the global PageRank authority top-k — the classic
    web-search combination of a lexical ranking with a query-independent
    link prior. Fused scores are exact sums over integer ranks, so the
    oracle replays them bit-for-bit from the same two ranked lists."""
    from fulltextsearch_spark.operators.hybrid import rrf_fuse, static_prior_per_query

    lex = q_bm25_topk(spark, sf_dir).select("query_id", "rank", "doc_id")
    # rounded-to-6dp pagerank (hash-pinned by the pagerank_scores entry)
    # orders the prior in BOTH engines, so sub-1e-6 double drift can't
    # reorder the authority list between Spark and the oracle
    pr = q_pagerank_scores(spark, sf_dir)
    auth = static_prior_per_query(pr, lex, "pagerank", k=TOPK)
    fused = rrf_fuse([lex, auth], rrf_k=RRF_K, k=TOPK)
    return fused.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted result aggregation: per-query bucket counts + best rank over
    the `lang` metadata column of the BM25 top-k hits (search-UI drill-down
    surface; the k-row hit list broadcasts, the corpus never shuffles)."""
    from fulltextsearch_spark.operators.facets import facet_counts

    lex = q_bm25_topk(spark, sf_dir)
    return facet_counts(lex, _docs(spark, sf_dir), "lang").select(
        "query_id",
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("best_rank").cast("long").alias("best_rank"),
    )


def _query_frame(spark: SparkSession) -> DataFrame:
    """The standard 4-query set as (query_id, content) rows."""
    return spark.createDataFrame(
        [
            (qid, " ".join(t for q, t in QUERY_TOKENS if q == qid))
            for qid in sorted({q for q, _ in QUERY_TOKENS})
        ],
        ["query_id", "content"],
    )


def q_sig_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant-terms aggregation (ES JLH): terms over-represented in the
    BM25 top-25 foreground vs the whole corpus. Foreground docs are broadcast
    and forward-tokenized; background df is a dictionary probe — no index
    explode. The oracle replays fg selection, fg term counts, and the JLH
    arithmetic verbatim."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.significant import significant_terms

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    return significant_terms(
        idx, docs, _query_frame(spark), cfg,
        n_fg=SIG_N_FG, top_terms=SIG_TOP, min_doc_count=SIG_MIN_DC,
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "term",
        F.col("fg_count").cast("long").alias("fg_count"),
        F.col("bg_count").cast("long").alias("bg_count"),
        F.round("score", 4).alias("score"),
    )


def q_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-score retrieval (ES exp decay): BM25 x recency multiplier
    over a deterministic doc age (doc_id % 97 days). The attribute join runs
    AFTER scoring over the candidate set only."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.functionscore import search_decay
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    values = docs.select(
        "doc_id", (F.col("doc_id") % DECAY_MOD).cast("double").alias("value")
    )
    return search_decay(
        idx, _query_frame(spark), values, cfg,
        origin=0.0, scale=DECAY_SCALE, decay=DECAY_RATE, offset=DECAY_OFFSET,
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_percolate_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator (reverse search): every (stored query, doc) pair where the
    doc contains ALL the query's distinct terms — one tokenize pass over the
    docs, broadcast query-term probe, one groupBy."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.percolate import percolate

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    return percolate(_docs(spark, sf_dir), _query_frame(spark), cfg).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_matched").cast("long").alias("n_matched"),
    )


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term vectors (ES _termvectors, term_statistics=true): per-term stats
    for a requested doc set — forward tokenize of the broadcast-selected
    docs plus a semi-narrowed dictionary/postings probe for df and ttf."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.termvectors import term_vectors

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    ids = spark.createDataFrame([(i,) for i in TV_DOC_IDS], ["doc_id"])
    return term_vectors(idx, docs, ids, cfg).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
        F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("ttf"),
    )


def q_search_after_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (ES search_after): the SECOND page of the BM25
    top-k, fetched through the cursor predicate — not an offset — so the
    oracle's global ranks 11..20 must equal the cursor path's page exactly."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.paging import page_cursor, search_after

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = _query_frame(spark)
    page1 = search_after(idx, queries, None, cfg)
    page2 = search_after(idx, queries, page_cursor(page1), cfg)
    return page2.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank evaluation (ES _rank_eval): nDCG@10 / MRR / precision@10 of the
    BM25 run against deterministic graded qrels — rel(q, d) = number of q's
    distinct terms doc d contains (the percolator with min_match=1)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.percolate import percolate
    from fulltextsearch_spark.operators.query import search
    from fulltextsearch_spark.operators.rankeval import rank_eval

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    queries = _query_frame(spark)
    run = search(idx, queries, cfg)
    qrels = percolate(docs, queries, cfg, min_match=1).select(
        "query_id", "doc_id", F.col("n_matched").alias("rel")
    )
    return rank_eval(run, qrels, k=TOPK).select(
        "query_id",
        F.round("ndcg", 4).alias("ndcg"),
        F.round("mrr", 4).alias("mrr"),
        F.round("precision", 4).alias("precision"),
    )


# --- html extraction entry: deterministic page synthesized around each doc's
# text; both engines build the SAME html and run the SAME regex chain.
_XH_PRE1 = "<html><head><title>Ignored "
_XH_PRE2 = (
    '</title><style>p{color:red}</style></head><body>'
    '<script type="text/javascript">var x = 1 < 2 && doc;</script><p id="main">'
)
_XH_SUF = "</p><ul><li>nav</li><li>menu</li></ul><!-- note --></body></html>"


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (the jusText/trafilatura slot of the web
    pipelines, as a fixed RE2-safe rule chain — one codegen projection,
    zero shuffles): each doc's text is wrapped in a deterministic page
    (head/title, style, script with stray '<' and '&&', entity-encoded
    body, nav list, comment) and the extractor must strip boilerplate,
    restore entities, and normalize whitespace identically in both
    engines; gated on md5 of the full extracted string."""
    from fulltextsearch_spark.operators.extract import extract_text_col

    docs = _docs(spark, sf_dir)
    enc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    html = F.concat(
        F.lit(_XH_PRE1),
        F.col("doc_id").cast("string"),
        F.lit(_XH_PRE2),
        enc,
        F.lit(_XH_SUF),
    )
    ext = extract_text_col(html, binary=False)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(ext).cast("long").alias("n_chars"),
        F.md5(ext).alias("text_md5"),
    )


def _extract_sql() -> str:
    from fulltextsearch_spark.operators.extract import _ENTITIES, _HWS, EXTRACT_STEPS

    x = (
        f"'{_XH_PRE1}' || doc_id || '{_XH_PRE2}' || "
        "replace(text, '&', '&amp;') || "
        f"'{_XH_SUF}'"
    )
    for pat, rep in EXTRACT_STEPS:
        rep_sql = "chr(10)" if rep == "\n" else f"'{rep}'"
        x = f"regexp_replace({x}, $rx${pat}$rx$, {rep_sql}, 'g')"
    for ent, ch in _ENTITIES:
        ch_sql = "''''" if ch == "'" else f"'{ch}'"
        x = f"replace({x}, '{ent}', {ch_sql})"
    x = f"regexp_replace({x}, $rx${_HWS}+$rx$, ' ', 'g')"
    x = f"regexp_replace({x}, $rx${_HWS}*\\n({_HWS}|\\n)*$rx$, chr(10), 'g')"
    x = f"regexp_replace({x}, $rx$^[ \\n]+|[ \\n]+$$rx$, '', 'g')"
    return f"""
SELECT doc_id, length(ext)::BIGINT AS n_chars, md5(ext) AS text_md5
FROM (SELECT doc_id, {x} AS ext FROM documents)
"""


LTR_L2 = 0.1


def q_ltr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-to-rank: pointwise linear model over (bm25, dl/avgdl,
    intercept) fit by closed-form ridge (explicit 3x3 adjugate — no LAPACK,
    no iterations) against the percolator-derived graded labels, then
    re-ranking the candidates by w·f. The nine Gram sums, the cofactor
    solve, and the re-scoring are the SAME arithmetic dag in Spark and the
    oracle, so the learned weights themselves replay across engines."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.ltr import search_ltr

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    res = search_ltr(idx, _query_frame(spark), cfg, l2=LTR_L2)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


SWEEP_GRID = [(0.8, 0.3), (1.2, 0.75), (2.0, 0.9)]


def q_bm25_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) hyperparameter sweep in ONE corpus probe: the grid
    shares the postings probe / explode / per-(query, doc) aggregate (one
    score column per point), rankings melt out of the score array, and
    each point evaluates through the engine's rank_eval against the
    percolator-derived qrels. Mean nDCG/MRR/P@k per grid point."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.percolate import percolate
    from fulltextsearch_spark.operators.tuning import sweep_bm25

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    queries = _query_frame(spark)
    qrels = percolate(docs, queries, cfg, min_match=1).select(
        "query_id", "doc_id", F.col("n_matched").alias("rel")
    )
    return sweep_bm25(idx, queries, qrels, SWEEP_GRID, cfg)


def _bm25_sweep_sql() -> str:
    parts = [
        f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
dterms AS (SELECT DISTINCT doc_id, term FROM tok),
qts AS (SELECT DISTINCT query_id, term FROM qt),
qrels AS (
  SELECT q.query_id, d.doc_id, count(*)::DOUBLE AS rel
  FROM qts q JOIN dterms d USING (term) GROUP BY 1, 2
),
ideal AS (
  SELECT query_id,
         sum((power(2.0, rel) - 1.0) / log2(irank::DOUBLE + 1.0)) AS idcg
  FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id ASC) AS irank
    FROM qrels WHERE rel > 0
  )
  WHERE irank <= {TOPK} GROUP BY 1
)"""
    ]
    sel = []
    for i, (k1, b) in enumerate(SWEEP_GRID):
        expr = (
            "ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) * "
            f"(tf.tf * ({k1!r} + 1.0)) / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r} * dls.dl / s.avgdl))"
        )
        parts.append(
            f""",
scored{i} AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {expr}) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
run{i} AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored{i}
  ) WHERE rank <= {TOPK}
),
perq{i} AS (
  SELECT r.query_id,
         sum((power(2.0, coalesce(j.rel, 0.0)) - 1.0) / log2(r.rank::DOUBLE + 1.0)) AS dcg,
         min(CASE WHEN coalesce(j.rel, 0.0) > 0 THEN r.rank END) AS first_rel,
         sum(CASE WHEN coalesce(j.rel, 0.0) > 0 THEN 1 ELSE 0 END) AS n_rel
  FROM run{i} r
  LEFT JOIN qrels j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
  GROUP BY 1
),
ev{i} AS (
  SELECT {k1!r}::DOUBLE AS k1, {b!r}::DOUBLE AS b,
         CASE WHEN coalesce(i.idcg, 0.0) > 0.0 THEN p.dcg / i.idcg
              ELSE 0.0 END AS ndcg,
         coalesce(1.0 / p.first_rel, 0.0) AS mrr,
         p.n_rel::DOUBLE / {float(TOPK)!r} AS prec
  FROM perq{i} p LEFT JOIN ideal i USING (query_id)
)"""
        )
        sel.append(f"SELECT * FROM ev{i}")
    parts.append(
        f"""
SELECT k1, b, round(avg(ndcg), 4) AS ndcg, round(avg(mrr), 4) AS mrr,
       round(avg(prec), 4) AS "precision"
FROM ({' UNION ALL '.join(sel)})
GROUP BY 1, 2
"""
    )
    return "".join(parts)


def q_dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction-max retrieval (Lucene DisjunctionMaxQuery): best-clause
    score plus tie_breaker x the rest — same broadcast probe as search, the
    aggregate is max+sum instead of sum."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.dismax import search_dismax
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    return search_dismax(idx, _query_frame(spark), cfg, tie_breaker=DISMAX_TIE).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _pii_injected(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection over the testdata text (it contains none
    of its own): every 7th doc gains an email, every 11th an IPv4, every
    13th a phone number — mirrored verbatim in the oracle's CTE."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact u"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call +1 555 01"),
                    F.lpad((did % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (C4/ROOTS-style curation stage): regex redaction of
    emails/IPs/phones in a pinned order, with per-doc hit counts — one
    whole-stage-codegen projection, zero shuffles."""
    from fulltextsearch_spark.operators.pii import scrub_pii

    return scrub_pii(_pii_injected(_docs(spark, sf_dir))).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "n_email",
        "n_ip",
        "n_phone",
    )


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction: each requested doc's top tf-idf terms
    (the first half of Lucene MLT as its own surface), same arithmetic as
    the tfidf search path."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.termvectors import doc_keywords

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    docs = _docs(spark, sf_dir)
    idx = build_index(spark, docs, cfg, persist=False)
    ids = spark.createDataFrame([(i,) for i in TV_DOC_IDS], ["doc_id"])
    return doc_keywords(idx, docs, ids, cfg, top_terms=5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
        "term",
        F.round("score", 4).alias("score"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution stats per doc (Shannon entropy + type-token
    ratio) — a curation quality signal; empty docs kept with zero stats."""
    from fulltextsearch_spark.operators.textstats import token_entropy

    return token_entropy(_docs(spark, sf_dir)).select(
        "doc_id",
        "dl",
        "n_types",
        F.round("entropy", 4).alias("entropy"),
        F.round("ttr", 4).alias("ttr"),
    )


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentiles aggregation (exact linear interpolation, not
    t-digest): n_chars percentiles per source bucket."""
    from fulltextsearch_spark.operators.facets import field_percentiles

    out = field_percentiles(
        _docs(spark, sf_dir), ["source"], "n_chars", [0.25, 0.5, 0.75, 0.9, 0.99]
    )
    return out.select(
        "source",
        *[F.round(c, 4).alias(c) for c in out.columns if c != "source"],
    )


# Phrase-suggester query set: 1-edit typos with in-vocabulary corrections,
# an exact single token, and a typo single token — 2 slots max so the
# oracle's combo chain is one bigram deep (the pytest covers longer).
_PSUGG_QS = [
    ("s1", "tble scan"),
    ("s2", "windw sort"),
    ("s3", "hash vlue"),
    ("s4", "sprk"),
]


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES phrase suggester: per-slot candidate expansion (levenshtein<=1
    over the vocabulary + the source token, popularity-ranked, capped),
    exact cross-product phrase candidates, scored by the corpus add-alpha
    bigram LM plus a per-correction log2 penalty. The DuckDB oracle
    replays the candidate windows, the combo join, and the LM formula."""
    from fulltextsearch_spark.operators.phrasesuggest import suggest_phrases

    res = suggest_phrases(_docs(spark, sf_dir), _PSUGG_QS, k=3)
    return res.select(
        "query_id", "rank", "suggestion", F.round("score", 4).alias("score")
    )


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream funnel over the events table: users reaching each step
    of view -> click -> purchase -> signup in strict (ts, event_id) order
    with a 1-day conversion horizon from the first view. Greedy earliest-
    anchor matching; per step one min-struct aggregate + a join against
    the shrinking survivor set. The oracle replays the anchors with
    row_number windows and the same lexicographic/horizon predicates."""
    from fulltextsearch_spark.operators.temporal import funnel_steps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_steps(
        ev, ["view", "click", "purchase", "signup"], window_seconds=86400
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream cohort retention: users bucketed by calendar week of
    first event; cell (cohort, k) counts distinct cohort members active k
    weeks later. FP-free (distinct counts + calendar arithmetic)."""
    from fulltextsearch_spark.operators.temporal import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(ev)
    # Spark date_trunc yields TIMESTAMP, DuckDB DATE — align the driver type
    return out.select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "week_offset",
        "n_users",
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: BPE tokenizer training (Sennrich et al. 2016) —
    learn the first 10 merge rules from the corpus word-frequency table.
    Pure-integer output (rank, pair, weighted count), so the hash gate is
    exact with no FP anywhere. The DuckDB oracle replays every round
    independently: pair counting via shifted-slice unnest, argmax with the
    (count desc, lhs, rhs) tie-break, and the left-to-right
    non-overlapping rewrite via a doubled-separator string replace."""
    from fulltextsearch_spark.operators.bpe import train_bpe

    return train_bpe(_docs(spark, sf_dir), n_merges=10)


def q_bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: apply the 10 learned BPE merges to segment every
    document (train -> encode round trip). The oracle re-learns the same
    merge chain in SQL and applies it per word with the same
    doubled-separator replace, flattening in document token order; output
    is (doc_id, count, joined segment stream) — FP-free."""
    from fulltextsearch_spark.operators.bpe import bpe_encode, train_bpe

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in train_bpe(docs, n_merges=10).orderBy("merge_rank").collect()
    ]
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
    )


def q_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES extended_stats aggregation: per-lang moments over n_chars.
    Variance/std are DERIVED from the integer moment sums (sumsq/n -
    (sum/n)^2 — ES's population formula), so the doubles are bit-identical
    under any aggregation order and the oracle replays the same formula."""
    from fulltextsearch_spark.operators.facets import extended_stats

    out = extended_stats(_docs(spark, sf_dir), "n_chars", keys=("lang",))
    return out.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        "min_v",
        "max_v",
        "sum_v",
        "avg_v",
        "sumsq_v",
        "variance",
        "std_dev",
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES numeric histogram aggregation over n_chars (interval 100) with
    min_doc_count=0 gap fill: empty buckets between the min and max
    observed bucket are emitted with n=0, replayed in the oracle via
    generate_series."""
    from fulltextsearch_spark.operators.facets import value_histogram

    return value_histogram(_docs(spark, sf_dir), "n_chars", interval=100)


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy search (Lucene FuzzyQuery): query terms expand to vocabulary
    terms within max_edits Levenshtein edits (prefix_len=1 adds the
    hash-join prefix component), each clause weighted by the Lucene boost
    1 - edits/min(len) and fed through the unchanged BM25 scorer."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.fuzzy import search_fuzzy
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    qdf = spark.createDataFrame(FUZZY_TERMS, ["query_id", "qterm"])
    return search_fuzzy(
        idx, qdf, cfg,
        max_edits=FUZZY_MAX_EDITS, prefix_len=FUZZY_PREFIX,
        max_expansions=FUZZY_MAX_EXP,
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


AUTOCORRECT_QUERIES = [
    ("a1", "joinn filtr"),
    ("a2", "qery qery windw"),
    ("a3", "dupp"),
    ("a4", "sparkk mrge sortt fasst"),
]
AC_EDITS, AC_LAM = 2, 1.5


def q_autocorrect_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correct-then-retrieve ("showing results for ..."): every token of a
    deliberately misspelled query set autocorrects by the noisy-channel
    rule (in-dictionary tokens never change; OOV tokens take the argmax of
    ln(df) - 1.5*edits within 2 Levenshtein, term-ASC ties), then the
    corrected bag retrieves through the unchanged BM25 scorer. The oracle
    replays dictionary membership, the levenshtein argmax, and scoring."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.fuzzy import search_autocorrect
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    qdf = spark.createDataFrame(AUTOCORRECT_QUERIES, ["query_id", "content"])
    res = search_autocorrect(idx, qdf, cfg, max_edits=AC_EDITS, lam=AC_LAM)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _autocorrect_sql() -> str:
    from fulltextsearch_spark.functions.tokenizer import tokenize

    slot_vals = []
    for qid, content in AUTOCORRECT_QUERIES:
        for i, t in enumerate(tokenize(content, do_stem=False)):
            slot_vals.append(f"('{qid}', {i}, '{t}')")
    slots = ", ".join(slot_vals)
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
slots AS (SELECT * FROM (VALUES {slots}) v(query_id, slot, term)),
known AS (
  SELECT s.query_id, s.slot, s.term AS corrected
  FROM slots s JOIN dft d ON d.term = s.term
),
oov AS (
  SELECT s.query_id, s.slot, s.term AS qterm
  FROM slots s LEFT JOIN dft d ON d.term = s.term WHERE d.term IS NULL
),
cand AS (
  SELECT o.query_id, o.slot, d.term, d.df,
         levenshtein(d.term, o.qterm) AS edits
  FROM oov o JOIN dft d
    ON abs(length(d.term) - length(o.qterm)) <= {AC_EDITS}
   AND levenshtein(d.term, o.qterm) <= {AC_EDITS}
),
best AS (
  SELECT query_id, slot, term AS corrected FROM (
    SELECT query_id, slot, term,
           row_number() OVER (PARTITION BY query_id, slot
             ORDER BY ln(df::DOUBLE) - {AC_LAM!r} * edits DESC, term ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
unc AS (
  SELECT o.query_id, o.slot, o.qterm AS corrected
  FROM oov o LEFT JOIN best b ON b.query_id = o.query_id AND b.slot = o.slot
  WHERE b.slot IS NULL
),
fixed AS (
  SELECT * FROM known UNION ALL SELECT * FROM best UNION ALL SELECT * FROM unc
),
qtf AS (
  SELECT query_id, corrected AS term, count(*)::DOUBLE AS qtf
  FROM fixed GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) *
             (tf.tf * ({K1} + 1.0)) /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


TRI_REGEXPS: list[tuple[str, str]] = [
    ("qt1", "cust.*"),        # run 'cust'  -> trigram-prefiltered path
    ("qt2", "wind[a-z]*"),    # run 'wind'  -> trigram-prefiltered path
    ("qt2", "val.e"),         # run 'val'   -> trigram-prefiltered path
    ("qt3", "(join|merge)"),  # alternation -> full-dictionary fallback
]


def q_regexp_tri_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-accelerated regexp search (Cox's Code Search design over the
    vocabulary): required literal runs become required trigrams, candidate
    terms come from intersecting the trigram posting map, and only
    candidates pay RLIKE; patterns with no extractable run (alternations)
    fall back to the dictionary scan. Result-identical to search_regexp by
    construction — the oracle IS the plain regexp-expansion SQL."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.multiterm import (
        build_term_trigrams,
        search_regexp_trigram,
    )

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    tri_map = build_term_trigrams(idx)
    pats = spark.createDataFrame(TRI_REGEXPS, ["query_id", "pattern"])
    return search_regexp_trigram(idx, tri_map, pats, cfg).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_boosting_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosting query (Lucene BoostingQuery / ES boosting): positive BM25
    ranking with docs matching the paired negative clause demoted to
    negative_boost x their score — demote, don't exclude."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.functionscore import search_boosting
    from fulltextsearch_spark.operators.index_build import build_index

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    neg = spark.createDataFrame(NEG_QUERY_TOKENS, ["query_id", "content"])
    return search_boosting(
        idx, _query_frame(spark), neg, cfg, negative_boost=NEG_BOOST
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing weights (mT5/XLM-R style) per source bucket:
    weight_i = p_i^alpha / sum p_j^alpha with alpha=0.3 — the standard
    low-resource up-weighting lever for pre-training mixes."""
    from fulltextsearch_spark.operators.sampling import mix_weights

    out = mix_weights(_docs(spark, sf_dir), "source", alpha=MIX_ALPHA)
    return out.select(
        "key",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("p", 4).alias("p"),
        F.round("weight", 4).alias("weight"),
        F.round("expected_docs", 4).alias("expected_docs"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep a doc iff the first 8 hex
    digits of md5(doc_id) fall under the bucket's rate x 2^32 — a pure
    function of the data (reproducible across runs/partitionings), rates
    derived deterministically per source bucket and mirrored in the
    oracle."""
    from fulltextsearch_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    rates = (
        docs.select(F.col("source").alias("key"))
        .distinct()
        .withColumn(
            "rate",
            ((F.ascii(F.substring("key", 1, 1)) % 4 + 1) / F.lit(5.0)),
        )
    )
    return stratified_sample(docs, rates, "source").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("sample_hash").cast("long").alias("sample_hash"),
    )


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (Carbonell & Goldstein 1998): the cosine top-20
    candidates vs vec_id=0, greedily re-ranked to top-10 balancing relevance
    against redundancy (lam=0.7). The oracle unrolls the 10 greedy steps as
    chained CTEs with correlated max-sim subqueries; dot products accumulate
    sequentially on both sides."""
    from fulltextsearch_spark.operators.mmr import mmr_rerank

    emb = _embeddings(spark, sf_dir)
    embd = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    qvec = embd.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    joined = embd.crossJoin(F.broadcast(qvec))
    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = dot / (norm(F.col("vec")) * norm(F.col("qvec")))
    cand = (
        joined.select("vec_id", sim.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_N)
        .withColumn("query_id", F.lit("q"))
    )
    res = mmr_rerank(
        cand,
        emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding"),
        k=TOPK,
        lam=MMR_LAM,
        id_col="vec_id",
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


# ---------------------------------------------------------------------------
# Driver API
# ---------------------------------------------------------------------------


# adjacency_matrix filters: 'dup' is the rare testdata term, the others are
# head terms — the intersections are non-trivial at every sf.
ADJ_FILTERS = {"A": "join", "B": "filter", "C": "spark", "D": "dup"}
RARE_MAX_SHARE = 0.05
TOPHITS_PER_BUCKET = 2
LM_ALPHA = 0.5


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-trained bigram-LM cross-entropy / perplexity per
    document (training-data quality filter)."""
    from fulltextsearch_spark.operators.textstats import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir), alpha=LM_ALPHA, stem=False)


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: totals, hapax/dis legomena, head mass,
    fitted Zipf exponent."""
    from fulltextsearch_spark.operators.textstats import vocab_stats

    return vocab_stats(_docs(spark, sf_dir), stem=False)


def q_top_hits_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_hits sub-aggregation: best hits per `lang` bucket of each
    query's full BM25 match set."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.facets import top_hits
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import _scored_candidates, query_terms

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    scored = _scored_candidates(idx, query_terms(_query_frame(spark), stem=False), cfg, "bm25")
    return top_hits(
        scored, _docs(spark, sf_dir), "lang", n_per_bucket=TOPHITS_PER_BUCKET
    ).select(
        "query_id",
        "lang",
        F.col("bucket_rank").cast("long").alias("bucket_rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rare_terms aggregation: long-tail dictionary terms with
    df <= ceil(share * n_docs)."""
    from fulltextsearch_spark.operators.facets import rare_terms

    docs = _docs(spark, sf_dir)
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    dft = q_df_table(spark, sf_dir)
    return rare_terms(dft, n_docs, max_share=RARE_MAX_SHARE).select(
        "term", F.col("df").cast("long").alias("df")
    )


def q_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES adjacency_matrix aggregation: doc counts of named term filters and
    their pairwise intersections."""
    from fulltextsearch_spark.operators.facets import adjacency_matrix

    tf = q_tf_table(spark, sf_dir)
    return adjacency_matrix(tf, ADJ_FILTERS).select(
        "key1", "key2", F.col("doc_count").cast("long").alias("doc_count")
    )


# span_first clauses (Lucene SpanFirstQuery): the term must occur within the
# first `end` surviving-token positions. Mixed head/rare terms and cutoffs.
SPAN_FIRST: list[tuple[str, str, int]] = [
    ("qs1", "join", 5),
    ("qs2", "dup", 40),
    ("qs3", "spark", 3),
]
# minimum_should_match for the msm entry (over CONJ_QUERY_TOKENS).
MSM = 2
# composite aggregation page: sources (lang, source), after-key straddles
# the de->en boundary (src ordering is lexicographic: src17 < src2).
COMPOSITE_SIZE = 6
COMPOSITE_AFTER = ("de", "src17")


def q_span_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene span_first: term within the first N surviving positions,
    ranked through the shared virtual-term BM25."""
    from fulltextsearch_spark.operators.positional import (
        build_positional_index,
        span_first_topk,
    )

    idx = build_positional_index(_docs(spark, sf_dir), stem=False)
    spans = spark.createDataFrame(SPAN_FIRST, ["query_id", "term", "end"])
    return span_first_topk(idx, spans, k=TOPK, k1=K1, b=B).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_msm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene minimum_should_match: rank docs matching at least MSM distinct
    query terms (between pure OR and pure AND)."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_conjunctive

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    queries = spark.createDataFrame(
        [(qid, " ".join(t for q, t in CONJ_QUERY_TOKENS if q == qid)) for qid in
         sorted({q for q, _ in CONJ_QUERY_TOKENS})],
        ["query_id", "content"],
    )
    res = search_conjunctive(idx, queries, cfg, min_match=MSM)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite aggregation: (lang, source) bucket counts paged by
    after-key in deterministic source order."""
    from fulltextsearch_spark.operators.facets import composite_agg

    return composite_agg(
        _docs(spark, sf_dir), ["lang", "source"], COMPOSITE_SIZE, COMPOSITE_AFTER
    ).select("lang", "source", F.col("doc_count").cast("long").alias("doc_count"))


# has_child: min 2 matching paragraphs per parent, max child score.
HC_MIN_CHILDREN = 2
# DSIR hashed-bigram model size + smoothing (Xie et al. hash n-grams into a
# fixed bucket space; 1024 keeps the oracle VALUES-free).
DSIR_BUCKETS = 1024
DSIR_ALPHA = 0.5
# matrix_stats fields / percentile_ranks thresholds over documents.n_chars.
MS_FIELDS = ["n_chars", "dl"]
PR_THRESHOLDS = [200.0, 400.0, 800.0]


def q_has_child_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_child query: parents ranked by the max BM25 of their matching
    paragraph children (child mini-corpus stats), min_children floor."""
    from fulltextsearch_spark.operators.parentchild import has_child_topk

    return has_child_topk(
        _lineful_docs(spark, sf_dir),
        _query_frame(spark),
        k=TOPK,
        score_mode="max",
        min_children=HC_MIN_CHILDREN,
        k1=K1,
        b=B,
        stem=False,
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("parent_id").cast("long").alias("parent_id"),
        F.col("n_children").cast("long").alias("n_children"),
        F.round("score", 4).alias("score"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: per-doc log-likelihood ratio of the
    lang='en' target domain over the raw corpus, hashed-bigram LMs."""
    from fulltextsearch_spark.operators.sampling import dsir_weights

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("lang") == "en")
    return dsir_weights(
        docs, target, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA, stem=False
    )


def q_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES matrix_stats: pairwise second-moment statistics over numeric doc
    fields (n_chars, token count)."""
    from fulltextsearch_spark.operators.facets import matrix_stats
    from fulltextsearch_spark.functions.tokenizer import term_counts_udf

    tc = term_counts_udf(do_stem=False)
    docs = _docs(spark, sf_dir).select(
        F.col("n_chars").cast("double").alias("n_chars"),
        tc(F.col("text"))["dl"].cast("double").alias("dl"),
    )
    return matrix_stats(docs, MS_FIELDS).select(
        "field_x", "field_y", F.col("n").cast("long").alias("n"),
        F.round("mean_x", 6).alias("mean_x"), F.round("mean_y", 6).alias("mean_y"),
        "covariance", "correlation",
    )


# Jelinek-Mercer interpolation weight (Zhai & Lafferty's short-query choice).
LMJM_LAM = 0.1


def q_lmjm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-smoothed query likelihood top-k (Lucene
    LMJelinekMercerSimilarity) — third similarity family over the index."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.index_build import build_index
    from fulltextsearch_spark.operators.query import search_lm_jm

    cfg = EngineConfig(k1=K1, b=B, k=TOPK, stem=False)
    idx = build_index(spark, _docs(spark, sf_dir), cfg, persist=False)
    return search_lm_jm(idx, _query_frame(spark), cfg, lam=LMJM_LAM).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_dfr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFR InL2 top-k (Amati & van Rijsbergen; Lucene DFRSimilarity
    In/L/H2) — divergence-from-randomness ranking over the same index."""
    return _q_topk(spark, sf_dir, "dfr", stem=False)


def q_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentile_ranks (exact): per source, % of docs with n_chars <= t."""
    from fulltextsearch_spark.operators.facets import percentile_ranks

    return percentile_ranks(
        _docs(spark, sf_dir), ["source"], "n_chars", PR_THRESHOLDS
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full stemmed BM25 top-k pipeline on sf0.001."""
    return q_bm25_topk_stemmed(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order is the driver's sampling order (first 50 checked per round).
    # Round-5 rotation: the 33 entries never driver-checked through r4
    # (CORRECTNESS_r01-r04 union) lead, plus the new ann_ivfpq_served = 34;
    # then 16 rotation-filler entries whose last driver check was r2 (the
    # oldest verification on record); the r3/r4-green remainder follows.
    return {
        "sdm_topk": q_sdm_topk,
        "proximity_topk": q_proximity_topk,
        "snippet_spans": q_snippet_spans,
        "suggest_terms": q_suggest_terms,
        "duplicate_spans": q_duplicate_spans,
        "bm25f_topk": q_bm25f_topk,
        "neardup_collapsed": q_neardup_collapsed,
        "cross_contamination": q_cross_contamination,
        "neardup_recall": q_neardup_recall,
        "ann_dim_recall": q_ann_dim_recall,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivfpq_loaded": q_ann_ivfpq_loaded,
        "ann_ivfpq_served": q_ann_ivfpq_served,
        "ann_sq_topk": q_ann_sq_topk,
        "ann_knn_join": q_ann_knn_join,
        "semdedup_keep": q_semdedup_keep,
        "image_ahash": q_image_ahash,
        "lm_perplexity": q_lm_perplexity,
        "vocab_stats": q_vocab_stats,
        "top_hits_lang": q_top_hits_lang,
        "rare_terms": q_rare_terms,
        "adjacency_matrix": q_adjacency,
        "span_first_topk": q_span_first_topk,
        "msm_topk": q_msm_topk,
        "composite_agg": q_composite_agg,
        "has_child_topk": q_has_child_topk,
        "dsir_weights": q_dsir_weights,
        "matrix_stats": q_matrix_stats,
        "percentile_ranks": q_percentile_ranks,
        "lmjm_topk": q_lmjm_topk,
        "dfr_topk": q_dfr_topk,
        "ann_ivf_served": q_ann_ivf_served,
        "ann_lsh_served": q_ann_lsh_served,
        "exact_dedup": q_exact_dedup,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "neardup_clusters": q_neardup_clusters,
        "dedup_canonical": q_dedup_canonical,
        "embedding_neardup": q_embedding_neardup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "tfidf_topk": q_tfidf_topk,
        "vsm_topk": q_vsm_topk,
        "bm25_topk_stemmed": q_bm25_topk_stemmed,
        "trigram_topk": q_trigram_topk,
        "trigram_topk_loaded": q_trigram_topk_loaded,
        "boosting_topk": q_boosting_topk,
        "mix_weights": q_mix_weights,
        "stratified_sample": q_stratified_sample,
        "group_split": q_group_split,
        "phrase_prefix_topk": q_phrase_prefix_topk,
        "mmr_topk": q_mmr_topk,
        "score_explain": q_score_explain,
        "asof_click_view": q_asof_click_view,
        "event_sessions": q_event_sessions,
        "campaign_attribution": q_campaign_attribution,
        "date_histogram": q_date_histogram,
        "cms_term_counts": q_cms_term_counts,
        "hll_distinct": q_hll_distinct,
        "lang_distinct": q_lang_distinct,
        "pipeline_aggs": q_pipeline_aggs,
        "streaming_sessions": q_streaming_sessions,
        "streaming_dedup": q_streaming_dedup,
        "collocations_topk": q_collocations,
        "similar_terms": q_similar_terms,
        "corpus_drift": q_corpus_drift,
        "bm25_topk_filtered": q_bm25_topk_filtered,
        "bm25_topk_deleted": q_bm25_topk_deleted,
        "index_stats": q_index_stats,
        "pagerank_scores": q_pagerank_scores,
        "ppr_scores": q_ppr_scores,
        "hits_scores": q_hits_scores,
        "lpa_communities": q_lpa_communities,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "hybrid_vector_topk": q_hybrid_vector_topk,
        "ann_filtered_topk": q_ann_filtered_topk,
        "anchor_bm25f_topk": q_anchor_bm25f,
        "facet_counts": q_facet_counts,
        "mlt_topk": q_mlt_topk,
        "autocomplete": q_autocomplete,
        "rocchio_topk": q_rocchio_topk,
        "chunk_docs": q_chunk_docs,
        "maxp_topk": q_maxp_topk,
        "packed_sequences": q_packed_sequences,
        "packed_tokens": q_packed_tokens,
        "nb_quality": q_nb_quality,
        "gopher_rules": q_gopher_rules,
        "gopher_repetition": q_gopher_repetition,
        "c4_filters": q_c4_filters,
        "paragraph_dedup": q_paragraph_dedup,
        "boilerplate_lines": q_boilerplate_lines,
        "url_dedup": q_url_dedup,
        "domain_caps": q_domain_caps,
        "curate_web": q_curate_web,
        "decontam_flags": q_decontam_flags,
        "phrase_topk": q_phrase_topk,
        "tf_table": q_tf_table,
        "doc_stats": q_doc_stats,
        "corpus_stats": q_corpus_stats,
        "df_table": q_df_table,
        "postings_summary": q_postings_summary,
        "bm25_topk": q_bm25_topk,
        "champion_topk": q_champion_topk,
        "federated_topk": q_federated_topk,
        "warc_parse": q_warc_parse,
        "bm25_topk_upserted": q_bm25_topk_upserted,
        "tiered_topk": q_tiered_topk,
        "rm3_topk": q_rm3_topk,
        "clarity": q_clarity,
        "bm25_topk_wand": q_bm25_topk_wand,
        "bm25_topk_serve": q_bm25_topk_serve,
        "bm25_topk_pfor": q_bm25_topk_pfor,
        "bm25_topk_pfor_local": q_bm25_topk_pfor_local,
        "bm25_topk_incremental": q_bm25_topk_incremental,
        "bm25_topk_resumable": q_bm25_topk_resumable,
        "bm25_topk_merged": q_bm25_topk_merged,
        "bm25_topk_conj": q_bm25_topk_conj,
        "bm25_topk_expanded": q_bm25_topk_expanded,
        "wildcard_topk": q_wildcard_topk,
        "regexp_topk": q_regexp_topk,
        "regexp_tri_topk": q_regexp_tri_topk,
        "lmd_topk": q_lmd_topk,
        "collapse_topk": q_collapse_topk,
        "sig_terms": q_sig_terms,
        "decay_topk": q_decay_topk,
        "percolate_matches": q_percolate_matches,
        "term_vectors": q_term_vectors,
        "search_after_topk": q_search_after_topk,
        "rank_eval": q_rank_eval,
        "ltr_topk": q_ltr_topk,
        "bm25_sweep": q_bm25_sweep,
        "extract_text": q_extract_text,
        "dismax_topk": q_dismax_topk,
        "pii_scrub": q_pii_scrub,
        "doc_keywords": q_doc_keywords,
        "token_entropy": q_token_entropy,
        "length_percentiles": q_length_percentiles,
        "extended_stats": q_extended_stats,
        "length_histogram": q_length_histogram,
        "phrase_suggest": q_phrase_suggest,
        "bpe_merges": q_bpe_merges,
        "bpe_encoded": q_bpe_encoded,
        "funnel_counts": q_funnel_counts,
        "cohort_retention": q_cohort_retention,
        "fuzzy_topk": q_fuzzy_topk,
        "autocorrect_topk": q_autocorrect_topk,
        "stop_prune": q_stop_prune,
        "token_count": q_token_count,
        "token_count_bpe": q_token_count_bpe,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "media_metadata": q_media_metadata,
        "image_stats": q_image_stats,
        "audio_features": q_audio_features,
        "resize_meta": q_resize_meta,
        "frame_sample": q_frame_sample,
        "curate_corpus": q_curate_corpus,
    }


def _values_query_tokens(tokens: list[tuple[str, str]] | None = None) -> str:
    return ", ".join(f"('{q}', '{t}')" for q, t in (tokens or QUERY_TOKENS))


def _stem_map_values() -> str:
    """VALUES rows (term, stem) covering every non-stop token in the testdata
    vocabulary plus the query tokens, stemmed by the vendored Porter2 (itself
    pinned byte-identical to the reference's compiled Snowball C stemmer in
    tests/test_porter2.py). This makes the stemmed join/score/topk stages
    DuckDB-checkable even though the stemmer is not SQL-expressible."""
    import os

    import duckdb

    from fulltextsearch_spark.functions.porter2 import stem
    from fulltextsearch_spark.functions.tokenizer import STOP_WORDS

    words: set[str] = {t for _, t in QUERY_TOKENS}
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if os.path.exists(path):
            rows = con.execute(
                "SELECT DISTINCT unnest(regexp_split_to_array(lower(text), "
                f"'{_TOKEN_SPLIT_SQL}')) AS w FROM read_parquet('{path}')"
            ).fetchall()
            words.update(w for (w,) in rows if w)
    words -= set(STOP_WORDS)
    return ", ".join(f"('{w}', '{stem(w)}')" for w in sorted(words))


def _scored_sql(
    score_expr: str,
    stemmed: bool = False,
    conjunctive: bool = False,
    dl_min: int | None = None,
    tokens: list[tuple[str, str]] | None = None,
    src_where: str | None = None,
    min_match: int | None = None,
) -> str:
    """Shared CTE block computing per-(query, doc) accumulated scores.

    With ``stemmed=True``, tokens (document AND query side) map through the
    VALUES stem table after stop-filtering — the reference order
    (stemmingtokenizer.cpp:49-60: stop check precedes stemming); dl counts
    tokens, which stemming does not change. ``conjunctive=True`` keeps only
    docs matching every distinct query term (boolean AND); ``dl_min``
    restricts candidates to docs with at least that many tokens (the
    filtered-search entry's predicate)."""
    src_filter = f"WHERE {src_where}" if src_where else ""
    if stemmed:
        tok_block = f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()})) AS tokens
  FROM documents {src_filter}
),
smap AS (SELECT * FROM (VALUES {_stem_map_values()}) m(term0, stem)),
tok0 AS (SELECT doc_id, unnest(tokens) AS term0 FROM toks),
tok AS (SELECT doc_id, coalesce(s.stem, t.term0) AS term
        FROM tok0 t LEFT JOIN smap s USING (term0)),
dls AS (SELECT doc_id, len(tokens)::BIGINT AS dl FROM toks)
"""
        q_block = f"""qt0 AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term0)),
qt AS (SELECT query_id, coalesce(s.stem, q.term0) AS term
       FROM qt0 q LEFT JOIN smap s USING (term0))"""
    else:
        tok_block = _tok_cte(src_where)
        q_block = (
            f"qt AS (SELECT * FROM (VALUES {_values_query_tokens(tokens)}) AS v(query_id, term))"
        )
    return f"""
WITH {tok_block},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
{q_block},
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
nq AS (SELECT query_id, count(DISTINCT term) AS n_q FROM qt GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {score_expr}) AS score
  FROM qtf q
  JOIN nq ON nq.query_id = q.query_id
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  {f'WHERE dls.dl >= {dl_min}' if dl_min is not None else ''}
  GROUP BY 1, 2
  {(f'HAVING count(*) >= least({min_match}, max(nq.n_q))' if min_match is not None
    else 'HAVING count(*) = max(nq.n_q)') if conjunctive else ''}
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _wc_like_sql(p: str) -> str:
    """Lucene wildcard -> SQL LIKE pattern (driver-side mirror of
    multiterm.wildcard_to_like, for the oracle's VALUES rows)."""
    import re as _re

    esc = _re.sub(r"([%_\\])", r"\\\1", p)
    return esc.replace("*", "%").replace("?", "_")


def _multiterm_sql(
    patterns: list[tuple[str, str]], match_expr: str, score_expr: str
) -> str:
    """Multi-term expansion oracle: patterns match the vocabulary CTE (alias
    ``dd``/``p`` in ``match_expr``), expanded clauses carry per-pattern
    multiplicity as qtf, then the shared BM25 disjunction replays."""
    vals = ", ".join(f"('{q}', '{p}')" for q, p in patterns)
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
pats AS (SELECT * FROM (VALUES {vals}) v(query_id, pattern)),
qtf AS (SELECT p.query_id, dd.term, count(*)::DOUBLE AS qtf
        FROM dft dd JOIN pats p ON {match_expr} GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {score_expr}) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _lmd_sql() -> str:
    """Dirichlet query-likelihood oracle: p(t|C) = cf / (avgdl * n_docs) with
    the identical arithmetic nesting as the Spark Column expression."""
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
cft AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * greatest(0.0,
             ln(1.0 + tf.tf / ({LMD_MU} * (cft.cf / (s.avgdl * s.n_docs))))
           + ln({LMD_MU} / (dls.dl + {LMD_MU})))) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN cft ON cft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _collapse_sql() -> str:
    """Field-collapse oracle: best doc per (query, source), then rank the
    collapsed set — windows mirror the Spark operator's two WindowGroupLimits."""
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) *
             (tf.tf * ({K1} + 1.0)) /
             (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
keyed AS (
  SELECT sc.query_id, d.source AS "key", sc.doc_id, sc.score,
         row_number() OVER (PARTITION BY sc.query_id, d.source
                            ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
  FROM scored sc JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, "key", doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM keyed WHERE rn = 1
)
SELECT query_id, rank::BIGINT AS rank, "key", doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


_BM25_EXPR = (
    "ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) * "
    f"(tf.tf * ({K1} + 1.0)) / (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))"
)


def _bm25_core_cte() -> str:
    """Shared CTE chain tok..ranked: BM25 over the default query set — the
    base the sig-terms / decay / search-after / rank-eval oracles extend."""
    return f"""{_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {_BM25_EXPR}) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)"""


def _sig_terms_sql() -> str:
    """Significant-terms oracle: fg = BM25 top-N docs, JLH arithmetic with
    the exact Spark nesting ((fg_pct - bg_pct) * (fg_pct / bg_pct))."""
    jlh = "(fg_pct - bg_pct) * (fg_pct / bg_pct)"
    return f"""
WITH {_bm25_core_cte()},
fg AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {SIG_N_FG}),
fgsz AS (SELECT query_id, count(*)::DOUBLE AS fg_size FROM fg GROUP BY 1),
dterms AS (SELECT DISTINCT doc_id, term FROM tok),
fgc AS (
  SELECT f.query_id, d.term, count(*)::BIGINT AS fg_count
  FROM fg f JOIN dterms d USING (doc_id)
  GROUP BY 1, 2 HAVING count(*) >= {SIG_MIN_DC}
),
sig AS (
  SELECT c.query_id, c.term, c.fg_count, dft.df AS bg_count,
         c.fg_count::DOUBLE / z.fg_size AS fg_pct,
         dft.df::DOUBLE / s.n_docs AS bg_pct
  FROM fgc c
  JOIN fgsz z USING (query_id)
  JOIN dft USING (term)
  CROSS JOIN stats s
),
sranked AS (
  SELECT query_id, term, fg_count, bg_count, {jlh} AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {jlh} DESC, term ASC) AS rank
  FROM sig WHERE fg_pct > bg_pct
)
SELECT query_id, rank::BIGINT AS rank, term, fg_count,
       bg_count::BIGINT AS bg_count, round(score, 4) AS score
FROM sranked WHERE rank <= {SIG_TOP}
"""


def _decay_sql() -> str:
    """Decay function-score oracle. The decay rate constant lambda =
    ln(decay)/scale is precomputed in Python and embedded via repr so both
    engines multiply by the bit-identical double the Spark Column uses."""
    import math as _math

    lam = repr(_math.log(DECAY_RATE) / DECAY_SCALE)
    return f"""
WITH {_bm25_core_cte()},
rescored AS (
  SELECT query_id, doc_id,
         score * exp({lam} * greatest(0.0,
                 abs((doc_id % {DECAY_MOD})::DOUBLE - 0.0) - {DECAY_OFFSET})) AS score
  FROM scored
),
rranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM rescored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM rranked WHERE rank <= {TOPK}
"""


def _percolate_sql() -> str:
    """Percolator oracle: boolean-AND containment of each query's distinct
    terms over the per-doc distinct term sets."""
    return f"""
WITH {_tok_cte()},
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qts AS (SELECT DISTINCT query_id, term FROM qt),
need AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qts GROUP BY 1),
dterms AS (SELECT DISTINCT doc_id, term FROM tok),
m AS (
  SELECT q.query_id, d.doc_id, count(*)::BIGINT AS n_matched
  FROM qts q JOIN dterms d USING (term) GROUP BY 1, 2
)
SELECT m.query_id, m.doc_id::BIGINT AS doc_id, m.n_matched
FROM m JOIN need USING (query_id)
WHERE m.n_matched >= need.n_q
"""


def _term_vectors_sql() -> str:
    """Term-vectors oracle: per-doc tf/dl plus corpus df/ttf for the
    requested doc ids."""
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
cft AS (SELECT term, sum(tf)::BIGINT AS ttf FROM tf GROUP BY 1)
SELECT t.doc_id::BIGINT AS doc_id, t.term, t.tf, dls.dl::BIGINT AS dl,
       dft.df, cft.ttf
FROM tf t
JOIN dls USING (doc_id)
JOIN dft ON dft.term = t.term
JOIN cft ON cft.term = t.term
WHERE t.doc_id IN ({ids})
"""


def _search_after_sql() -> str:
    """search_after oracle: the cursor page must equal global ranks
    k+1..2k of the full deterministic ordering, rebased to 1..k."""
    return f"""
WITH {_bm25_core_cte()}
SELECT query_id, (rank - {TOPK})::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank > {TOPK} AND rank <= {2 * TOPK}
"""


def _rank_eval_sql() -> str:
    """Rank-eval oracle: nDCG@k (exponential gain), MRR, precision@k over
    the BM25 run with rel(q, d) = |q's distinct terms contained in d|."""
    return f"""
WITH {_bm25_core_cte()},
run AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= {TOPK}),
dterms AS (SELECT DISTINCT doc_id, term FROM tok),
qts AS (SELECT DISTINCT query_id, term FROM qt),
qrels AS (
  SELECT q.query_id, d.doc_id, count(*)::DOUBLE AS rel
  FROM qts q JOIN dterms d USING (term) GROUP BY 1, 2
),
judged AS (
  SELECT r.query_id, r.rank, coalesce(j.rel, 0.0) AS rel
  FROM run r LEFT JOIN qrels j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
),
perq AS (
  SELECT query_id,
         sum((power(2.0, rel) - 1.0) / log2(rank::DOUBLE + 1.0)) AS dcg,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel
  FROM judged GROUP BY 1
),
ideal AS (
  SELECT query_id,
         sum((power(2.0, rel) - 1.0) / log2(irank::DOUBLE + 1.0)) AS idcg
  FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id ASC) AS irank
    FROM qrels WHERE rel > 0
  )
  WHERE irank <= {TOPK} GROUP BY 1
)
SELECT p.query_id,
       round(CASE WHEN coalesce(i.idcg, 0.0) > 0.0
                  THEN p.dcg / i.idcg ELSE 0.0 END, 4) AS ndcg,
       round(coalesce(1.0 / p.first_rel, 0.0), 4) AS mrr,
       round(p.n_rel::DOUBLE / {float(TOPK)}, 4) AS "precision"
FROM perq p LEFT JOIN ideal i USING (query_id)
"""


def _dismax_sql() -> str:
    """dis_max oracle: max clause + tie_breaker * (qtf-weighted sum - max),
    with the identical nesting as the Spark aggregate."""
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         max({_BM25_EXPR})
           + {DISMAX_TIE} * (sum(q.qtf * {_BM25_EXPR}) - max({_BM25_EXPR})) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _pii_sql() -> str:
    """PII-scrub oracle: the same injection CTE, then the PII_PATTERNS chain
    replayed with RE2 ('g' flag) — counts taken against the text as each
    pattern sees it, exactly the Spark column chain."""
    from fulltextsearch_spark.operators.pii import PII_PATTERNS

    steps = []
    prev = "text"
    carried: list[str] = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        keep = ", ".join(["doc_id"] + carried)
        nxt = f"t{i}"
        steps.append(
            f"""s{i} AS (
  SELECT {keep},
         len(regexp_extract_all({prev}, '{pat}'))::BIGINT AS n_{name},
         regexp_replace({prev}, '{pat}', '{repl}', 'g') AS {nxt}
  FROM {'injected' if i == 0 else f's{i - 1}'}
)"""
        )
        carried.append(f"n_{name}")
        prev = nxt
    chain = ",\n".join(steps)
    last = len(PII_PATTERNS) - 1
    return f"""
WITH injected AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact u' || doc_id || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' call +1 555 01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
                   ELSE '' END AS text
  FROM documents
),
{chain}
SELECT doc_id::BIGINT AS doc_id, t{last} AS text, n_email, n_ip, n_phone
FROM s{last}
"""


def _doc_keywords_sql() -> str:
    """doc-keywords oracle: per-doc tf-idf top terms, identical arithmetic
    to the tfidf entry ((tf/dl) * idf)."""
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
WITH {_tok_cte()},
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM dls),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id, t.term,
         (t.tf::DOUBLE / dls.dl) *
         ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) AS score
  FROM tf t
  JOIN dls USING (doc_id)
  JOIN dft ON dft.term = t.term
  CROSS JOIN stats s
  WHERE t.doc_id IN ({ids})
),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id::BIGINT AS doc_id, rank::BIGINT AS rank, term,
       round(score, 4) AS score
FROM ranked WHERE rank <= 5
"""


def _token_entropy_sql() -> str:
    """token-entropy oracle: -sum(p*log2(p)) per doc with the Spark
    nesting; dl=0 docs restored with zero stats via the left join."""
    return f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
st AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_types,
         -(sum((t.tf::DOUBLE / dls.dl) * log2(t.tf::DOUBLE / dls.dl))) AS entropy
  FROM tf t JOIN dls USING (doc_id) GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id, d.dl::BIGINT AS dl,
       coalesce(st.n_types, 0)::BIGINT AS n_types,
       round(coalesce(st.entropy, 0.0), 4) AS entropy,
       round(CASE WHEN d.dl > 0
                  THEN coalesce(st.n_types, 0)::DOUBLE / d.dl ELSE 0.0 END,
             4) AS ttr
FROM dls d LEFT JOIN st USING (doc_id)
"""


def _length_percentiles_sql() -> str:
    """percentiles oracle: quantile_cont == Spark's exact percentile
    (both linear interpolation at rank p*(n-1))."""
    return """
SELECT source,
       round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.75), 4) AS p75,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY 1
"""


def _fuzzy_sql() -> str:
    """Fuzzy oracle: levenshtein expansion over the vocabulary CTE with the
    prefix/length prune, Lucene boost 1 - edits/min(len), max_expansions cap
    (edits ASC, df DESC, term ASC), then the BM25 disjunction."""
    vals = ", ".join(f"('{q}', '{t}')" for q, t in FUZZY_TERMS)
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qf AS (SELECT * FROM (VALUES {vals}) v(query_id, qterm)),
cand AS (
  SELECT v.query_id, v.qterm, d.term, d.df,
         levenshtein(d.term, v.qterm) AS edits
  FROM dft d JOIN qf v
    ON substr(d.term, 1, {FUZZY_PREFIX}) = substr(v.qterm, 1, {FUZZY_PREFIX})
   AND abs(len(d.term) - len(v.qterm)) <= {FUZZY_MAX_EDITS}
   AND levenshtein(d.term, v.qterm) <= {FUZZY_MAX_EDITS}
),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, qterm
                               ORDER BY edits ASC, df DESC, term ASC) AS rn
  FROM cand
),
qtf AS (
  SELECT query_id, term,
         sum(1.0 - edits::DOUBLE / least(len(term), len(qterm))) AS qtf
  FROM capped WHERE rn <= {FUZZY_MAX_EXP} GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {_BM25_EXPR}) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _boosting_sql() -> str:
    """Boosting oracle: the BM25 core with scores multiplied by
    negative_boost for docs matching any of the query's negative terms."""
    neg_vals = ", ".join(f"('{q}', '{t}')" for q, t in NEG_QUERY_TOKENS)
    return f"""
WITH {_bm25_core_cte()},
nq AS (SELECT DISTINCT * FROM (VALUES {neg_vals}) v(query_id, term)),
negd AS (
  SELECT DISTINCT n.query_id, tf.doc_id
  FROM nq n JOIN tf ON tf.term = n.term
),
demoted AS (
  SELECT s.query_id, s.doc_id,
         CASE WHEN nd.doc_id IS NOT NULL THEN s.score * {NEG_BOOST}
              ELSE s.score END AS score
  FROM scored s
  LEFT JOIN negd nd ON nd.query_id = s.query_id AND nd.doc_id = s.doc_id
),
dranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM demoted
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM dranked WHERE rank <= {TOPK}
"""


def _mix_weights_sql() -> str:
    """Temperature-mix oracle: identical arithmetic nesting (p first, then
    pow, then the normalized weight and doc budget)."""
    return f"""
WITH counts AS (
  SELECT source AS key, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_docs)::BIGINT AS total FROM counts),
powed AS (
  SELECT key, n_docs,
         n_docs::DOUBLE / total::DOUBLE AS p,
         pow(n_docs::DOUBLE / total::DOUBLE, {MIX_ALPHA}) AS pa,
         total
  FROM counts CROSS JOIN tot
),
z AS (SELECT sum(pa) AS z FROM powed)
SELECT key, n_docs, round(p, 4) AS p,
       round(pa / z.z, 4) AS weight,
       round((pa / z.z) * total::DOUBLE, 4) AS expected_docs
FROM powed CROSS JOIN z
"""


def _stratified_sample_sql() -> str:
    """Stratified-sample oracle: the same md5-prefix hash and per-bucket
    rate expression, replayed row by row."""
    return """
WITH hashed AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UINT64)::BIGINT AS sample_hash,
         ((ascii(substr(source, 1, 1)) % 4) + 1) / 5.0 AS rate
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, source, sample_hash
FROM hashed
WHERE sample_hash::DOUBLE < rate * 4294967296.0
"""


def _phrase_slots_values() -> str:
    """PHRASES through the engine tokenizer (unstemmed), as VALUES rows —
    the oracle consumes the same (query_id, slot, term) table the Spark
    path derives, then replays the adjacency + scoring independently."""
    from fulltextsearch_spark.functions.tokenizer import tokenize

    vals = []
    for qid, content in PHRASES:
        for slot, term in enumerate(tokenize(content, do_stem=False)):
            vals.append(f"('{qid}', {slot}, '{term}')")
    return ", ".join(vals)


SDM_LAMBDAS, SDM_MU, SDM_W = (0.8, 0.1, 0.1), 2000.0, 8


def _sdm_slots_values() -> str:
    out, counters = [], {}
    for q, t in QUERY_TOKENS:
        i = counters.get(q, 0)
        counters[q] = i + 1
        out.append(f"('{q}', {i}, '{t}')")
    return ", ".join(out)


def q_sdm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Dependence Model (Metzler & Croft SIGIR'05, the
    Indri/Galago default): Dirichlet-smoothed unigram + ordered-adjacent +
    unordered-window-8 features over the positional index, weighted
    0.8/0.1/0.1. The oracle replays positions, both pair counters, the
    collection frequencies, the zero-cf feature drop, and the smoothed
    zero-tf contributions per candidate."""
    from fulltextsearch_spark.operators.positional import (
        build_positional_index,
        search_sdm,
    )

    idx = build_positional_index(_docs(spark, sf_dir), stem=False)
    res = search_sdm(
        idx, _query_frame(spark), lambdas=SDM_LAMBDAS, mu=SDM_MU,
        window=SDM_W, k=TOPK,
    )
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def _sdm_sql() -> str:
    lt, lo, lu = SDM_LAMBDAS
    mu, w = SDM_MU, SDM_W
    return f"""
WITH {_tok_cte()},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               unnest(generate_series(0, len(tokens)-1)) AS pos
        FROM toks),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs,
                 sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl FROM dls),
slots AS (SELECT * FROM (VALUES {_sdm_slots_values()}) v(query_id, slot, term)),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
cft AS (SELECT term, count(*)::DOUBLE AS cf FROM tok
        WHERE term IN (SELECT term FROM slots) GROUP BY 1),
cand AS (
  SELECT DISTINCT s.query_id, t.doc_id
  FROM (SELECT DISTINCT query_id, term FROM slots) s JOIN tf t USING (term)
),
st AS (
  SELECT c.query_id, c.doc_id,
         sum(ln((coalesce(t.tf, 0)::DOUBLE + {mu!r} * u.cf / (s.avgdl * s.n_docs))
                / (dls.dl::DOUBLE + {mu!r}))) AS st
  FROM cand c JOIN slots sl ON sl.query_id = c.query_id
  JOIN cft u ON u.term = sl.term
  LEFT JOIN tf t ON t.term = sl.term AND t.doc_id = c.doc_id
  JOIN dls ON dls.doc_id = c.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.query_id, a.slot, a.term AS t1, b.term AS t2
  FROM slots a JOIN slots b ON b.query_id = a.query_id AND b.slot = a.slot + 1
),
odc AS (
  SELECT v.query_id, v.slot, p1.doc_id, count(*)::BIGINT AS od
  FROM pairs v JOIN pos p1 ON p1.term = v.t1
  JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.term = v.t2
            AND p2.pos = p1.pos + 1
  GROUP BY 1, 2, 3
),
udc AS (
  SELECT v.query_id, v.slot, p1.doc_id, count(*)::BIGINT AS ud
  FROM pairs v JOIN pos p1 ON p1.term = v.t1
  JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.term = v.t2
            AND p2.pos <> p1.pos AND abs(p2.pos - p1.pos) < {w}
  GROUP BY 1, 2, 3
),
cfo AS (SELECT query_id, slot, sum(od)::DOUBLE AS cf FROM odc
        GROUP BY 1, 2 HAVING sum(od) > 0),
cfu AS (SELECT query_id, slot, sum(ud)::DOUBLE AS cf FROM udc
        GROUP BY 1, 2 HAVING sum(ud) > 0),
so AS (
  SELECT c.query_id, c.doc_id,
         sum(ln((coalesce(o.od, 0)::DOUBLE + {mu!r} * f.cf / (s.avgdl * s.n_docs))
                / (dls.dl::DOUBLE + {mu!r}))) AS so
  FROM cand c JOIN cfo f ON f.query_id = c.query_id
  LEFT JOIN odc o ON o.query_id = c.query_id AND o.slot = f.slot
                 AND o.doc_id = c.doc_id
  JOIN dls ON dls.doc_id = c.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
su AS (
  SELECT c.query_id, c.doc_id,
         sum(ln((coalesce(o.ud, 0)::DOUBLE + {mu!r} * f.cf / (s.avgdl * s.n_docs))
                / (dls.dl::DOUBLE + {mu!r}))) AS su
  FROM cand c JOIN cfu f ON f.query_id = c.query_id
  LEFT JOIN udc o ON o.query_id = c.query_id AND o.slot = f.slot
                 AND o.doc_id = c.doc_id
  JOIN dls ON dls.doc_id = c.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
tot AS (
  SELECT st.query_id, st.doc_id,
         {lt!r} * st.st + {lo!r} * coalesce(so.so, 0.0)
         + {lu!r} * coalesce(su.su, 0.0) AS score
  FROM st LEFT JOIN so USING (query_id, doc_id)
  LEFT JOIN su USING (query_id, doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM tot
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _phrase_sql() -> str:
    return f"""
WITH {_tok_cte()},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               unnest(generate_series(0, len(tokens)-1)) AS pos
        FROM toks),
slots AS (SELECT * FROM (VALUES {_phrase_slots_values()}) v(query_id, slot, term)),
ns AS (SELECT query_id, max(slot)+1 AS n_slots FROM slots GROUP BY 1),
starts AS (SELECT s.query_id, p.doc_id, p.pos - s.slot AS start
           FROM pos p JOIN slots s USING (term) WHERE p.pos >= s.slot),
m AS (SELECT query_id, doc_id, start, count(*) AS n_matched
      FROM starts GROUP BY 1, 2, 3),
occ AS (SELECT m.query_id, m.doc_id, count(*)::BIGINT AS n_occ
        FROM m JOIN ns USING (query_id)
        WHERE m.n_matched = ns.n_slots GROUP BY 1, 2),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs,
                 sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl FROM dls),
dfp AS (SELECT query_id, count(*)::BIGINT AS df FROM occ GROUP BY 1),
scored AS (
  SELECT o.query_id, o.doc_id,
         ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0) *
         (o.n_occ::DOUBLE * ({K1} + 1.0) /
          (o.n_occ::DOUBLE + {K1} * (1.0 - {B} + {B} * (dls.dl::DOUBLE / s.avgdl)))) AS score
  FROM occ o JOIN dfp d USING (query_id) JOIN dls USING (doc_id) CROSS JOIN stats s
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _pp_slots_values() -> str:
    """PREFIX_PHRASES through the engine tokenizer (unstemmed): the last
    surviving slot's term IS the prefix."""
    from fulltextsearch_spark.functions.tokenizer import tokenize

    vals = []
    for qid, content in PREFIX_PHRASES:
        for slot, term in enumerate(tokenize(content, do_stem=False)):
            vals.append(f"('{qid}', {slot}, '{term}')")
    return ", ".join(vals)


def _phrase_prefix_sql() -> str:
    return f"""
WITH {_tok_cte()},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               unnest(generate_series(0, len(tokens)-1)) AS pos
        FROM toks),
slots0 AS (SELECT * FROM (VALUES {_pp_slots_values()}) v(query_id, slot, term)),
lastv AS (SELECT query_id, max(slot) AS last FROM slots0 GROUP BY 1),
ns AS (SELECT query_id, max(slot)+1 AS n_slots FROM slots0 GROUP BY 1),
vocab AS (SELECT DISTINCT term FROM tok),
exact AS (SELECT s.query_id, s.slot, s.term
          FROM slots0 s JOIN lastv l USING (query_id) WHERE s.slot < l.last),
pref AS (SELECT s.query_id, s.slot, s.term AS prefix
         FROM slots0 s JOIN lastv l USING (query_id) WHERE s.slot = l.last),
exp0 AS (SELECT p.query_id, p.slot, v.term,
                row_number() OVER (PARTITION BY p.query_id
                                   ORDER BY v.term ASC) AS rn
         FROM vocab v JOIN pref p ON starts_with(v.term, p.prefix)),
slots AS (SELECT query_id, slot, term FROM exact
          UNION ALL
          SELECT query_id, slot, term FROM exp0 WHERE rn <= {PP_MAX_EXP}),
starts AS (SELECT s.query_id, p.doc_id, p.pos - s.slot AS start
           FROM pos p JOIN slots s USING (term) WHERE p.pos >= s.slot),
m AS (SELECT query_id, doc_id, start, count(*) AS n_matched
      FROM starts GROUP BY 1, 2, 3),
occ AS (SELECT m.query_id, m.doc_id, count(*)::BIGINT AS n_occ
        FROM m JOIN ns USING (query_id)
        WHERE m.n_matched = ns.n_slots GROUP BY 1, 2),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs,
                 sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl FROM dls),
dfp AS (SELECT query_id, count(*)::BIGINT AS df FROM occ GROUP BY 1),
scored AS (
  SELECT o.query_id, o.doc_id,
         ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0) *
         (o.n_occ::DOUBLE * ({K1} + 1.0) /
          (o.n_occ::DOUBLE + {K1} * (1.0 - {B} + {B} * (dls.dl::DOUBLE / s.avgdl)))) AS score
  FROM occ o JOIN dfp d USING (query_id) JOIN dls USING (doc_id) CROSS JOIN stats s
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _mmr_sql() -> str:
    """MMR oracle: cosine top-N candidates, pairwise sims among them, then
    the k greedy steps unrolled as chained CTEs. The (1 - lam) constant is
    computed in Python and embedded via repr so both engines subtract the
    bit-identical double."""
    lam = repr(float(MMR_LAM))
    om = repr(1.0 - float(MMR_LAM))
    cos = (
        "list_sum(list_transform(list_zip({a}.embedding, {b}), "
        "p -> p[1]::DOUBLE * p[2]::DOUBLE)) "
        "/ (sqrt(list_sum(list_transform({a}.embedding, x -> x::DOUBLE * x::DOUBLE))) "
        "* sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
    )
    steps = [
        f"""step1 AS MATERIALIZED (
  SELECT vec_id, {lam} * rel - {om} * 0.0 AS score
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
),
selected1 AS MATERIALIZED (SELECT vec_id FROM step1)"""
    ]
    for i in range(2, TOPK + 1):
        steps.append(
            f"""step{i} AS MATERIALIZED (
  SELECT c.vec_id,
         {lam} * c.rel - {om} * coalesce(
           (SELECT max(p.sim) FROM pairs p, selected{i - 1} s
            WHERE p.da = c.vec_id AND p.db = s.vec_id), 0.0) AS score
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM selected{i - 1})
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
),
selected{i} AS MATERIALIZED (SELECT vec_id FROM selected{i - 1}
                UNION ALL SELECT vec_id FROM step{i})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS rank, vec_id::BIGINT AS vec_id, round(score, 4) AS score FROM step{i}"
        for i in range(1, TOPK + 1)
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS MATERIALIZED (
  SELECT e.vec_id, {cos.format(a='e', b='q.qe')} AS rel
  FROM embeddings e, q
),
cand0 AS (
  SELECT vec_id, rel,
         row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
  FROM sims
),
cand AS MATERIALIZED (SELECT vec_id, rel FROM cand0 WHERE rn <= {MMR_N}),
emb2 AS MATERIALIZED (SELECT c.vec_id, e.embedding
         FROM cand c JOIN embeddings e USING (vec_id)),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS da, b.vec_id AS db, {cos.format(a='a', b='b.embedding')} AS sim
  FROM emb2 a JOIN emb2 b ON a.vec_id <> b.vec_id
),
{','.join(steps)}
{union}
"""


def _prox_qterms_values() -> str:
    """PROX_QUERIES through the engine tokenizer, DISTINCT terms per query
    (set semantics — multiplicity is irrelevant to window cover)."""
    from fulltextsearch_spark.functions.tokenizer import tokenize

    vals = []
    for qid, content in PROX_QUERIES:
        for term in dict.fromkeys(tokenize(content, do_stem=False)):
            vals.append(f"('{qid}', '{term}')")
    return ", ".join(vals)


def _proximity_cte() -> str:
    """Shared CTE prefix: positions, query terms, cover test, proximity
    scoring, per-query ranking — used by the proximity AND snippet oracles."""
    return f"""
WITH {_tok_cte()},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               unnest(generate_series(0, len(tokens)-1)) AS pos
        FROM toks),
qt AS (SELECT * FROM (VALUES {_prox_qterms_values()}) v(query_id, term)),
nt AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
p AS (SELECT qt.query_id, pos.doc_id, pos.term, pos.pos
      FROM pos JOIN qt USING (term)),
cov AS (SELECT a.query_id, a.doc_id, a.pos AS anchor,
               count(DISTINCT b.term) AS n_covered
        FROM p a JOIN p b
          ON a.query_id = b.query_id AND a.doc_id = b.doc_id
         AND b.pos >= a.pos AND b.pos < a.pos + {PROX_WINDOW}
        GROUP BY 1, 2, 3),
occ AS (SELECT cov.query_id, cov.doc_id, count(*)::BIGINT AS n_occ
        FROM cov JOIN nt USING (query_id)
        WHERE cov.n_covered = nt.n_terms GROUP BY 1, 2),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs,
                 sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl FROM dls),
dfp AS (SELECT query_id, count(*)::BIGINT AS df FROM occ GROUP BY 1),
scored AS (
  SELECT o.query_id, o.doc_id,
         ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0) *
         (o.n_occ::DOUBLE * ({K1} + 1.0) /
          (o.n_occ::DOUBLE + {K1} * (1.0 - {B} + {B} * (dls.dl::DOUBLE / s.avgdl)))) AS score
  FROM occ o JOIN dfp d USING (query_id) JOIN dls USING (doc_id) CROSS JOIN stats s
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)"""


def _proximity_sql() -> str:
    return f"""{_proximity_cte()}
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _snippet_sql() -> str:
    """Replays best_snippets over the proximity top-k pairs: anchors are
    query-term occurrences; the best SNIP_WINDOW-token span maximizes
    (distinct terms covered, total hits, -start)."""
    return f"""{_proximity_cte()},
pairs AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {TOPK}),
pp AS (SELECT p.* FROM p JOIN pairs USING (query_id, doc_id)),
cov2 AS (SELECT a.query_id, a.doc_id, a.pos AS anchor,
                count(DISTINCT b.term) AS n_terms, count(*)::BIGINT AS n_hits
         FROM pp a JOIN pp b
           ON a.query_id = b.query_id AND a.doc_id = b.doc_id
          AND b.pos >= a.pos AND b.pos < a.pos + {SNIP_WINDOW}
         GROUP BY 1, 2, 3),
best AS (SELECT query_id, doc_id, anchor, n_terms, n_hits,
                row_number() OVER (PARTITION BY query_id, doc_id
                                   ORDER BY n_terms DESC, n_hits DESC, anchor ASC) AS rn
         FROM cov2)
SELECT query_id, doc_id::BIGINT AS doc_id, anchor::BIGINT AS snip_start,
       n_terms::BIGINT AS n_terms, n_hits::BIGINT AS n_hits
FROM best WHERE rn = 1
"""


def _lang_id_sql() -> str:
    from fulltextsearch_spark.operators.textstats import LANG_STOPWORDS

    vote_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        vote_cols.append(f"len(list_filter(ws, x -> x IN ({lst}))) AS v_{lang}")
    votes = ",\n         ".join(vote_cols)
    best = "greatest(v_en, v_de, v_es, v_fr)"
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws,
         length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS cjk
  FROM documents
),
v AS (
  SELECT doc_id, cjk,
         {votes}
  FROM t
)
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN cjk >= 0.2 THEN 'zh'
            WHEN {best} <= 0 THEN 'und'
            WHEN v_en = {best} THEN 'en'
            WHEN v_de = {best} THEN 'de'
            WHEN v_es = {best} THEN 'es'
            ELSE 'fr' END AS lang
FROM v
"""


def _curate_sql() -> str:
    from fulltextsearch_spark.operators.textstats import LANG_STOPWORDS

    vote_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        vote_cols.append(f"len(list_filter(ws, x -> x IN ({lst}))) AS v_{lang}")
    votes = ",\n         ".join(vote_cols)
    best = "greatest(v_en, v_de, v_es, v_fr)"
    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws,
         length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS cjk,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents
),
q AS (
  SELECT doc_id, canon, cjk,
         len(ws) AS n_words,
         len(list_filter(ws, x -> x IN ({en})))::DOUBLE
           / greatest(len(ws), 1) AS stop_ratio,
         length(text)::DOUBLE / greatest(len(ws), 1) AS cpw,
         {votes}
  FROM t
)
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN cjk >= 0.2 THEN 'zh'
            WHEN {best} <= 0 THEN 'und'
            WHEN v_en = {best} THEN 'en'
            WHEN v_de = {best} THEN 'de'
            WHEN v_es = {best} THEN 'es'
            ELSE 'fr' END AS lang,
       n_words::BIGINT AS n_words,
       round(stop_ratio, 4) AS stop_ratio,
       round(cpw, 4) AS chars_per_word
FROM q
WHERE doc_id = canon
  AND cjk < 0.2 AND v_en > 0 AND v_en = {best}
  AND n_words >= 30 AND stop_ratio >= 0.03 AND cpw <= 15.0
"""


_M61_SQL = "2305843009213693951"  # 2^61 - 1


def _kr_sql(expr: str) -> str:
    """DuckDB snippet: Karp-Rabin base-257 hash of ``expr`` mod 2^61-1.

    HUGEINT keeps every intermediate exact (acc < 2^61, acc*257+c < 2^70),
    matching fulltextsearch_spark.functions.hashing byte-for-byte (testdata
    text is pure ASCII, so ascii(char) == the UTF-8 byte)."""
    return (
        f"list_reduce(list_prepend(0::HUGEINT, list_transform("
        f"range(1, length({expr})+1), j -> ascii(substr({expr}, j::INT, 1))::HUGEINT)), "
        f"(acc, c) -> (acc*257 + c) % {_M61_SQL})"
    )


def _minhash_sql(src_sql: str | None = None, cross_offset: int | None = None) -> str:
    """Recompute MinHash-LSH pairs end-to-end in DuckDB: shingle hashes,
    128 permutations, 32 bands x 4 rows, bucket-size guard, est_jaccard.
    ``src_sql`` swaps the (doc_id, text) source; ``cross_offset`` keeps
    only corpus-x-benchmark pairs and rebases the benchmark id."""
    from fulltextsearch_spark.operators.dedup import _perm_params

    a, b = _perm_params(128, seed=1)
    perm_rows = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(128))
    src = src_sql or "SELECT doc_id, text FROM documents"
    if cross_offset is None:
        final = """
SELECT da::BIGINT AS doc_id_a, db::BIGINT AS doc_id_b, round(ej, 4) AS est_jaccard
FROM est WHERE ej >= 0.3
"""
    else:
        final = f"""
SELECT da::BIGINT AS corpus_doc_id, (db - {cross_offset})::BIGINT AS bench_doc_id,
       round(ej, 4) AS est_jaccard
FROM est WHERE ej >= 0.3 AND da < {cross_offset} AND db >= {cross_offset}
"""
    return f"""
WITH perms AS (SELECT * FROM (VALUES {perm_rows}) p(pid, a, b)),
src AS ({src}),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(length(text) - 8, 0) + 2), i -> substr(text, i::INT, 8)))) AS s
  FROM src
),
hs AS (SELECT doc_id, {_kr_sql('s')} AS h FROM sh),
sigs AS (
  SELECT doc_id, pid,
         min((a::HUGEINT * h + b) % {_M61_SQL})::BIGINT AS sv
  FROM hs CROSS JOIN perms GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, pid // 4 AS band, string_agg(sv::VARCHAR, ',' ORDER BY pid) AS bkey
  FROM sigs GROUP BY 1, 2
),
bsz AS (SELECT band, bkey, count(*) AS n FROM bands GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
  FROM bands x
  JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
  JOIN bsz s ON s.band = x.band AND s.bkey = x.bkey AND s.n BETWEEN 2 AND 1000
),
est AS (
  SELECT c.da, c.db,
         sum(CASE WHEN x.sv = y.sv THEN 1 ELSE 0 END)::DOUBLE / 128 AS ej
  FROM cand c
  JOIN sigs x ON x.doc_id = c.da
  JOIN sigs y ON y.doc_id = c.db AND y.pid = x.pid
  GROUP BY 1, 2
)
{final}"""


def _neardup_recall_sql() -> str:
    """Compose the exact-Jaccard and MinHash replays at threshold 0.3 and
    intersect: integer counts + two single-division ratios."""
    mh = _minhash_sql()
    return f"""
WITH mh AS ({mh}),
ex AS (
  WITH d AS (SELECT doc_id, text FROM documents),
  sh2 AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(length(text) - 7, 1) + 1), i -> substr(text, i::INT, 8)))) AS shingle
    FROM d
  ),
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
  inter AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
    FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
  SELECT ia AS doc_id_a, ib AS doc_id_b
  FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.3
),
hit AS (
  SELECT doc_id_a, doc_id_b FROM ex
  INTERSECT
  SELECT doc_id_a, doc_id_b FROM mh
),
c AS (SELECT (SELECT count(*) FROM ex)::BIGINT AS n_true,
             (SELECT count(*) FROM mh)::BIGINT AS n_cand,
             (SELECT count(*) FROM hit)::BIGINT AS n_hit)
SELECT n_true, n_cand, n_hit,
       round(CASE WHEN n_true > 0 THEN n_hit::DOUBLE / n_true ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN n_cand > 0 THEN n_hit::DOUBLE / n_cand ELSE 0.0 END, 4) AS precision
FROM c
"""


def _simhash_sql() -> str:
    """Recompute SimHash signatures in DuckDB (KR/M61 token hash through the
    seed-2 permutation), then brute-force the hamming<=3 pair scan — exact
    twin of the 4x16-band candidate generation (pigeonhole)."""
    from fulltextsearch_spark.operators.dedup import _perm_params

    a, b = _perm_params(1, seed=2)
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    x -> x <> '')) AS t
  FROM documents
),
tc AS (SELECT doc_id, t, count(*)::DOUBLE AS c FROM toks GROUP BY 1, 2),
th AS (
  SELECT t, (({int(a[0])}::HUGEINT * {_kr_sql('t')} + {int(b[0])}) % {_M61_SQL})::UBIGINT AS h
  FROM (SELECT DISTINCT t FROM tc)
),
bits AS (
  SELECT doc_id, r.i,
         sum(CASE WHEN (h >> r.i::INT) & 1 = 1 THEN c ELSE -c END) AS acc
  FROM tc JOIN th USING (t) CROSS JOIN range(0, 61) r(i)
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1
)
SELECT x.doc_id::BIGINT AS doc_id_a, y.doc_id::BIGINT AS doc_id_b,
       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
"""


def _winnow_sql() -> str:
    """Replay winnowing (k=8, window=4, rightmost-minimum tie-break) over
    KR/M61 k-gram hashes for doc_id < 100."""
    return f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id < 100),
pos0 AS (SELECT doc_id, unnest(range(1, n - 8 + 2)) AS i FROM d WHERE n >= 8),
pos AS (
  SELECT p.doc_id, p.i, {_kr_sql('substr(d.text, p.i::INT, 8)')}::BIGINT AS h
  FROM pos0 p JOIN d USING (doc_id)
),
np_ AS (SELECT doc_id, count(*) AS np FROM pos GROUP BY 1),
w AS (SELECT doc_id, unnest(range(1, greatest(np - 3, 1) + 1)) AS wstart FROM np_),
wp AS (
  SELECT w.doc_id, w.wstart, p.i, p.h
  FROM w JOIN pos p ON p.doc_id = w.doc_id AND p.i BETWEEN w.wstart AND w.wstart + 3
),
mins AS (SELECT doc_id, wstart, min(h) AS mh FROM wp GROUP BY 1, 2),
picks AS (
  SELECT wp.doc_id, max(wp.i) AS pick_i, m.mh
  FROM wp JOIN mins m ON m.doc_id = wp.doc_id AND m.wstart = wp.wstart AND wp.h = m.mh
  GROUP BY wp.doc_id, wp.wstart, m.mh
)
SELECT DISTINCT doc_id::BIGINT AS doc_id, (pick_i - 1)::BIGINT AS pos, mh AS fingerprint
FROM picks
"""


def _trigram_emit_sql(src: str, idc: str, text_expr: str) -> str:
    """DuckDB CTE block replaying the reference trigram parser over ``src``.

    Semantics (trigram_parser.cpp:10-52, trigram.hpp:19-22): whitelist runs
    split on ``[^0-9a-z$%&+@]``; a run of length L>=3 emits L-2 windows
    packed as (c0<<24)|(c1<<16)|(c2<<8)|(offset & 0xFF); a standalone 2-byte
    run emits one padded trigram (c2=0, offset 0) only when a delimiter
    follows (a 2-byte run at end-of-input emits nothing — `wi < np` is true
    exactly when the word is not the final array element, and the final
    element is non-empty only when the text ends inside a run)."""
    return f"""
{src}_parts AS (
  SELECT {idc}, regexp_split_to_array(lower({text_expr}), '[^0-9a-z$%&+@]+') AS ps FROM {src}
),
{src}_words AS (
  SELECT {idc}, unnest(ps) AS w, unnest(range(1, len(ps)+1)) AS wi, len(ps) AS np
  FROM {src}_parts
),
{src}_tri AS (
  SELECT {idc},
         ascii(substr(w, o::INT, 1))*16777216 + ascii(substr(w, (o+1)::INT, 1))*65536
           + ascii(substr(w, (o+2)::INT, 1))*256 + ((o-1) % 256) AS raw
  FROM (SELECT {idc}, w, unnest(range(1, length(w)-1)) AS o
        FROM {src}_words WHERE length(w) >= 3)
  UNION ALL
  SELECT {idc}, ascii(substr(w, 1, 1))*16777216 + ascii(substr(w, 2, 1))*65536 AS raw
  FROM {src}_words WHERE length(w) = 2 AND wi < np
)"""


def _trigram_sql() -> str:
    """Full trigram-engine oracle: parse, per-doc raw counts, offset-capped
    index keys (entry-level df), compactify threshold, uncapped lookup, and
    the BM25 * qtf / n_q accumulation with doc_count = docs consumed."""
    qvals = ", ".join(f"('{q}', '{c}')" for q, c in
                      [("t1", "dup"), ("t2", "dup value"), ("t3", "window dup table")])
    return f"""
WITH qsrc AS (SELECT * FROM (VALUES {qvals}) v(query_id, content)),
{_trigram_emit_sql('documents', 'doc_id', 'text')[1:]},
{_trigram_emit_sql('qsrc', 'query_id', 'content')[1:]},
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
         (SELECT count(*) FROM documents_tri)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
thr AS (
  SELECT n, avgdl,
         n // greatest(2, least(10, floor(n / (avgdl + 1))::BIGINT)) AS t
  FROM stats
),
dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM documents_tri GROUP BY 1),
tf AS (SELECT doc_id, raw, count(*)::BIGINT AS tf FROM documents_tri GROUP BY 1, 2),
entries AS (
  SELECT doc_id, raw, tf, (raw // 256) * 256 + least(raw % 256, 14) AS key FROM tf
),
dft AS (SELECT key, count(*)::BIGINT AS df FROM entries GROUP BY 1),
qn AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qsrc_tri GROUP BY 1),
qtf AS (SELECT query_id, raw, count(*)::BIGINT AS qtf FROM qsrc_tri GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, e.doc_id,
         sum(ln((s.n - dft.df + 0.5)/(dft.df + 0.5) + 1.0)
             * (e.tf * ({K1} + 1.0))
               / (e.tf + {K1} * (1.0 - {B} + {B} * d.dl / s.avgdl))
             * q.qtf / qn.n_q) AS score
  FROM qtf q
  JOIN entries e ON e.key = q.raw
  JOIN dft ON dft.key = e.key
  JOIN dls d ON d.doc_id = e.doc_id
  JOIN qn ON qn.query_id = q.query_id
  CROSS JOIN thr s
  WHERE dft.df <= s.t
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


_EMB_SF001 = "/root/testdata/sf0.01/embeddings.parquet"  # the driver's oracle SF


def _ann_lsh_sql() -> str:
    """Replay the multi-table hyperplane LSH in DuckDB: the seeded plane
    matrix (identical floats) rides along as VALUES; sign buckets, hamming-1
    multiprobe, candidate union, and cosine top-k are all recomputed in SQL."""
    from fulltextsearch_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 6, 16, 5)
    plane_rows = ", ".join(
        "(%d, %d, [%s])" % (t, p, ", ".join(repr(float(v)) for v in planes[t, p]))
        for t in range(16)
        for p in range(6)
    )
    return f"""
WITH planes AS (SELECT * FROM (VALUES {plane_rows}) p(tbl, plane, pv)),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
codes AS (
  SELECT vec_id, tbl,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane::INT) ELSE 0 END) AS code
  FROM (SELECT vec_id, tbl, plane,
               list_sum(list_transform(list_zip(v, pv), z -> z[1] * z[2])) AS dot
        FROM ed CROSS JOIN planes)
  GROUP BY 1, 2
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qv
  FROM ed WHERE vec_id < 3
),
qcodes AS (
  SELECT query_id, tbl,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane::INT) ELSE 0 END) AS code
  FROM (SELECT query_id, tbl, plane,
               list_sum(list_transform(list_zip(qv, pv), z -> z[1] * z[2])) AS dot
        FROM q CROSS JOIN planes)
  GROUP BY 1, 2
),
probes AS (
  SELECT query_id, tbl,
         CASE WHEN f.i < 0 THEN code ELSE xor(code, (1::BIGINT << f.i::INT)) END AS code
  FROM qcodes CROSS JOIN range(-1, 6) f(i)
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM probes p JOIN codes c ON c.tbl = p.tbl AND c.code = p.code
),
sims AS (
  SELECT c.query_id, c.vec_id,
         list_sum(list_transform(list_zip(ed.v, q.qv), z -> z[1] * z[2]))
           / sqrt(list_sum(list_transform(ed.v, y -> y*y))) AS sim
  FROM cand c JOIN ed ON ed.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim
FROM r WHERE rank <= {TOPK}
"""


def _ann_ivf_sql() -> str:
    """Replay IVF serving in DuckDB. The coarse quantizer is deterministic
    numpy k-means over the sf0.01 embeddings (same seed/sample as the Spark
    path — the driver's oracle SF), carried as VALUES; assignment, nprobe
    probing, candidate scoring, and the top-k are recomputed in SQL."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from fulltextsearch_spark.operators.similarity import _kmeans

    if not os.path.exists(_EMB_SF001):  # pragma: no cover - driver env always has it
        return "SELECT 1 WHERE false"
    tbl = pq.read_table(_EMB_SF001).sort_by("vec_id")  # canonical sample order
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cent = _kmeans(emb, 10, 10, 7)
    cent_rows = ", ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(v)) for v in cent[i]))
        for i in range(cent.shape[0])
    )
    return f"""
WITH cent AS (SELECT * FROM (VALUES {cent_rows}) c(list_id, cv)),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
dist AS (
  SELECT vec_id, list_id,
         list_sum(list_transform(list_zip(v, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM ed CROSS JOIN cent
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM dist) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qv
  FROM ed WHERE vec_id < 3
),
qdist AS (
  SELECT query_id, list_id,
         list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM q CROSS JOIN cent
),
probes AS (
  SELECT query_id, list_id FROM (
    SELECT query_id, list_id, row_number() OVER (PARTITION BY query_id ORDER BY d, list_id) AS rn
    FROM qdist) WHERE rn <= 6
),
cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (list_id)),
sims AS (
  SELECT c.query_id, c.vec_id,
         list_sum(list_transform(list_zip(ed.v, q.qv), p -> p[1] * p[2]))
           / sqrt(list_sum(list_transform(ed.v, y -> y*y))) AS sim
  FROM cand c JOIN ed ON ed.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim
FROM r WHERE rank <= {TOPK}
"""


def _ann_pq_sql() -> str:
    """Replay PQ + ADC in DuckDB: deterministic per-subspace k-means
    codebooks carried as VALUES (same bounded sample as the Spark build —
    the full sf0.01 table in vec_id order), then per-vector code assignment
    (argmin over each 16-dim subspace slice), per-query subspace dot-product
    LUTs, the reconstruction-norm denominator, and the top-k, all
    independently in SQL."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from fulltextsearch_spark.operators.similarity import _kmeans

    if not os.path.exists(_EMB_SF001):  # pragma: no cover - driver env always has it
        return "SELECT 1 WHERE false"
    tbl = pq.read_table(_EMB_SF001).sort_by("vec_id")  # canonical sample order
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    dsub = emb.shape[1] // 4
    book_rows = []
    for j in range(4):
        cent = _kmeans(np.ascontiguousarray(emb[:, j * dsub : (j + 1) * dsub]), 16, 10, 7 + j)
        for c in range(cent.shape[0]):
            book_rows.append(
                "(%d, %d, [%s])" % (j, c, ", ".join(repr(float(v)) for v in cent[c]))
            )
    books = ", ".join(book_rows)
    return f"""
WITH books AS (SELECT * FROM (VALUES {books}) b(sub, code, cv)),
subs AS (SELECT unnest(range(4)) AS sub),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
subv AS (
  SELECT vec_id, sub, list_slice(v, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS sv
  FROM ed CROSS JOIN subs
),
dist AS (
  SELECT vec_id, b.sub, b.code,
         list_sum(list_transform(list_zip(sv, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM subv s JOIN books b ON b.sub = s.sub
),
assign AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM dist) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qv
  FROM ed WHERE vec_id < 3
),
qsub AS (
  SELECT query_id, sub, list_slice(qv, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS qsv
  FROM q CROSS JOIN subs
),
lut AS (
  SELECT query_id, b.sub, b.code,
         list_sum(list_transform(list_zip(qsv, cv), p -> p[1] * p[2])) AS dt,
         list_sum(list_transform(cv, y -> y * y)) AS n2
  FROM qsub s JOIN books b ON b.sub = s.sub
),
sims AS (
  SELECT l.query_id, a.vec_id, sum(l.dt) / sqrt(sum(l.n2)) AS sim
  FROM assign a JOIN lut l ON l.sub = a.sub AND l.code = a.code
  GROUP BY 1, 2
),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim
FROM r WHERE rank <= {TOPK}
"""


_SQ_SQL = f"""
WITH ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
dims AS (SELECT unnest(range(64)) AS d),
stats AS (
  SELECT d, min(v[d + 1]) AS mn, max(v[d + 1]) AS mx
  FROM ed CROSS JOIN dims GROUP BY d
),
sc AS (SELECT d, mn, (mx - mn) / 255.0 AS s FROM stats),
recon AS (
  SELECT e.vec_id, c.d,
         c.mn + (CASE WHEN c.s = 0 THEN 0
                      ELSE least(greatest(floor((e.v[c.d + 1] - c.mn) / c.s + 0.5), 0), 255)
                 END) * c.s AS xh
  FROM ed e CROSS JOIN sc c
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qv
  FROM ed WHERE vec_id < 3
),
dots AS (
  SELECT q.query_id, r.vec_id, sum(r.xh * q.qv[r.d + 1]) AS dt
  FROM recon r CROSS JOIN q GROUP BY 1, 2
),
norms AS (SELECT vec_id, greatest(sqrt(sum(xh * xh)), 1e-30) AS nrm FROM recon GROUP BY 1),
sims AS (
  SELECT d.query_id, d.vec_id, d.dt / n.nrm AS sim
  FROM dots d JOIN norms n USING (vec_id)
),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim
FROM r WHERE rank <= {TOPK}
"""


def _ann_ivfpq_sql() -> str:
    """Replay IVF-PQ ADC in DuckDB: coarse centroids AND residual codebooks
    (both trained on the same canonical sample as the Spark build) carried
    as VALUES; SQL independently recomputes list assignment, the residual,
    per-subspace code assignment, nprobe selection, and the full ADC
    similarity with its centroid/residual cross terms."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from fulltextsearch_spark.operators.similarity import _kmeans, _sqdist_argmin

    if not os.path.exists(_EMB_SF001):  # pragma: no cover - driver env always has it
        return "SELECT 1 WHERE false"
    tbl = pq.read_table(_EMB_SF001).sort_by("vec_id")  # canonical sample order
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    dsub = emb.shape[1] // 4
    cent = _kmeans(emb, 10, 10, 7)
    resid = emb - cent[_sqdist_argmin(emb, cent)]
    cent_rows = ", ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(v)) for v in cent[i]))
        for i in range(cent.shape[0])
    )
    book_rows = []
    for j in range(4):
        bk = _kmeans(np.ascontiguousarray(resid[:, j * dsub : (j + 1) * dsub]), 16, 10, 7 + 101 + j)
        for c in range(bk.shape[0]):
            book_rows.append(
                "(%d, %d, [%s])" % (j, c, ", ".join(repr(float(v)) for v in bk[c]))
            )
    books = ", ".join(book_rows)
    return f"""
WITH cent AS (SELECT list_id, list_transform(cv, x -> x::DOUBLE) AS cv
              FROM (VALUES {cent_rows}) c(list_id, cv)),
books AS (SELECT sub, code, list_transform(bv, x -> x::DOUBLE) AS bv
          FROM (VALUES {books}) b(sub, code, bv)),
subs AS (SELECT unnest(range(4)) AS sub),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
cdist AS (
  SELECT vec_id, list_id,
         list_sum(list_transform(list_zip(v, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM ed CROSS JOIN cent
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM cdist) WHERE rn = 1
),
resid AS (
  SELECT e.vec_id, a.list_id,
         list_transform(list_zip(e.v, c.cv), p -> p[1] - p[2]) AS rv
  FROM ed e JOIN assign a USING (vec_id) JOIN cent c USING (list_id)
),
rsub AS (
  SELECT vec_id, list_id, sub,
         list_slice(rv, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS sv
  FROM resid CROSS JOIN subs
),
rdist AS (
  SELECT vec_id, b.sub, b.code,
         list_sum(list_transform(list_zip(sv, bv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM rsub s JOIN books b ON b.sub = s.sub
),
rassign AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM rdist) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qv
  FROM ed WHERE vec_id < 3
),
qcd AS (
  SELECT query_id, list_id,
         list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS qcdot,
         list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM q CROSS JOIN cent
),
probes AS (
  SELECT query_id, list_id, qcdot FROM (
    SELECT query_id, list_id, qcdot, row_number() OVER (PARTITION BY query_id ORDER BY d, list_id) AS rn
    FROM qcd) WHERE rn <= 6
),
qsub AS (
  SELECT query_id, sub, list_slice(qv, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS qsv
  FROM q CROSS JOIN subs
),
lutd AS (
  SELECT query_id, b.sub, b.code,
         list_sum(list_transform(list_zip(qsv, bv), p -> p[1] * p[2])) AS dt
  FROM qsub s JOIN books b ON b.sub = s.sub
),
csub AS (
  SELECT list_id, sub, list_slice(cv, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS csv
  FROM cent CROSS JOIN subs
),
crossd AS (
  SELECT list_id, b.sub, b.code,
         list_sum(list_transform(list_zip(csv, bv), p -> p[1] * p[2])) AS cx
  FROM csub s JOIN books b ON b.sub = s.sub
),
n2t AS (SELECT sub, code, list_sum(list_transform(bv, y -> y * y)) AS n2 FROM books),
c2t AS (SELECT list_id, list_sum(list_transform(cv, y -> y * y)) AS c2 FROM cent),
cand AS (
  SELECT p.query_id, a.vec_id, a.list_id, p.qcdot
  FROM probes p JOIN assign a USING (list_id)
),
terms AS (
  SELECT c.query_id, c.vec_id, c.list_id, any_value(c.qcdot) AS qcdot,
         sum(l.dt) AS sdt, sum(x.cx) AS scx, sum(n.n2) AS sn2
  FROM cand c
  JOIN rassign ra ON ra.vec_id = c.vec_id
  JOIN lutd l ON l.query_id = c.query_id AND l.sub = ra.sub AND l.code = ra.code
  JOIN crossd x ON x.list_id = c.list_id AND x.sub = ra.sub AND x.code = ra.code
  JOIN n2t n ON n.sub = ra.sub AND n.code = ra.code
  GROUP BY 1, 2, 3
),
sims AS (
  SELECT t.query_id, t.vec_id,
         (t.qcdot + t.sdt) / sqrt(c2t.c2 + 2 * t.scx + t.sn2) AS sim
  FROM terms t JOIN c2t ON c2t.list_id = t.list_id
),
r AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim
FROM r WHERE rank <= {TOPK}
"""


def _ann_knn_join_sql() -> str:
    """kNN-join oracle: same deterministic centroids as the Spark build
    (VALUES); assignment, per-vector nprobe probe selection, the
    probe-list candidate join (self excluded), cosine, and the per-vector
    rank all replayed in SQL."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from fulltextsearch_spark.operators.similarity import _kmeans

    if not os.path.exists(_EMB_SF001):  # pragma: no cover - driver env always has it
        return "SELECT 1 WHERE false"
    tbl = pq.read_table(_EMB_SF001).sort_by("vec_id")  # canonical sample order
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cent = _kmeans(emb, 10, 10, 7)
    cent_rows = ", ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(v)) for v in cent[i]))
        for i in range(cent.shape[0])
    )
    return f"""
WITH cent AS (SELECT list_id, list_transform(cv, x -> x::DOUBLE) AS cv
              FROM (VALUES {cent_rows}) c(list_id, cv)),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
dist AS (
  SELECT vec_id, list_id,
         list_sum(list_transform(list_zip(v, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM ed CROSS JOIN cent
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM dist) WHERE rn = 1
),
probes AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM dist) WHERE rn <= 3
),
nv AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS nvec
  FROM ed
),
cand AS (
  SELECT p.vec_id AS a, m.vec_id AS b
  FROM probes p JOIN assign m USING (list_id)
  WHERE m.vec_id <> p.vec_id
),
sims AS (
  SELECT c.a, c.b,
         list_sum(list_transform(list_zip(x.nvec, y.nvec), p -> p[1] * p[2])) AS sim
  FROM cand c JOIN nv x ON x.vec_id = c.a JOIN nv y ON y.vec_id = c.b
),
r AS (SELECT a, b, sim,
             row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rank
      FROM sims)
SELECT a::BIGINT AS vec_id, rank::BIGINT AS rank, b::BIGINT AS nb_id, round(sim, 4) AS sim
FROM r WHERE rank <= 3
"""


def _semdedup_sql() -> str:
    """Replay SemDeDup in DuckDB: deterministic numpy k-means centroids
    carried as VALUES (same seed/sample as the Spark path — at the driver's
    oracle SF the bounded sample is the full 500-row table in vec_id order),
    then nearest-centroid assignment, the within-cluster a.vec_id < b.vec_id
    cosine test, and the keep flag recomputed independently in SQL."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from fulltextsearch_spark.operators.similarity import _kmeans

    if not os.path.exists(_EMB_SF001):  # pragma: no cover - driver env always has it
        return "SELECT 1 WHERE false"
    tbl = pq.read_table(_EMB_SF001).sort_by("vec_id")  # canonical sample order
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cent = _kmeans(emb, 16, 10, 7)
    cent_rows = ", ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(v)) for v in cent[i]))
        for i in range(cent.shape[0])
    )
    return f"""
WITH cent AS (SELECT * FROM (VALUES {cent_rows}) c(list_id, cv)),
ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
dist AS (
  SELECT vec_id, list_id,
         list_sum(list_transform(list_zip(v, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM ed CROSS JOIN cent
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM dist) WHERE rn = 1
),
pts AS (
  SELECT a.vec_id, a.list_id,
         list_transform(ed.v, x -> x / sqrt(list_sum(list_transform(ed.v, y -> y*y)))) AS nv
  FROM assign a JOIN ed USING (vec_id)
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM pts a JOIN pts b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.nv, b.nv), p -> p[1] * p[2])) > 0.3
)
SELECT p.vec_id::BIGINT AS vec_id, p.list_id::BIGINT AS list_id,
       (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept
FROM pts p LEFT JOIN dups d USING (vec_id)
"""


# shared gaps-and-islands session CTEs (30-min gap, (ts, event_id) order) —
# used by BOTH the batch event_sessions and streaming_sessions oracles so
# the two can never drift apart
_SESSIONS_CTE_SQL = """
p AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                OR date_diff('microsecond', prev_ts, ts) > 1800000000
              THEN 1 ELSE 0 END AS nw
  FROM p
),
s AS (
  SELECT user_id, ts,
         sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS sid
  FROM f
)"""


_FUNNEL_SQL = """
WITH ev AS (SELECT user_id AS u, ts AS t, event_id AS i, event_type AS e FROM events),
s1 AS (
  SELECT u, t AS t1, i AS i1 FROM (
    SELECT u, t, i, row_number() OVER (PARTITION BY u ORDER BY t, i) AS rn
    FROM ev WHERE e = 'view') WHERE rn = 1
),
s2 AS (
  SELECT u, t AS t2, i AS i2, t1 FROM (
    SELECT e.u, e.t, e.i, s.t1,
           row_number() OVER (PARTITION BY e.u ORDER BY e.t, e.i) AS rn
    FROM ev e JOIN s1 s ON s.u = e.u
    WHERE e.e = 'click' AND (e.t > s.t1 OR (e.t = s.t1 AND e.i > s.i1))
      AND e.t <= s.t1 + INTERVAL '86400 seconds') WHERE rn = 1
),
s3 AS (
  SELECT u, t AS t3, i AS i3, t1 FROM (
    SELECT e.u, e.t, e.i, s.t1,
           row_number() OVER (PARTITION BY e.u ORDER BY e.t, e.i) AS rn
    FROM ev e JOIN s2 s ON s.u = e.u
    WHERE e.e = 'purchase' AND (e.t > s.t2 OR (e.t = s.t2 AND e.i > s.i2))
      AND e.t <= s.t1 + INTERVAL '86400 seconds') WHERE rn = 1
),
s4 AS (
  SELECT u FROM (
    SELECT e.u, row_number() OVER (PARTITION BY e.u ORDER BY e.t, e.i) AS rn
    FROM ev e JOIN s3 s ON s.u = e.u
    WHERE e.e = 'signup' AND (e.t > s.t3 OR (e.t = s.t3 AND e.i > s.i3))
      AND e.t <= s.t1 + INTERVAL '86400 seconds') WHERE rn = 1
)
SELECT 1::BIGINT AS step, 'view' AS step_name, (SELECT count(*) FROM s1)::BIGINT AS n_users
UNION ALL
SELECT 2::BIGINT, 'click', (SELECT count(*) FROM s2)::BIGINT
UNION ALL
SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT
UNION ALL
SELECT 4::BIGINT, 'signup', (SELECT count(*) FROM s4)::BIGINT
"""


def _bpe_merges_sql(n_merges: int = 10) -> str:
    """BPE oracle: every merge round unrolled as CTEs. State is the word's
    symbol sequence as a padded doubled-separator string
    (`` a  b  c ``): the rewrite ``replace(' l  r ', ' lr ')`` consumes
    one space from each side of the doubled separator, so consecutive
    matches keep their anchors and the replace reproduces BPE's
    left-to-right non-overlapping rule exactly; symbol boundaries can
    never false-match because symbols contain no spaces."""
    parts = [
        "w0 AS (SELECT ' ' || array_to_string(list_append(string_split(term, ''), '_'), '  ') || ' ' AS s,"
        " count(*)::BIGINT AS cnt FROM tok GROUP BY term)"
    ]
    for i in range(n_merges):
        parts.append(
            f"""sy{i} AS (SELECT string_split(trim(s), '  ') AS syms, cnt FROM w{i}),
p{i} AS (
  SELECT l, r, sum(cnt)::BIGINT AS c FROM (
    SELECT unnest(syms[1:len(syms)-1]) AS l, unnest(syms[2:len(syms)]) AS r, cnt
    FROM sy{i} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
),
b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
w{i + 1} AS (
  SELECT replace(s, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS s, cnt
  FROM w{i} CROSS JOIN b{i} b
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT {i + 1}::BIGINT AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return f"WITH {_tok_cte()},\n" + ",\n".join(parts) + "\n" + finals


def _bpe_encoded_sql(n_merges: int = 10) -> str:
    """Encode oracle: re-learn the merge chain (same CTEs as the training
    oracle), then apply all merges per word inside a list_transform over
    each doc's ordered token list — nested doubled-separator replaces in
    rank order — and flatten in document order."""
    train = _bpe_merges_sql(n_merges)
    # reuse everything up to the final UNION: cut at the first standalone SELECT
    cte_part = train[: train.index("\nSELECT 1::BIGINT")]
    bcols = ", ".join(f"b{i}.l AS l{i}, b{i}.r AS r{i}" for i in range(n_merges))
    bfrom = ", ".join(f"b{i}" for i in range(n_merges))
    expr = "' ' || array_to_string(list_append(string_split(w, ''), '_'), '  ') || ' '"
    for i in range(n_merges):
        expr = (
            f"replace({expr}, ' ' || v.l{i} || '  ' || v.r{i} || ' ', "
            f"' ' || v.l{i} || v.r{i} || ' ')"
        )
    return f"""{cte_part},
bvals AS (SELECT {bcols} FROM {bfrom}),
enc AS (
  SELECT doc_id,
         flatten(list_transform(tokens, w -> string_split(trim({expr}), '  '))) AS flat
  FROM toks CROSS JOIN bvals v
)
SELECT doc_id::BIGINT AS doc_id,
       len(flat)::BIGINT AS n_bpe_tokens,
       array_to_string(flat, ' ') AS bpe_text
FROM enc
"""


def _phrase_suggest_sql() -> str:
    """Phrase-suggester oracle: slots from the SAME tokenizer, candidate
    generation (levenshtein + length band + popularity window + source
    token), the slot-0 x slot-1 combo join, and the add-alpha bigram /
    unigram LM scoring with the -3.0 log2-per-edit penalty all replayed
    independently in SQL."""
    from fulltextsearch_spark.functions.tokenizer import tokenize

    slot_vals = []
    for qid, phrase in _PSUGG_QS:
        ws = tokenize(phrase, do_stem=False)
        for i, w in enumerate(ws):
            slot_vals.append(f"('{qid}', {len(ws)}, {i}, '{w}')")
    slots_sql = ", ".join(slot_vals)
    return f"""
WITH {_tok_cte()},
slots AS (SELECT * FROM (VALUES {slots_sql}) s(query_id, n_slots, slot, word)),
vocab AS (SELECT term, count(*)::BIGINT AS n_occ FROM tok GROUP BY 1),
totals AS (SELECT (SELECT count(*)::DOUBLE FROM tok) AS n_tokens,
                  (SELECT count(DISTINCT term)::DOUBLE FROM tok) AS v),
big AS (
  SELECT unnest(tokens[1:len(tokens)-1]) AS w1,
         unnest(tokens[2:len(tokens)]) AS w2
  FROM toks WHERE len(tokens) >= 2
),
ctx AS (SELECT w1, count(*)::DOUBLE AS c1 FROM big GROUP BY 1),
bgc AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM big GROUP BY 1, 2),
matches AS (
  SELECT s.query_id, s.n_slots, s.slot, v.term,
         levenshtein(v.term, s.word) AS edits, v.n_occ
  FROM vocab v JOIN slots s ON abs(length(v.term) - length(s.word)) <= 1
  WHERE levenshtein(v.term, s.word) <= 1
),
orig AS (
  SELECT s.query_id, s.n_slots, s.slot, s.word AS term, 0 AS edits,
         coalesce(v.n_occ, 0) AS n_occ
  FROM slots s LEFT JOIN vocab v ON v.term = s.word
),
cand0 AS (
  SELECT query_id, n_slots, slot, term, min(edits) AS edits, max(n_occ) AS n_occ
  FROM (SELECT * FROM matches UNION ALL SELECT * FROM orig) GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT query_id, n_slots, slot, term, edits FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id, slot
                                 ORDER BY edits, n_occ DESC, term) AS rn
    FROM cand0) WHERE rn <= 3
),
single AS (
  SELECT c.query_id, c.term AS suggestion,
         log2((coalesce(v.n_occ, 0)::DOUBLE + 0.5) / (t.n_tokens + 0.5 * t.v))
           + c.edits * (-3.0) AS score
  FROM cand c LEFT JOIN vocab v ON v.term = c.term CROSS JOIN totals t
  WHERE c.n_slots = 1
),
pairs AS (
  SELECT a.query_id, a.term AS t1, b.term AS t2, (a.edits + b.edits) AS n_edits
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.slot = 0 AND b.slot = 1
  WHERE a.n_slots = 2
),
multi AS (
  SELECT p.query_id, p.t1 || ' ' || p.t2 AS suggestion,
         log2((coalesce(g.c2, 0) + 0.5) / (coalesce(x.c1, 0) + 0.5 * t.v))
           + p.n_edits * (-3.0) AS score
  FROM pairs p
  LEFT JOIN bgc g ON g.w1 = p.t1 AND g.w2 = p.t2
  LEFT JOIN ctx x ON x.w1 = p.t1
  CROSS JOIN totals t
),
allc AS (SELECT * FROM single UNION ALL SELECT * FROM multi),
r AS (SELECT query_id, suggestion, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, suggestion) AS rank
      FROM allc)
SELECT query_id, rank::BIGINT AS rank, suggestion, round(score, 4) AS score
FROM r WHERE rank <= 3
"""


def _lm_perplexity_sql() -> str:
    """Bigram-LM oracle: DuckDB zips the two shifted list slices with
    parallel unnest; smoothing/entropy arithmetic mirrors the Spark
    nesting (ppl computed from the UNROUNDED entropy, then rounded)."""
    return f"""
WITH {_tok_cte()},
big AS (
  SELECT doc_id,
         unnest(tokens[1:len(tokens)-1]) AS w1,
         unnest(tokens[2:len(tokens)]) AS w2
  FROM toks WHERE len(tokens) >= 2
),
ctx AS (SELECT w1, count(*)::DOUBLE AS c1 FROM big GROUP BY 1),
bgc AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM big GROUP BY 1, 2),
voc AS (SELECT count(DISTINCT term)::DOUBLE AS v FROM tok),
sc AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         -avg(log2((bgc.c2 + {LM_ALPHA}) / (ctx.c1 + {LM_ALPHA} * voc.v))) AS h
  FROM big b JOIN bgc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
  GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       round(coalesce(sc.h, 0.0), 4) AS cross_entropy,
       round(pow(2.0, coalesce(sc.h, 0.0)), 4) AS ppl
FROM dls d LEFT JOIN sc USING (doc_id)
"""


def _vocab_stats_sql() -> str:
    """Vocabulary-profile oracle: global row_number rank (the Spark side
    decomposes the same rank as histogram offset + in-class position)."""
    return f"""
WITH {_tok_cte()},
tfq AS (SELECT term, count(*)::BIGINT AS freq FROM tok GROUP BY 1),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank FROM tfq
)
SELECT sum(freq)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_types,
       sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
       sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END)::BIGINT AS dis,
       round(max(freq)::DOUBLE / sum(freq), 6) AS top_share,
       round(covar_pop(ln(rank::DOUBLE), ln(freq::DOUBLE))
             / var_pop(ln(rank::DOUBLE)), 4) AS zipf_slope
FROM ranked
"""


def _top_hits_sql() -> str:
    """top_hits oracle: the full BM25 candidate set re-bucketed per
    (query, lang) with an in-bucket rank window."""
    return f"""
WITH {_bm25_core_cte()},
th AS (
  SELECT s.query_id, d.lang, s.doc_id, s.score,
         row_number() OVER (PARTITION BY s.query_id, d.lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS bucket_rank
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT query_id, lang, bucket_rank::BIGINT AS bucket_rank,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM th WHERE bucket_rank <= {TOPHITS_PER_BUCKET}
"""


def _rare_terms_sql() -> str:
    return f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
nd AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM documents)
SELECT term, df FROM dft, nd WHERE df <= ceil({RARE_MAX_SHARE} * n_docs)
"""


def _span_first_sql() -> str:
    """span_first oracle: surviving-token positions (same CTE as the phrase
    oracle), pos < end per clause, virtual-term BM25."""
    vals = ", ".join(f"('{q}', '{t}', {nd})" for q, t, nd in SPAN_FIRST)
    return f"""
WITH {_tok_cte()},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               unnest(generate_series(0, len(tokens)-1)) AS pos
        FROM toks),
sp AS (SELECT * FROM (VALUES {vals}) v(query_id, term, nd)),
occ AS (SELECT s.query_id, p.doc_id, count(*)::BIGINT AS n_occ
        FROM pos p JOIN sp s USING (term) WHERE p.pos < s.nd GROUP BY 1, 2),
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs,
                 sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl FROM dls),
dfp AS (SELECT query_id, count(*)::BIGINT AS df FROM occ GROUP BY 1),
scored AS (
  SELECT o.query_id, o.doc_id,
         ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0) *
         (o.n_occ::DOUBLE * ({K1} + 1.0) /
          (o.n_occ::DOUBLE + {K1} * (1.0 - {B} + {B} * (dls.dl::DOUBLE / s.avgdl)))) AS score
  FROM occ o JOIN dfp d USING (query_id) JOIN dls USING (doc_id) CROSS JOIN stats s
),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _composite_sql() -> str:
    a0, a1 = COMPOSITE_AFTER
    return f"""
SELECT lang, source, count(*)::BIGINT AS doc_count
FROM documents
GROUP BY 1, 2
HAVING (lang > '{a0}') OR (lang = '{a0}' AND source > '{a1}')
ORDER BY lang, source
LIMIT {COMPOSITE_SIZE}
"""


def _has_child_sql() -> str:
    """has_child oracle: paragraph children (trim+filter THEN index, like
    posexplode over the filtered list), child mini-corpus BM25
    (N = child count, avgdl = avg child dl), max score per parent with the
    min_children floor."""
    return f"""
WITH lineful AS ({_LINEFUL_SQL}),
lst AS (
  SELECT doc_id AS parent_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS ls
  FROM lineful
),
child AS (
  SELECT parent_id,
         unnest(generate_series(0, len(ls)-1)) AS child_idx,
         unnest(ls) AS child_text
  FROM lst
),
ctoks AS (
  SELECT parent_id, child_idx,
         list_filter(regexp_split_to_array(lower(child_text), '{_TOKEN_SPLIT_SQL}'),
                     x -> x <> '' AND x NOT IN ({_stop_list_sql()})) AS tokens
  FROM child
),
cstats AS (SELECT count(*)::BIGINT AS n_child, avg(len(tokens))::DOUBLE AS avgdl
           FROM ctoks),
cdls AS (SELECT parent_id, child_idx, len(tokens)::BIGINT AS cdl FROM ctoks),
ctok AS (SELECT parent_id, child_idx, unnest(tokens) AS term FROM ctoks),
ctf AS (SELECT parent_id, child_idx, term, count(*)::BIGINT AS tf
        FROM ctok GROUP BY 1, 2, 3),
cdf AS (SELECT term, count(*)::BIGINT AS df FROM ctf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
cs AS (
  SELECT q.query_id, t.parent_id, t.child_idx,
         sum(q.qtf *
             ln((s.n_child - d.df + 0.5)/(d.df + 0.5) + 1.0) *
             (t.tf * ({K1} + 1.0)) /
             (t.tf + {K1} * (1.0 - {B} + {B} * c.cdl / s.avgdl))) AS child_score
  FROM qtf q
  JOIN ctf t ON t.term = q.term
  JOIN cdf d ON d.term = q.term
  JOIN cdls c ON c.parent_id = t.parent_id AND c.child_idx = t.child_idx
  CROSS JOIN cstats s
  GROUP BY 1, 2, 3
),
par AS (
  SELECT query_id, parent_id, count(*)::BIGINT AS n_children,
         max(child_score) AS score
  FROM cs GROUP BY 1, 2
  HAVING count(*) >= {HC_MIN_CHILDREN}
),
ranked AS (
  SELECT query_id, parent_id, n_children, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, parent_id ASC) AS rank
  FROM par
)
SELECT query_id, rank::BIGINT AS rank, parent_id::BIGINT AS parent_id,
       n_children, round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _dsir_sql() -> str:
    """DSIR oracle: the same md5-prefix hashed-bigram features and
    add-alpha categorical LMs; unseen buckets fall to (0+alpha)/denom —
    identical to the Spark floor constant."""
    return f"""
WITH {_tok_cte()},
big AS (
  SELECT doc_id,
         unnest(tokens[1:len(tokens)-1]) AS w1,
         unnest(tokens[2:len(tokens)]) AS w2
  FROM toks WHERE len(tokens) >= 2
),
feat AS (
  SELECT doc_id,
         (('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::UINT64
          % {DSIR_BUCKETS})::BIGINT AS feat
  FROM big
),
tfeat AS (SELECT f.feat FROM feat f JOIN documents d USING (doc_id)
          WHERE d.lang = 'en'),
tlm AS (SELECT feat, count(*)::DOUBLE AS c FROM tfeat GROUP BY 1),
tden AS (SELECT count(*)::DOUBLE + {DSIR_ALPHA} * {DSIR_BUCKETS} AS den FROM tfeat),
rlm AS (SELECT feat, count(*)::DOUBLE AS c FROM feat GROUP BY 1),
rden AS (SELECT count(*)::DOUBLE + {DSIR_ALPHA} * {DSIR_BUCKETS} AS den FROM feat),
sc AS (
  SELECT f.doc_id, count(*)::BIGINT AS n_feats,
         avg(ln((coalesce(t.c, 0) + {DSIR_ALPHA}) / td.den)
             - ln((coalesce(r.c, 0) + {DSIR_ALPHA}) / rd.den)) AS logw
  FROM feat f
  LEFT JOIN tlm t USING (feat)
  LEFT JOIN rlm r USING (feat)
  CROSS JOIN tden td CROSS JOIN rden rd
  GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(sc.n_feats, 0)::BIGINT AS n_feats,
       round(coalesce(sc.logw, 0.0), 6) AS logw
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def _matrix_stats_sql() -> str:
    return f"""
WITH {_tok_cte()},
d AS (
  SELECT doc.n_chars::DOUBLE AS n_chars, dls.dl::DOUBLE AS dl
  FROM documents doc JOIN dls USING (doc_id)
),
one AS (
  SELECT count(*)::BIGINT AS n,
         avg(n_chars) AS m_nc, avg(dl) AS m_dl,
         covar_pop(n_chars, n_chars) AS c_nn, corr(n_chars, n_chars) AS r_nn,
         covar_pop(n_chars, dl) AS c_nd, corr(n_chars, dl) AS r_nd,
         covar_pop(dl, dl) AS c_dd, corr(dl, dl) AS r_dd
  FROM d
)
SELECT 'n_chars' AS field_x, 'n_chars' AS field_y, n,
       round(m_nc, 6) AS mean_x, round(m_nc, 6) AS mean_y,
       round(c_nn, 6) AS covariance, round(r_nn, 6) AS correlation FROM one
UNION ALL
SELECT 'n_chars', 'dl', n, round(m_nc, 6), round(m_dl, 6),
       round(c_nd, 6), round(r_nd, 6) FROM one
UNION ALL
SELECT 'dl', 'dl', n, round(m_dl, 6), round(m_dl, 6),
       round(c_dd, 6), round(r_dd, 6) FROM one
"""


def _lmjm_sql() -> str:
    """Jelinek-Mercer oracle: same cf/p(t|C) statistics as the Dirichlet
    oracle, linear interpolation scoring with the Spark nesting."""
    return f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
cft AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 +
             ({1.0 - LMJM_LAM} * tf.tf / dls.dl)
             / ({LMJM_LAM} * (cft.cf / (s.avgdl * s.n_docs))))) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN cft ON cft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
"""


def _percentile_ranks_sql() -> str:
    cols = ", ".join(
        f"round(100.0 * avg(CASE WHEN n_chars <= {t} THEN 1.0 ELSE 0.0 END), 4)"
        f" AS pr_{f'{t:g}'.replace('.', '_')}"
        for t in PR_THRESHOLDS
    )
    return f"SELECT source, {cols} FROM documents GROUP BY 1"


def _adjacency_sql() -> str:
    vals = ", ".join(f"('{k}', '{t}')" for k, t in sorted(ADJ_FILTERS.items()))
    return f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
km AS (SELECT * FROM (VALUES {vals}) AS v(key, term)),
flags AS (SELECT DISTINCT tf.doc_id, km.key FROM tf JOIN km USING (term))
SELECT a.key AS key1, b.key AS key2, count(*)::BIGINT AS doc_count
FROM flags a JOIN flags b ON a.doc_id = b.doc_id AND a.key <= b.key
GROUP BY 1, 2
"""


def oracle_sql() -> dict[str, str]:
    bm25 = (
        "ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) * "
        f"(tf.tf * ({K1} + 1.0)) / (tf.tf + {K1} * (1.0 - {B} + {B} * dls.dl / s.avgdl))"
    )
    rm3_sql = f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
s1 AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {bm25}) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
    FROM s1) WHERE rn <= 5
),
fw AS (
  SELECT f.query_id, t.term, count(*)::BIGINT AS fw
  FROM tok t JOIN fb f ON f.doc_id = t.doc_id GROUP BY 1, 2
),
sel AS (
  SELECT query_id, term, fw FROM (
    SELECT query_id, term, fw,
           row_number() OVER (PARTITION BY query_id ORDER BY fw DESC, term) AS rn
    FROM fw) WHERE rn <= 10
),
tot AS (SELECT query_id, sum(fw)::DOUBLE AS tot FROM sel GROUP BY 1),
wfb AS (SELECT s.query_id, s.term, s.fw / t.tot AS wfb
        FROM sel s JOIN tot t ON t.query_id = s.query_id),
nq AS (SELECT query_id, sum(qtf) AS nq FROM qtf GROUP BY 1),
worig AS (SELECT q.query_id, q.term, q.qtf / n.nq AS wo
          FROM qtf q JOIN nq n ON n.query_id = q.query_id),
final AS (
  SELECT coalesce(o.query_id, b.query_id) AS query_id,
         coalesce(o.term, b.term) AS term,
         0.5 * coalesce(o.wo, 0) + 0.5 * coalesce(b.wfb, 0) AS w
  FROM worig o FULL OUTER JOIN wfb b ON b.query_id = o.query_id AND b.term = o.term
),
s2 AS (
  SELECT f.query_id, tf.doc_id, sum(f.w * {bm25}) AS score
  FROM final f JOIN tf ON tf.term = f.term JOIN dft ON dft.term = f.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
r2 AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM s2
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM r2 WHERE rank <= {TOPK}
"""
    clarity_sql = f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
s1 AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {bm25}) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
    FROM s1) WHERE rn <= 5
),
nfb AS (SELECT query_id, count(*)::DOUBLE AS nfb FROM fb GROUP BY 1),
ftf AS (
  SELECT t.doc_id, t.term, count(*)::DOUBLE AS tf FROM tok t
  WHERE t.doc_id IN (SELECT doc_id FROM fb) GROUP BY 1, 2
),
fdl AS (SELECT doc_id, sum(tf) AS dl FROM ftf GROUP BY 1),
pwq AS (
  SELECT f.query_id, x.term, sum(x.tf / d.dl) / max(n.nfb) AS pwq
  FROM fb f JOIN ftf x ON x.doc_id = f.doc_id
  JOIN fdl d ON d.doc_id = x.doc_id
  JOIN nfb n ON n.query_id = f.query_id
  GROUP BY 1, 2
),
coll AS (SELECT term, count(*)::DOUBLE AS cf FROM tok GROUP BY 1),
ct AS (SELECT count(*)::DOUBLE AS ct FROM tok)
SELECT p.query_id, count(*)::BIGINT AS n_fb_terms,
       round(sum(p.pwq * log2(p.pwq / (c.cf / (SELECT ct FROM ct)))), 4) AS clarity
FROM pwq p JOIN coll c ON c.term = p.term GROUP BY 1
"""
    tfidf = (
        "(tf.tf::DOUBLE / dls.dl) * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0)"
    )
    return {
        "tf_table": f"""
WITH {_tok_cte()}
SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
""",
        "doc_stats": f"""
WITH {_tok_cte()}
SELECT doc_id, dl FROM dls
""",
        "corpus_stats": f"""
WITH {_tok_cte()}
SELECT (max(doc_id)+1)::BIGINT AS n_docs,
       sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
FROM dls
""",
        "df_table": f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
""",
        "postings_summary": f"""
WITH {_tok_cte()},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, min(doc_id)::BIGINT AS first_doc,
       max(doc_id)::BIGINT AS last_doc, sum(tf)::BIGINT AS sum_tf
FROM tf GROUP BY 1
""",
        "trigram_topk": _trigram_sql(),
        "bm25_topk": _scored_sql(bm25),
        "champion_topk": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
imp AS (
  SELECT tf.term, tf.doc_id, {bm25} AS imp
  FROM tf JOIN dft ON dft.term = tf.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
),
champ AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY imp DESC, doc_id ASC) AS rn
    FROM imp) WHERE rn <= {CHAMP_M}
),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT q.query_id, c.doc_id
  FROM (SELECT DISTINCT query_id, term FROM qt) q
  JOIN champ c ON c.term = q.term
),
scored AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {bm25}) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  JOIN cand ON cand.query_id = q.query_id AND cand.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "ltr_topk": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {bm25}) AS f_bm25,
         count(*)::DOUBLE AS label
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
feats AS (
  SELECT sc.query_id, sc.doc_id, sc.f_bm25,
         dls.dl::DOUBLE / s.avgdl AS f_dlr, sc.label
  FROM scored sc JOIN dls ON dls.doc_id = sc.doc_id CROSS JOIN stats s
),
g AS (
  SELECT sum(f_bm25*f_bm25) AS s11, sum(f_bm25*f_dlr) AS s12, sum(f_bm25) AS s1,
         sum(f_dlr*f_dlr) AS s22, sum(f_dlr) AS s2, count(*)::DOUBLE AS n,
         sum(f_bm25*label) AS p, sum(f_dlr*label) AS q, sum(label) AS r
  FROM feats
),
w AS (
  SELECT ((c11*p + c12*q + c13*r) / det) AS w1,
         ((c12*p + c22*q + c23*r) / det) AS w2,
         ((c13*p + c23*q + c33*r) / det) AS w0
  FROM (
    SELECT p, q, r, c11, c12, c13, c22, c23, c33,
           a*c11 + b*c12 + c*c13 AS det
    FROM (
      SELECT p, q, r, a, b, c,
             d*f - e*e AS c11, -(b*f - e*c) AS c12, b*e - d*c AS c13,
             a*f - c*c AS c22, -(a*e - c*b) AS c23, a*d - b*b AS c33
      FROM (
        SELECT s11 + {LTR_L2} AS a, s12 AS b, s1 AS c,
               s22 + {LTR_L2} AS d, s2 AS e, n + {LTR_L2} AS f,
               p, q, r
        FROM g
      )
    )
  )
),
rescored AS (
  SELECT f.query_id, f.doc_id,
         w.w1*f.f_bm25 + w.w2*f.f_dlr + w.w0 AS score
  FROM feats f CROSS JOIN w
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM rescored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "tiered_topk": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
imp AS (
  SELECT tf.term, tf.doc_id, {bm25} AS imp
  FROM tf JOIN dft ON dft.term = tf.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
),
champ AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY imp DESC, doc_id ASC) AS rn
    FROM imp) WHERE rn <= {CHAMP_M}
),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT q.query_id, c.doc_id
  FROM (SELECT DISTINCT query_id, term FROM qt) q
  JOIN champ c ON c.term = q.term
),
full_scored AS (
  SELECT q.query_id, tf.doc_id, sum(q.qtf * {bm25}) AS score
  FROM qtf q JOIN tf ON tf.term = q.term JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
t1_scored AS (
  SELECT f.* FROM full_scored f
  JOIN cand ON cand.query_id = f.query_id AND cand.doc_id = f.doc_id
),
fill AS (
  SELECT query_id FROM t1_scored GROUP BY 1 HAVING count(*) >= {TOPK}
),
t1 AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM t1_scored WHERE query_id IN (SELECT query_id FROM fill)
),
t2 AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM full_scored WHERE query_id NOT IN (SELECT query_id FROM fill)
),
unioned AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM unioned WHERE rank <= {TOPK}
""",
        "rm3_topk": rm3_sql,
        "clarity": clarity_sql,
        "bm25_topk_wand": _scored_sql(bm25),
        "bm25_topk_serve": _scored_sql(bm25),
        "bm25_topk_pfor": _scored_sql(bm25),
        "bm25_topk_pfor_local": _scored_sql(bm25),
        "federated_topk": _scored_sql(bm25),
        "warc_parse": _WARC_SQL,
        "bm25_topk_upserted": _upserted_sql(),
        "bm25_topk_incremental": _scored_sql(bm25),
        "bm25_topk_resumable": _scored_sql(bm25),
        "bm25_topk_merged": _scored_sql(bm25),
        "bm25_topk_conj": _scored_sql(bm25, conjunctive=True, tokens=CONJ_QUERY_TOKENS),
        "wildcard_topk": _multiterm_sql(
            [(q, _wc_like_sql(p)) for q, p in WILDCARDS],
            "dd.term LIKE p.pattern ESCAPE '\\'",
            bm25,
        ),
        "regexp_topk": _multiterm_sql(
            REGEXPS, "regexp_full_match(dd.term, p.pattern)", bm25
        ),
        "regexp_tri_topk": _multiterm_sql(
            TRI_REGEXPS, "regexp_full_match(dd.term, p.pattern)", bm25
        ),
        "lmd_topk": _lmd_sql(),
        "collapse_topk": _collapse_sql(),
        "sig_terms": _sig_terms_sql(),
        "decay_topk": _decay_sql(),
        "percolate_matches": _percolate_sql(),
        "term_vectors": _term_vectors_sql(),
        "search_after_topk": _search_after_sql(),
        "rank_eval": _rank_eval_sql(),
        "bm25_sweep": _bm25_sweep_sql(),
        "dismax_topk": _dismax_sql(),
        "pii_scrub": _pii_sql(),
        "doc_keywords": _doc_keywords_sql(),
        "token_entropy": _token_entropy_sql(),
        "length_percentiles": _length_percentiles_sql(),
        "extended_stats": """
WITH base AS (
  SELECT lang, count(*)::BIGINT AS n,
         min(n_chars::DOUBLE) AS min_v, max(n_chars::DOUBLE) AS max_v,
         sum(n_chars::DOUBLE) AS sum_v, sum(n_chars::DOUBLE * n_chars::DOUBLE) AS sumsq_v
  FROM documents GROUP BY lang
)
SELECT lang, n, min_v, max_v, sum_v,
       sum_v / n AS avg_v, sumsq_v,
       greatest(sumsq_v / n - (sum_v / n) * (sum_v / n), 0.0) AS variance,
       sqrt(greatest(sumsq_v / n - (sum_v / n) * (sum_v / n), 0.0)) AS std_dev
FROM base
""",
        "length_histogram": """
WITH counts AS (
  SELECT (floor(n_chars::DOUBLE / 100) * 100)::BIGINT AS bucket, count(*)::BIGINT AS n
  FROM documents GROUP BY 1
),
rng AS (
  SELECT unnest(generate_series(min(bucket), max(bucket), 100)) AS bucket FROM counts
)
SELECT r.bucket::BIGINT AS bucket, coalesce(c.n, 0)::BIGINT AS n
FROM rng r LEFT JOIN counts c USING (bucket)
""",
        "fuzzy_topk": _fuzzy_sql(),
        "autocorrect_topk": _autocorrect_sql(),
        "boosting_topk": _boosting_sql(),
        "mix_weights": _mix_weights_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "group_split": _group_split_sql(),
        "phrase_prefix_topk": _phrase_prefix_sql(),
        "mmr_topk": _mmr_sql(),
        "bm25_topk_expanded": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf0 AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
syn AS (SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in SYNONYMS)})
        s(term, syn)),
qtf AS (
  SELECT query_id, term, sum(qtf) AS qtf FROM (
    SELECT query_id, term, qtf FROM qtf0
    UNION ALL
    SELECT q.query_id, s.syn AS term, q.qtf * {SYN_WEIGHT} FROM qtf0 q
    JOIN syn s USING (term)
  ) GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {bm25}) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "bm25_topk_filtered": _scored_sql(bm25, dl_min=FILTER_DL_MIN),
        "bm25_topk_deleted": _scored_sql(bm25, src_where="doc_id % 5 <> 0"),
        "index_stats": _index_stats_sql(),
        "pagerank_scores": _pagerank_sql(),
        "ppr_scores": _ppr_sql(),
        "hits_scores": _hits_sql(),
        "lpa_communities": _lpa_sql(),
        "score_explain": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * {bm25}) AS score
  FROM qtf q
  JOIN tf ON tf.term = q.term
  JOIN dft ON dft.term = q.term
  JOIN dls ON dls.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT q.query_id, tf.doc_id::BIGINT AS doc_id, tf.term,
       tf.tf::BIGINT AS tf, dft.df::BIGINT AS df, dls.dl::BIGINT AS dl,
       q.qtf::BIGINT AS qtf,
       round(q.qtf * {bm25}, 4) AS term_score
FROM qtf q
JOIN tf ON tf.term = q.term
JOIN dft ON dft.term = q.term
JOIN dls ON dls.doc_id = tf.doc_id
CROSS JOIN stats s
JOIN ranked r ON r.query_id = q.query_id AND r.doc_id = tf.doc_id
WHERE r.rank <= 3
""",
        "asof_click_view": """
WITH clicks AS (SELECT event_id AS click_id, user_id, ts
                FROM events WHERE event_type = 'click'),
views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
ranked AS (
  SELECT c.click_id, c.user_id, c.ts AS cts, v.event_id AS view_id, v.ts AS vts,
         row_number() OVER (PARTITION BY c.click_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM clicks c JOIN views v ON v.user_id = c.user_id AND v.ts <= c.ts
)
SELECT click_id::BIGINT AS click_id, user_id::BIGINT AS user_id,
       view_id::BIGINT AS view_id,
       date_diff('microsecond', vts, cts)::BIGINT AS gap_us
FROM ranked WHERE rn = 1
""",
        "event_sessions": f"""
WITH {_SESSIONS_CTE_SQL}
SELECT user_id::BIGINT AS user_id, sid::BIGINT AS session_id,
       count(*)::BIGINT AS n_events,
       date_diff('microsecond', min(ts), max(ts))::BIGINT AS duration_us
FROM s GROUP BY 1, 2
""",
        "campaign_attribution": """
WITH c AS (
  SELECT i AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (9*i) HOUR AS b,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (9*i + 4 + 3*(i%3)) HOUR AS e
  FROM range(12) t(i)
)
SELECT ev.event_id::BIGINT AS event_id, c.campaign_id::BIGINT AS campaign_id
FROM events ev JOIN c ON c.b <= ev.ts AND ev.ts < c.e
""",
        "date_histogram": """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*)::BIGINT AS n,
       sum(round(value*100)::BIGINT)::BIGINT AS sum_cents
FROM events GROUP BY 1, 2
""",
        "cms_term_counts": _cms_sql(),
        "hll_distinct": _hll_sql(),
        "lang_distinct": _lang_distinct_sql(),
        "similar_terms": _similar_terms_sql(),
        "corpus_drift": _corpus_drift_sql(),
        "pipeline_aggs": _PIPELINE_AGGS_SQL,
        "collocations_topk": f"""
WITH {_tok_cte()},
big AS (
  SELECT unnest(list_zip(tokens[1:len(tokens)-1], tokens[2:len(tokens)])) AS bg
  FROM toks WHERE len(tokens) >= 2
),
pairs AS (SELECT bg[1] AS w1, bg[2] AS w2 FROM big),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2),
uni AS (SELECT term AS w, count(*)::DOUBLE AS c FROM tok GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM pairs)::DOUBLE AS nb,
               (SELECT count(*) FROM tok)::DOUBLE AS nu),
scored AS (
  SELECT c12.w1, c12.w2, c12.n,
         ln((c12.n::DOUBLE * t.nu * t.nu) / (t.nb * u1.c * u2.c)) AS pmi
  FROM c12
  JOIN uni u1 ON u1.w = c12.w1
  JOIN uni u2 ON u2.w = c12.w2
  CROSS JOIN tot t
  WHERE c12.n >= 5
)
SELECT w1, w2, n, round(pmi, 4) AS pmi FROM scored
ORDER BY pmi DESC, w1, w2 LIMIT 20
""",
        "streaming_dedup": """
WITH n AS (SELECT count(*)::BIGINT AS nb FROM documents),
world AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT nb FROM n), text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS kept_doc_id
FROM world GROUP BY 1
""",
        "streaming_sessions": f"""
WITH {_SESSIONS_CTE_SQL},
agg AS (
  SELECT user_id, sid,
         epoch_us(min(ts))::BIGINT AS session_start_us,
         epoch_us(max(ts))::BIGINT AS session_end_us,
         count(*)::BIGINT AS n_events
  FROM s GROUP BY 1, 2
),
last AS (SELECT user_id, max(sid) AS maxsid FROM agg GROUP BY 1)
SELECT a.user_id::BIGINT AS user_id, a.session_start_us, a.session_end_us,
       a.n_events
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.maxsid
""",
        "hybrid_vector_topk": _hybrid_vector_sql(bm25),
        "ann_filtered_topk": _ann_filtered_sql(),
        "hybrid_rrf_topk": f"""
WITH lex AS (SELECT * FROM ({_scored_sql(bm25)})),
pr AS (SELECT * FROM ({_pagerank_sql()})),
qids AS (SELECT DISTINCT query_id FROM lex),
auth0 AS (SELECT doc_id,
                 row_number() OVER (ORDER BY pagerank DESC, doc_id ASC) AS rank
          FROM pr),
auth AS (SELECT * FROM auth0 WHERE rank <= {TOPK}),
contrib AS (
  SELECT query_id, doc_id, 1.0/({RRF_K} + rank) AS c FROM lex
  UNION ALL
  SELECT q.query_id, a.doc_id, 1.0/({RRF_K} + a.rank) FROM qids q CROSS JOIN auth a
),
fused AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 6) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "facet_counts": f"""
WITH lex AS (SELECT * FROM ({_scored_sql(bm25)}))
SELECT l.query_id, d.lang, count(*)::BIGINT AS n_docs,
       min(l.rank)::BIGINT AS best_rank
FROM lex l JOIN documents d USING (doc_id)
GROUP BY 1, 2
""",
        "mlt_topk": _mlt_sql(),
        "autocomplete": _autocomplete_sql(),
        "trigram_topk_loaded": _trigram_sql(),
        "bm25_topk_stemmed": _scored_sql(bm25, stemmed=True),
        "tfidf_topk": _scored_sql(tfidf),
        "vsm_topk": f"""
WITH {_tok_cte()},
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM dls),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.term,
         (tf.tf::DOUBLE / dls.dl) *
         ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) AS w
  FROM tf JOIN dft USING (term) JOIN dls USING (doc_id) CROSS JOIN stats s
),
norms AS (SELECT doc_id, sqrt(sum(w*w)) AS norm FROM w GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
qw AS (
  SELECT q.query_id, q.term,
         q.qtf * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) AS qw
  FROM qtf q JOIN dft USING (term) CROSS JOIN stats s
),
qnorm AS (SELECT query_id, sqrt(sum(qw*qw)) AS qnorm FROM qw GROUP BY 1),
dots AS (
  SELECT qw.query_id, w.doc_id, sum(w.w * qw.qw) AS dot
  FROM qw JOIN w USING (term) GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.doc_id, d.dot / (n.norm * qn.qnorm) AS score
  FROM dots d JOIN norms n USING (doc_id) JOIN qnorm qn USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "rocchio_topk": f"""
WITH {_tok_cte()},
stats AS (SELECT (max(doc_id)+1)::BIGINT AS n_docs FROM dls),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.term,
         (tf.tf::DOUBLE / dls.dl) *
         ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) AS w
  FROM tf JOIN dft USING (term) JOIN dls USING (doc_id) CROSS JOIN stats s
),
norms AS (SELECT doc_id, sqrt(sum(w*w)) AS norm FROM w GROUP BY 1),
qt AS (SELECT * FROM (VALUES {_values_query_tokens()}) AS v(query_id, term)),
qtf AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qt GROUP BY 1, 2),
qw AS (
  SELECT q.query_id, q.term,
         q.qtf * ln((s.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1.0) AS qw
  FROM qtf q JOIN dft USING (term) CROSS JOIN stats s
),
qnorm1 AS (SELECT query_id, sqrt(sum(qw*qw)) AS qnorm FROM qw GROUP BY 1),
dots1 AS (
  SELECT qw.query_id, w.doc_id, sum(w.w * qw.qw) AS dot
  FROM qw JOIN w USING (term) GROUP BY 1, 2
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT d.query_id, d.doc_id,
           row_number() OVER (PARTITION BY d.query_id
               ORDER BY d.dot / (n.norm * qn.qnorm) DESC, d.doc_id ASC) AS rn
    FROM dots1 d JOIN norms n USING (doc_id) JOIN qnorm1 qn USING (query_id)
  ) WHERE rn <= {ROCCHIO_FB_DOCS}
),
nfb AS (SELECT query_id, count(*)::DOUBLE AS n_fb FROM fb GROUP BY 1),
centroid AS (
  SELECT f.query_id, w.term, sum(w.w) / max(nf.n_fb) AS cw
  FROM fb f JOIN w ON w.doc_id = f.doc_id JOIN nfb nf ON nf.query_id = f.query_id
  GROUP BY 1, 2
),
combined AS (
  SELECT coalesce(q.query_id, c.query_id) AS query_id,
         coalesce(q.term, c.term) AS term,
         {ROCCHIO_ALPHA} * coalesce(q.qw, 0.0)
         + {ROCCHIO_BETA} * coalesce(c.cw, 0.0) AS qw
  FROM qw q FULL JOIN centroid c ON q.query_id = c.query_id AND q.term = c.term
),
expanded AS (
  SELECT query_id, term, qw FROM (
    SELECT query_id, term, qw,
           row_number() OVER (PARTITION BY query_id
               ORDER BY qw DESC, term ASC) AS rn
    FROM combined
  ) WHERE rn <= {ROCCHIO_FB_TERMS}
),
qnorm2 AS (SELECT query_id, sqrt(sum(qw*qw)) AS qnorm FROM expanded GROUP BY 1),
dots2 AS (
  SELECT e.query_id, w.doc_id, sum(w.w * e.qw) AS dot
  FROM expanded e JOIN w USING (term) GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.doc_id, d.dot / (n.norm * qn.qnorm) AS score
  FROM dots2 d JOIN norms n USING (doc_id) JOIN qnorm2 qn USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOPK}
""",
        "stop_prune": f"""
WITH {_tok_cte()},
stats AS (
  SELECT (max(doc_id)+1)::BIGINT AS n_docs,
         sum(dl)::DOUBLE / (max(doc_id)+1) AS avgdl
  FROM dls
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT term, df FROM dft, stats s
WHERE df <= s.n_docs / greatest(2, least(10, (s.n_docs / (s.avgdl + 1))::BIGINT))
""",
        "exact_dedup": """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS dup_count,
       min(doc_id)::BIGINT AS keep_doc_id
FROM documents GROUP BY text
""",
        "token_count": r"""
SELECT doc_id::BIGINT AS doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n_ws_tokens
FROM documents
""",
        "quality_score": rf"""
WITH words AS (
  SELECT doc_id, n_chars, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars,
       len(ws)::BIGINT AS n_words,
       round(len(list_filter(ws, x -> x IN ({_stop_list_sql()})))::DOUBLE
             / greatest(len(ws), 1), 4) AS stop_ratio,
       round(length(text)::DOUBLE / greatest(len(ws), 1), 4) AS chars_per_word
FROM words
""",
        "lang_id": _lang_id_sql(),
        "decontam_flags": f"""
WITH {_tok_cte()},
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(tokens)-8+1),
                i -> array_to_string(tokens[i:i+7], ' ')))) AS gram
  FROM toks
),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 3),
hits AS (SELECT g.doc_id, count(*) AS n_hits FROM g JOIN bg USING (gram) GROUP BY 1)
SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
""",
        "phrase_topk": _phrase_sql(),
        "sdm_topk": _sdm_sql(),
        "proximity_topk": _proximity_sql(),
        "snippet_spans": _snippet_sql(),
        "suggest_terms": _suggest_sql(),
        "duplicate_spans": _span_sql(),
        "bm25f_topk": _bm25f_sql(),
        "anchor_bm25f_topk": _anchor_bm25f_sql(),
        "curate_corpus": _curate_sql(),
        "gopher_rules": r"""
WITH t AS (
  SELECT doc_id, replace(replace(text, ' the ', chr(10)), ' value ', '. ') AS text
  FROM documents
),
feat AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
  FROM t
),
m AS (
  SELECT doc_id,
    len(ws) AS n_words,
    coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::DOUBLE
      / greatest(len(ws), 1) AS mwl,
    len(regexp_extract_all(text, '#|\.\.\.|…'))::DOUBLE / greatest(len(ws), 1) AS sym,
    len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))::DOUBLE
      / greatest(len(ls), 1) AS bul,
    len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$')))::DOUBLE
      / greatest(len(ls), 1) AS ell,
    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
      / greatest(len(ws), 1) AS alpha,
    (list_contains(ws, 'the')::INT + list_contains(ws, 'be')::INT
     + list_contains(ws, 'to')::INT + list_contains(ws, 'of')::INT
     + list_contains(ws, 'and')::INT + list_contains(ws, 'that')::INT
     + list_contains(ws, 'have')::INT + list_contains(ws, 'with')::INT) AS nreq
  FROM feat
)
SELECT doc_id::BIGINT AS doc_id,
  n_words::BIGINT AS n_words,
  round(mwl, 4) AS mean_word_len,
  round(sym, 4) AS symbol_ratio,
  round(bul, 4) AS bullet_line_ratio,
  round(ell, 4) AS ellipsis_line_ratio,
  round(alpha, 4) AS alpha_word_ratio,
  nreq::BIGINT AS n_required_stops,
  (CASE WHEN n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
        AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3 AND alpha >= 0.8
        AND nreq >= 2 THEN 1 ELSE 0 END)::BIGINT AS passes
FROM m
""",
        "gopher_repetition": r"""
WITH t AS (
  SELECT doc_id, replace(replace(text, ' the ', chr(10)), ' value ', '. ') AS text
  FROM documents
),
base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
  FROM t
),
bstats AS (
  SELECT doc_id,
    len(ls) AS n_lines,
    len(ls) - len(list_distinct(ls)) AS n_dup_lines,
    coalesce(list_sum(list_transform(ls, l -> length(l))), 0) AS line_chars,
    length(array_to_string(ws, ' ')) AS total_chars
  FROM base
),
lc AS (
  SELECT doc_id, l, count(*) AS c
  FROM (SELECT doc_id, unnest(ls) AS l FROM base)
  GROUP BY doc_id, l
),
ldc AS (
  SELECT doc_id, sum((c - 1) * length(l)) AS dup_line_chars
  FROM lc WHERE c > 1 GROUP BY doc_id
),
ng AS (
  SELECT doc_id, ns.n AS n,
    unnest(list_transform(range(1, greatest(len(ws) - ns.n + 2, 1)),
           i -> array_to_string(ws[i:i+ns.n-1], ' '))) AS g
  FROM base, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS ns(n)
),
cnt AS (SELECT doc_id, n, g, count(*) AS c FROM ng GROUP BY doc_id, n, g),
st AS (
  SELECT doc_id, n, max(c) AS top_c,
    coalesce(sum(CASE WHEN c > 1 THEN (c - 1) * length(g) END), 0) AS dupch
  FROM cnt GROUP BY doc_id, n
),
tg AS (
  SELECT c.doc_id, c.n, min(c.g) AS top_g
  FROM cnt c JOIN st ON c.doc_id = st.doc_id AND c.n = st.n AND c.c = st.top_c
  GROUP BY c.doc_id, c.n
),
pern AS (
  SELECT st.doc_id, st.n,
    CASE WHEN st.top_c > 1 THEN st.top_c * length(tg.top_g) ELSE 0 END AS topch,
    st.dupch
  FROM st JOIN tg ON st.doc_id = tg.doc_id AND st.n = tg.n
),
piv AS (
  SELECT doc_id,
    max(CASE WHEN n = 2 THEN topch END) AS top2,
    max(CASE WHEN n = 3 THEN topch END) AS top3,
    max(CASE WHEN n = 4 THEN topch END) AS top4,
    max(CASE WHEN n = 5 THEN dupch END) AS dup5,
    max(CASE WHEN n = 6 THEN dupch END) AS dup6,
    max(CASE WHEN n = 7 THEN dupch END) AS dup7,
    max(CASE WHEN n = 8 THEN dupch END) AS dup8,
    max(CASE WHEN n = 9 THEN dupch END) AS dup9,
    max(CASE WHEN n = 10 THEN dupch END) AS dup10
  FROM pern GROUP BY doc_id
),
m AS (
  SELECT b.doc_id, b.n_lines,
    b.n_dup_lines::DOUBLE / greatest(b.n_lines, 1) AS dlf,
    coalesce(ldc.dup_line_chars, 0)::DOUBLE / greatest(b.line_chars, 1) AS dlcf,
    coalesce(piv.top2, 0)::DOUBLE / greatest(b.total_chars, 1) AS t2,
    coalesce(piv.top3, 0)::DOUBLE / greatest(b.total_chars, 1) AS t3,
    coalesce(piv.top4, 0)::DOUBLE / greatest(b.total_chars, 1) AS t4,
    coalesce(piv.dup5, 0)::DOUBLE / greatest(b.total_chars, 1) AS d5,
    coalesce(piv.dup6, 0)::DOUBLE / greatest(b.total_chars, 1) AS d6,
    coalesce(piv.dup7, 0)::DOUBLE / greatest(b.total_chars, 1) AS d7,
    coalesce(piv.dup8, 0)::DOUBLE / greatest(b.total_chars, 1) AS d8,
    coalesce(piv.dup9, 0)::DOUBLE / greatest(b.total_chars, 1) AS d9,
    coalesce(piv.dup10, 0)::DOUBLE / greatest(b.total_chars, 1) AS d10
  FROM bstats b LEFT JOIN ldc USING (doc_id) LEFT JOIN piv USING (doc_id)
)
SELECT doc_id::BIGINT AS doc_id, n_lines::BIGINT AS n_lines,
  round(dlf, 4) AS dup_line_frac,
  round(dlcf, 4) AS dup_line_char_frac,
  round(t2, 4) AS top_2gram_char_frac,
  round(t3, 4) AS top_3gram_char_frac,
  round(t4, 4) AS top_4gram_char_frac,
  round(d5, 4) AS dup_5gram_char_frac,
  round(d6, 4) AS dup_6gram_char_frac,
  round(d7, 4) AS dup_7gram_char_frac,
  round(d8, 4) AS dup_8gram_char_frac,
  round(d9, 4) AS dup_9gram_char_frac,
  round(d10, 4) AS dup_10gram_char_frac,
  (CASE WHEN dlf <= 0.30 AND dlcf <= 0.20 AND t2 <= 0.20 AND t3 <= 0.18
        AND t4 <= 0.16 AND d5 <= 0.15 AND d6 <= 0.14 AND d7 <= 0.13
        AND d8 <= 0.12 AND d9 <= 0.11 AND d10 <= 0.10
        THEN 1 ELSE 0 END)::BIGINT AS passes
FROM m
""",
        "c4_filters": r"""
WITH t AS (
  SELECT doc_id, replace(replace(text, ' the ', chr(10)), ' value ', '. ') AS text
  FROM documents
),
feat AS (
  SELECT doc_id, text,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
  FROM t
),
m AS (
  SELECT doc_id,
    len(ls) AS n_lines,
    len(list_filter(ls, l -> regexp_matches(l, '[.!?"'']$')
        AND len(list_filter(regexp_split_to_array(l, '\s+'), x -> x <> '')) >= 3)) AS n_kept,
    len(regexp_extract_all(text, '[.!?]')) AS n_sent,
    (lower(text) LIKE '%lorem ipsum%')::INT AS lorem,
    contains(text, '{')::INT AS brace
  FROM feat
)
SELECT doc_id::BIGINT AS doc_id, n_lines::BIGINT AS n_lines,
  n_kept::BIGINT AS n_kept_lines, n_sent::BIGINT AS n_sentences,
  lorem::BIGINT AS has_lorem, brace::BIGINT AS has_brace,
  (CASE WHEN n_kept >= 1 AND n_sent >= 5 AND lorem = 0 AND brace = 0
        THEN 1 ELSE 0 END)::BIGINT AS passes
FROM m
""",
        "boilerplate_lines": _BOIL_SQL.format(lineful=_LINEFUL_SQL),
        "paragraph_dedup": r"""
WITH t AS (
  SELECT doc_id, replace(replace(text, ' the ', chr(10)), ' value ', '. ') AS text
  FROM documents
),
l AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS paras
  FROM t
),
p AS (
  SELECT doc_id, unnest(range(1, len(paras) + 1)) AS para_idx, unnest(paras) AS para
  FROM l
),
r AS (
  SELECT doc_id,
    (row_number() OVER (PARTITION BY lower(para) ORDER BY doc_id, para_idx) > 1)::INT AS is_dup
  FROM p
)
SELECT d.doc_id::BIGINT AS doc_id,
  count(r.is_dup)::BIGINT AS n_paras,
  coalesce(sum(r.is_dup), 0)::BIGINT AS n_dup_paras,
  round(coalesce(sum(r.is_dup), 0)::DOUBLE / greatest(count(r.is_dup), 1), 4) AS dup_ratio
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
GROUP BY d.doc_id
""",
        "url_dedup": r"""
WITH p AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents
),
parts AS (
  SELECT doc_id, v, g,
    CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END AS port,
    CASE WHEN g % 9 = 2 THEN '10.' || (g % 5) || '.0.1'
         WHEN g % 9 = 3 THEN 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) || '.'
         ELSE 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) END AS host,
    '/docs/item' || (g % 41) AS path,
    CASE WHEN g % 3 = 0 THEN '&page=2' ELSE '' END AS extra
  FROM p
),
urls0 AS (
  SELECT doc_id,
    CASE WHEN v = 0 AND g % 10 = 0
      THEN host || path || '?a=1&b=2'
      WHEN v = 0
      THEN scheme || '://' || host || path || '?a=1&b=2'
      ELSE upper(scheme) || '://' || upper(host) || port || path ||
           (CASE WHEN g % 9 = 0 THEN '/#sec?x=1'
                 WHEN g % 9 = 1 THEN '/?b=2&a=1&utm_source=feed&fbclid' || extra || '#sec'
                 ELSE '/?b=2&a=1&utm_source=feed&fbclid=x9' || extra || '#sec' END)
    END AS url
  FROM parts
),
urls AS (
  -- scheme-less URLs parse as http (implicit-scheme rule of normalize_url)
  SELECT doc_id,
    CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.\-]*://')
         THEN url ELSE 'http://' || url END AS url
  FROM urls0
),
ext AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS auth0,
    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path0,
    coalesce(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '') AS q
  FROM urls
),
n2 AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
         ELSE auth0 END AS auth,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
    coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&'), '') AS qs
  FROM ext
),
normed AS (
  SELECT doc_id,
    scheme || '://' || auth || path || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS url_norm
  FROM n2
)
SELECT doc_id::BIGINT AS doc_id, url_norm,
  (count(*) OVER (PARTITION BY url_norm))::BIGINT AS group_size,
  (CASE WHEN row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM normed ORDER BY doc_id
""",
        "domain_caps": r"""
WITH p AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v FROM documents
),
parts AS (
  SELECT doc_id, v, g,
    CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END AS port,
    CASE WHEN g % 9 = 2 THEN '10.' || (g % 5) || '.0.1'
         WHEN g % 9 = 3 THEN 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) || '.'
         ELSE 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) END AS host,
    '/docs/item' || (g % 41) AS path,
    CASE WHEN g % 3 = 0 THEN '&page=2' ELSE '' END AS extra
  FROM p
),
urls0 AS (
  SELECT doc_id,
    CASE WHEN v = 0 AND g % 10 = 0
      THEN host || path || '?a=1&b=2'
      WHEN v = 0
      THEN scheme || '://' || host || path || '?a=1&b=2'
      ELSE upper(scheme) || '://' || upper(host) || port || path ||
           (CASE WHEN g % 9 = 0 THEN '/#sec?x=1'
                 WHEN g % 9 = 1 THEN '/?b=2&a=1&utm_source=feed&fbclid' || extra || '#sec'
                 ELSE '/?b=2&a=1&utm_source=feed&fbclid=x9' || extra || '#sec' END)
    END AS url
  FROM parts
),
urls AS (
  -- scheme-less URLs parse as http (implicit-scheme rule of normalize_url)
  SELECT doc_id,
    CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.\-]*://')
         THEN url ELSE 'http://' || url END AS url
  FROM urls0
),
hosts AS (
  -- port stripped, then the trailing root-dot (registered_domain rule)
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)),
                   ':[0-9]+$', ''), '\.$', '') AS host
  FROM urls
),
doms AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
         THEN host
         WHEN regexp_matches(host, '[^.]+\.(co|com|org|net|ac|gov|edu)\.(uk|au|jp|in|br|nz|za|mx|ar|cn|id|tr)$')
              AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
         WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
         ELSE host END AS domain
  FROM hosts
)
SELECT doc_id::BIGINT AS doc_id, domain,
  (count(*) OVER (PARTITION BY domain))::BIGINT AS domain_docs,
  (row_number() OVER (PARTITION BY domain ORDER BY doc_id))::BIGINT AS rank_in_domain,
  (CASE WHEN row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 3
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM doms ORDER BY doc_id
""",
        "curate_web": r"""
WITH t AS (
  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v,
         replace(replace(replace(text, ' table ', '.' || chr(10)),
                 ' the ', chr(10)), ' value ', '. ') AS text
  FROM documents
),
parts AS (
  SELECT doc_id, v, g,
    CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END AS port,
    CASE WHEN g % 9 = 2 THEN '10.' || (g % 5) || '.0.1'
         WHEN g % 9 = 3 THEN 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) || '.'
         ELSE 'www.site' || (g % 37) || (CASE g % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                               WHEN 2 THEN '.co.uk' ELSE '.net' END) END AS host,
    '/docs/item' || (g % 41) AS path,
    CASE WHEN g % 3 = 0 THEN '&page=2' ELSE '' END AS extra
  FROM t
),
urls0 AS (
  SELECT doc_id,
    CASE WHEN v = 0 AND g % 10 = 0
      THEN host || path || '?a=1&b=2'
      WHEN v = 0
      THEN scheme || '://' || host || path || '?a=1&b=2'
      ELSE upper(scheme) || '://' || upper(host) || port || path ||
           (CASE WHEN g % 9 = 0 THEN '/#sec?x=1'
                 WHEN g % 9 = 1 THEN '/?b=2&a=1&utm_source=feed&fbclid' || extra || '#sec'
                 ELSE '/?b=2&a=1&utm_source=feed&fbclid=x9' || extra || '#sec' END)
    END AS url
  FROM parts
),
urls AS (
  -- scheme-less URLs parse as http (implicit-scheme rule of normalize_url)
  SELECT doc_id,
    CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.\-]*://')
         THEN url ELSE 'http://' || url END AS url
  FROM urls0
),
ext AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS auth0,
    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path0,
    coalesce(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '') AS q
  FROM urls
),
normed AS (
  SELECT doc_id,
    scheme || '://' ||
    (CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
          WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
          ELSE auth0 END) ||
    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
    (CASE WHEN coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&'), '') = ''
      THEN '' ELSE '?' || coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&'), '') END)
      AS url_norm,
    regexp_replace(regexp_replace(auth0, ':[0-9]+$', ''), '\.$', '') AS host
  FROM ext
),
doms AS (
  SELECT doc_id, url_norm,
    CASE WHEN regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
         THEN host
         WHEN regexp_matches(host, '[^.]+\.(co|com|org|net|ac|gov|edu)\.(uk|au|jp|in|br|nz|za|mx|ar|cn|id|tr)$')
              AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
         WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
         ELSE host END AS domain
  FROM normed
),
uflag AS (
  SELECT doc_id, domain,
    (CASE WHEN row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
          THEN 1 ELSE 0 END) AS url_keep
  FROM doms
),
ranked AS (
  SELECT doc_id, url_keep,
    (sum(url_keep) OVER (PARTITION BY domain ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING)) * url_keep AS domain_rank
  FROM uflag
),
feat AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
  FROM t
),
gq AS (
  SELECT doc_id,
    CASE WHEN len(ws) BETWEEN 50 AND 100000
      AND (coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::DOUBLE
           / greatest(len(ws), 1)) BETWEEN 3 AND 10
      AND len(regexp_extract_all(text, '#|\.\.\.|…'))::DOUBLE / greatest(len(ws), 1) <= 0.1
      AND len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))::DOUBLE
          / greatest(len(ls), 1) <= 0.9
      AND len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$')))::DOUBLE
          / greatest(len(ls), 1) <= 0.3
      AND len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
          / greatest(len(ws), 1) >= 0.8
    THEN 1 ELSE 0 END AS gopher_pass
  FROM feat
),
c4 AS (
  SELECT doc_id,
    CASE WHEN len(list_filter(ls, l -> regexp_matches(l, '[.!?"'']$')
           AND len(list_filter(regexp_split_to_array(l, '\s+'), x -> x <> '')) >= 3)) >= 1
      AND len(regexp_extract_all(text, '[.!?]')) >= 5
      AND NOT (lower(text) LIKE '%lorem ipsum%')
      AND NOT contains(text, '{')
    THEN 1 ELSE 0 END AS c4_pass
  FROM feat
),
bstats AS (
  SELECT doc_id,
    len(ls) AS n_lines,
    len(ls) - len(list_distinct(ls)) AS n_dup_lines,
    coalesce(list_sum(list_transform(ls, l -> length(l))), 0) AS line_chars,
    length(array_to_string(ws, ' ')) AS total_chars
  FROM feat
),
lc AS (
  SELECT doc_id, l, count(*) AS c
  FROM (SELECT doc_id, unnest(ls) AS l FROM feat)
  GROUP BY doc_id, l
),
ldc AS (
  SELECT doc_id, sum((c - 1) * length(l)) AS dup_line_chars
  FROM lc WHERE c > 1 GROUP BY doc_id
),
ng AS (
  SELECT doc_id, ns.n AS n,
    unnest(list_transform(range(1, greatest(len(ws) - ns.n + 2, 1)),
           i -> array_to_string(ws[i:i+ns.n-1], ' '))) AS gr
  FROM feat, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS ns(n)
),
cnt AS (SELECT doc_id, n, gr, count(*) AS c FROM ng GROUP BY doc_id, n, gr),
st AS (
  SELECT doc_id, n, max(c) AS top_c,
    coalesce(sum(CASE WHEN c > 1 THEN (c - 1) * length(gr) END), 0) AS dupch
  FROM cnt GROUP BY doc_id, n
),
tg AS (
  SELECT c.doc_id, c.n, min(c.gr) AS top_g
  FROM cnt c JOIN st ON c.doc_id = st.doc_id AND c.n = st.n AND c.c = st.top_c
  GROUP BY c.doc_id, c.n
),
pern AS (
  SELECT st.doc_id, st.n,
    CASE WHEN st.top_c > 1 THEN st.top_c * length(tg.top_g) ELSE 0 END AS topch,
    st.dupch
  FROM st JOIN tg ON st.doc_id = tg.doc_id AND st.n = tg.n
),
piv AS (
  SELECT doc_id,
    max(CASE WHEN n = 2 THEN topch END) AS top2,
    max(CASE WHEN n = 3 THEN topch END) AS top3,
    max(CASE WHEN n = 4 THEN topch END) AS top4,
    max(CASE WHEN n = 5 THEN dupch END) AS dup5,
    max(CASE WHEN n = 6 THEN dupch END) AS dup6,
    max(CASE WHEN n = 7 THEN dupch END) AS dup7,
    max(CASE WHEN n = 8 THEN dupch END) AS dup8,
    max(CASE WHEN n = 9 THEN dupch END) AS dup9,
    max(CASE WHEN n = 10 THEN dupch END) AS dup10
  FROM pern GROUP BY doc_id
),
rep AS (
  SELECT b.doc_id,
    CASE WHEN b.n_dup_lines::DOUBLE / greatest(b.n_lines, 1) <= 0.30
      AND coalesce(ldc.dup_line_chars, 0)::DOUBLE / greatest(b.line_chars, 1) <= 0.20
      AND coalesce(piv.top2, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.20
      AND coalesce(piv.top3, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.18
      AND coalesce(piv.top4, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.16
      AND coalesce(piv.dup5, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.15
      AND coalesce(piv.dup6, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.14
      AND coalesce(piv.dup7, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.13
      AND coalesce(piv.dup8, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.12
      AND coalesce(piv.dup9, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.11
      AND coalesce(piv.dup10, 0)::DOUBLE / greatest(b.total_chars, 1) <= 0.10
    THEN 1 ELSE 0 END AS repetition_pass
  FROM bstats b LEFT JOIN ldc USING (doc_id) LEFT JOIN piv USING (doc_id)
)
SELECT r.doc_id::BIGINT AS doc_id,
  r.url_keep::BIGINT AS url_keep,
  r.domain_rank::BIGINT AS domain_rank,
  (CASE WHEN r.url_keep = 1 AND r.domain_rank <= 2 THEN 1 ELSE 0 END)::BIGINT AS domain_keep,
  gq.gopher_pass::BIGINT AS gopher_pass,
  rep.repetition_pass::BIGINT AS repetition_pass,
  c4.c4_pass::BIGINT AS c4_pass,
  (CASE WHEN r.url_keep = 1 AND r.domain_rank <= 2 AND gq.gopher_pass = 1
        AND rep.repetition_pass = 1 AND c4.c4_pass = 1
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM ranked r JOIN gq USING (doc_id) JOIN rep USING (doc_id) JOIN c4 USING (doc_id)
ORDER BY doc_id
""",
        "token_count_bpe": r"""
SELECT doc_id::BIGINT AS doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))::BIGINT AS n_bpe_tokens
FROM documents
""",
        "chunk_docs": f"""
WITH {_tok_cte()},
st AS (
  SELECT doc_id, tokens,
         unnest(generate_series(0, len(tokens) - 1, 24)) AS start_tok
  FROM toks
),
win AS (
  SELECT doc_id, start_tok,
         list_slice(tokens, start_tok + 1, start_tok + 32) AS w
  FROM st
)
SELECT doc_id::BIGINT AS doc_id,
       (start_tok // 24)::BIGINT AS chunk_id,
       start_tok::BIGINT AS start_tok,
       len(w)::BIGINT AS n_tokens,
       array_to_string(w, ' ') AS chunk_text
FROM win WHERE len(w) >= 1
""",
        "packed_sequences": _PACKED_SQL.format(tok_cte=_tok_cte()),
        "packed_tokens": _PACKED_TOKENS_SQL.format(tok_cte=_tok_cte()),
        "maxp_topk": _MAXP_SQL.format(tok_cte=_tok_cte(), qtoks=_values_query_tokens()),
        "nb_quality": _NB_QUALITY_SQL.format(tok_cte=_tok_cte()),
        "extract_text": _extract_sql(),
        "ngram_jaccard": """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(length(text) - 7, 1) + 1),
      i -> substr(text, i::INT, 8)))) AS shingle
  FROM d
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia::BIGINT AS doc_id_a, ib::BIGINT AS doc_id_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = ia
JOIN sizes sb ON sb.doc_id = ib
WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.08
""",
        # transitive closure of the same pair graph: component = min
        # reachable doc_id (recursive CTE; UNION set semantics terminate)
        "neardup_collapsed": _neardup_collapsed_sql(),
        "neardup_clusters": """
WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(length(text) - 7, 1) + 1),
      i -> substr(text, i::INT, 8)))) AS shingle
  FROM d
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pr AS (
  SELECT ia AS a, ib AS b FROM inter
  JOIN sizes sa ON sa.doc_id = ia
  JOIN sizes sb ON sb.doc_id = ib
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.08
),
edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node::BIGINT AS doc_id, min(comp)::BIGINT AS component
FROM reach GROUP BY node
""",
        # canonical survivor per component (min reachable id == self), with
        # text length joined back from the corpus
        "dedup_canonical": """
WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(length(text) - 7, 1) + 1),
      i -> substr(text, i::INT, 8)))) AS shingle
  FROM d
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pr AS (
  SELECT ia AS a, ib AS b FROM inter
  JOIN sizes sa ON sa.doc_id = ia
  JOIN sizes sb ON sb.doc_id = ib
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.08
),
edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
),
labels AS (
  SELECT node, min(comp) AS component FROM reach GROUP BY node
)
SELECT d.doc_id::BIGINT AS doc_id, length(d.text)::BIGINT AS text_len
FROM d JOIN labels l ON l.node = d.doc_id AND l.component = d.doc_id
""",
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "ann_ivf_served": _ann_ivf_sql(),
        "ann_lsh_served": _ann_lsh_sql(),
        "ann_pq_topk": _ann_pq_sql(),
        "ann_ivfpq_topk": _ann_ivfpq_sql(),
        "ann_ivfpq_loaded": _ann_ivfpq_sql(),
        "ann_ivfpq_served": _ann_ivfpq_sql(),
        "ann_sq_topk": _SQ_SQL,
        "ann_knn_join": _ann_knn_join_sql(),
        "semdedup_keep": _semdedup_sql(),
        "media_metadata": """
SELECT doc_id::BIGINT AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       (CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 56 WHEN 1 THEN 0 ELSE 16 END)::BIGINT AS width,
       (CASE doc_id % 3 WHEN 0 THEN 8 + (doc_id * 7) % 56 WHEN 1 THEN 0 ELSE 16 END)::BIGINT AS height,
       (CASE doc_id % 3 WHEN 1 THEN 0 ELSE 3 END)::BIGINT AS channels,
       (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 4 + doc_id % 8 END)::BIGINT AS n_frames,
       (CASE doc_id % 3 WHEN 1 THEN 16000 ELSE 0 END)::BIGINT AS sample_rate,
       (CASE doc_id % 3
          WHEN 0 THEN (8 + doc_id % 56) * (8 + (doc_id * 7) % 56) * 3
          WHEN 1 THEN (greatest(length(text), 1) // 2) * 2
          ELSE (4 + doc_id % 8) * 16 * 16 * 3
        END)::BIGINT AS payload_bytes
FROM documents WHERE doc_id < 30
""",
        "resize_meta": """
SELECT doc_id::BIGINT AS media_id,
       12::BIGINT AS width, 9::BIGINT AS height, 3::BIGINT AS channels,
       1::BIGINT AS n_frames, (12*9*3)::BIGINT AS payload_bytes
FROM documents WHERE doc_id < 30 AND doc_id % 3 = 0
""",
        "frame_sample": """
WITH vid AS (
  SELECT doc_id, 4 + doc_id % 8 AS nf
  FROM documents WHERE doc_id < 30 AND doc_id % 3 = 2
)
SELECT doc_id::BIGINT AS media_id,
       f.fi::BIGINT AS frame_idx,
       (16 + 16*16*3)::BIGINT AS frame_bytes
FROM vid, LATERAL (SELECT unnest(range(0, nf, 2)) AS fi) f
""",
        "image_ahash": """
WITH img AS (
  SELECT doc_id, text,
         8 + doc_id % 56 AS w,
         8 + (doc_id * 7) % 56 AS h,
         greatest(length(text), 1) AS L
  FROM documents WHERE doc_id < 30 AND doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h, u.j,
         (ascii(substr(text, ((3*u.j    ) % L)::INT + 1, 1))
        + ascii(substr(text, ((3*u.j + 1) % L)::INT + 1, 1))
        + ascii(substr(text, ((3*u.j + 2) % L)::INT + 1, 1)))::BIGINT AS gr
  FROM img, LATERAL (SELECT unnest(range(0, w*h)) AS j) u
),
blks AS (
  SELECT doc_id, (((j // w) * 8) // h) * 8 + (((j % w) * 8) // w) AS blk,
         sum(gr)::BIGINT AS bsum, count(*)::BIGINT AS bc
  FROM px GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(bsum)::BIGINT AS ts, sum(bc)::BIGINT AS tp FROM blks GROUP BY 1),
bits AS (
  SELECT b.doc_id, b.blk,
         CASE WHEN b.bsum * t.tp > t.ts * b.bc THEN 1 ELSE 0 END AS bit
  FROM blks b JOIN tot t USING (doc_id)
),
nib AS (
  SELECT doc_id, blk // 4 AS g,
         sum(bit * (CASE blk % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))::INT AS v
  FROM bits GROUP BY 1, 2
)
SELECT doc_id::BIGINT AS media_id,
       string_agg(CASE WHEN v < 10 THEN chr(48 + v) ELSE chr(87 + v) END, '' ORDER BY g) AS ahash
FROM nib GROUP BY 1
""",
        "image_stats": """
WITH img AS (
  SELECT doc_id, text,
         8 + doc_id % 56 AS w,
         8 + (doc_id * 7) % 56 AS h,
         greatest(length(text), 1) AS L
  FROM documents WHERE doc_id < 30 AND doc_id % 3 = 0
),
px AS (
  SELECT doc_id,
    list_transform(range(0, w*h), j -> ascii(substr(text, ((3*j    ) % L)::INT + 1, 1))::DOUBLE) AS r,
    list_transform(range(0, w*h), j -> ascii(substr(text, ((3*j + 1) % L)::INT + 1, 1))::DOUBLE) AS g,
    list_transform(range(0, w*h), j -> ascii(substr(text, ((3*j + 2) % L)::INT + 1, 1))::DOUBLE) AS b
  FROM img
),
gr AS (
  SELECT doc_id, r, g, b,
    list_transform(range(0, len(r)), j -> (r[j::INT+1] + g[j::INT+1] + b[j::INT+1]) / 3.0) AS gray
  FROM px
)
SELECT doc_id::BIGINT AS media_id,
       round(list_avg(r), 6) AS mean_r,
       round(list_avg(g), 6) AS mean_g,
       round(list_avg(b), 6) AS mean_b,
       round(sqrt(list_avg(list_transform(gray, x -> x*x)) - list_avg(gray)^2), 6) AS std_gray
FROM gr
""",
        "audio_features": """
WITH a AS (
  SELECT doc_id, text, greatest(length(text), 1) // 2 AS ns
  FROM documents WHERE doc_id < 60 AND doc_id % 3 = 1
),
v AS (
  SELECT doc_id, ns,
    list_transform(range(0, ns), j ->
      CASE WHEN ascii(substr(text, (2*j+2)::INT, 1)) >= 128
           THEN (ascii(substr(text, (2*j+1)::INT, 1)) + 256*ascii(substr(text, (2*j+2)::INT, 1)) - 65536)::DOUBLE
           ELSE (ascii(substr(text, (2*j+1)::INT, 1)) + 256*ascii(substr(text, (2*j+2)::INT, 1)))::DOUBLE END) AS pcm
  FROM a
)
SELECT doc_id::BIGINT AS media_id,
       ns::BIGINT AS n_samples,
       round(ns / 16000.0, 6) AS duration_s,
       round(coalesce(sqrt(list_avg(list_transform(pcm, x -> x*x))), 0.0), 6) AS rms,
       (ns // 400)::BIGINT AS n_frames_energy
FROM v
""",
        "minhash_pairs": _minhash_sql(),
        "cross_contamination": _minhash_sql(
            src_sql=(
                "SELECT doc_id, text FROM documents "
                "UNION ALL "
                f"SELECT doc_id + {XCONTAM_OFFSET}, 'bmk ' || text "
                "FROM documents WHERE doc_id % 25 = 0"
            ),
            cross_offset=XCONTAM_OFFSET,
        ),
        "neardup_recall": _neardup_recall_sql(),
        "simhash_pairs": _simhash_sql(),
        "winnow_fingerprints": _winnow_sql(),
        "embedding_neardup": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
)
SELECT a.vec_id::BIGINT AS vec_id_a, b.vec_id::BIGINT AS vec_id_b,
       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / (a.n * b.n), 4) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.n * b.n) >= 0.4
""",
        "ann_cosine_topk": f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id::BIGINT AS vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                                 p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))) AS sim
  FROM embeddings e, q
),
ranked AS (
  SELECT vec_id, sim,
         row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT rank::BIGINT AS rank, vec_id, round(sim, 4) AS sim
FROM ranked WHERE rank <= {TOPK}
""",
        "ann_dim_recall": _dim_recall_sql(),
        "lm_perplexity": _lm_perplexity_sql(),
        "phrase_suggest": _phrase_suggest_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_encoded": _bpe_encoded_sql(),
        "funnel_counts": _FUNNEL_SQL,
        "cohort_retention": """
WITH ev AS (SELECT user_id AS u, date_trunc('week', ts) AS w FROM events),
first AS (SELECT u, min(w) AS w0 FROM ev GROUP BY 1)
SELECT f.w0 AS cohort_week,
       (date_diff('day', f.w0, e.w) // 7)::BIGINT AS week_offset,
       count(DISTINCT e.u)::BIGINT AS n_users
FROM ev e JOIN first f ON f.u = e.u
GROUP BY 1, 2
""",
        "vocab_stats": _vocab_stats_sql(),
        "top_hits_lang": _top_hits_sql(),
        "rare_terms": _rare_terms_sql(),
        "adjacency_matrix": _adjacency_sql(),
        "span_first_topk": _span_first_sql(),
        "msm_topk": _scored_sql(bm25, conjunctive=True, min_match=MSM,
                                tokens=CONJ_QUERY_TOKENS),
        "composite_agg": _composite_sql(),
        "has_child_topk": _has_child_sql(),
        "dsir_weights": _dsir_sql(),
        "matrix_stats": _matrix_stats_sql(),
        "percentile_ranks": _percentile_ranks_sql(),
        "lmjm_topk": _lmjm_sql(),
        "dfr_topk": _scored_sql(
            "(tf.tf * log2(1.0 + s.avgdl / dls.dl))"
            " / ((tf.tf * log2(1.0 + s.avgdl / dls.dl)) + 1.0)"
            " * log2((s.n_docs + 1.0) / (dft.df + 0.5))"
        ),
    }

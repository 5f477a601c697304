"""End-to-end rank-identity: Spark pipeline vs the pure-Python oracle
reimplementation of the reference semantics, on the synthetic webpages
corpus (FIXTURES.md §1) and the reference-style query set.
"""

from __future__ import annotations

import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.index_build import build_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages
from tests.oracle import OracleIndex

N_DOCS = 400
K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_webpages(spark, N_DOCS, seed=42, num_partitions=4)
    docs = assign_dense_doc_ids(pages, order_col="url")
    rows = docs.select("doc_id", "text").collect()
    return docs, [(r["doc_id"], r["text"]) for r in rows]


@pytest.fixture(scope="module")
def spark_results(spark, corpus):
    docs, _ = corpus
    results = {}
    for scoring, k1, b in [("bm25", 1.2, 0.75), ("bm25", 1.5, 0.75), ("tfidf", 1.2, 0.75)]:
        cfg = EngineConfig(k1=k1, b=b, k=K)
        idx = build_index(spark, docs, cfg)
        qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
        rows = search(idx, qdf, cfg, scoring=scoring).collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for v in by_q.values():
            v.sort()
        results[(scoring, k1, b)] = by_q
    return results


def test_dense_doc_ids(corpus):
    _, rows = corpus
    ids = sorted(doc_id for doc_id, _ in rows)
    assert ids == list(range(N_DOCS))


@pytest.mark.parametrize("scoring,k1,b", [("bm25", 1.2, 0.75), ("bm25", 1.5, 0.75), ("tfidf", 1.2, 0.75)])
def test_rank_identity_vs_oracle(corpus, spark_results, scoring, k1, b):
    _, doc_rows = corpus
    oracle = OracleIndex(doc_rows)
    got_all = spark_results[(scoring, k1, b)]
    checked = 0
    for qid, content in QUERY_SET:
        expected = oracle.search(content, k=K, k1=k1, b=b, scoring=scoring)
        got = got_all.get(qid, [])
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected], (
            f"{qid} ({content!r}): rank/doc mismatch\n got={got}\n exp={expected}"
        )
        for (_, _, gs), (_, _, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-12)
        checked += len(expected)
    assert checked > 30  # the query set genuinely exercises the corpus


def test_empty_and_unknown_queries(spark_results):
    by_q = spark_results[("bm25", 1.2, 0.75)]
    assert "q06" not in by_q or by_q["q06"] == []  # stop words only
    assert "q07" not in by_q or by_q["q07"] == []  # unknown term


def test_corpus_stats_reference_semantics(spark, corpus):
    # N = max(doc_id)+1 even when ids are sparse; avgdl counts missing as 0.
    docs, _ = corpus
    sparse = docs.filter("doc_id % 2 = 0 or doc_id = 399")
    idx = build_index(spark, sparse, EngineConfig())
    assert idx.n_docs == 400  # max id 399 + 1, not row count
    rows = sparse.select("doc_id", "text").collect()
    oracle = OracleIndex([(r["doc_id"], r["text"]) for r in rows])
    assert idx.n_docs == oracle.n_docs
    assert idx.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)


def test_head_term_merged_across_map_tasks_identical_results(spark, corpus):
    """Skew path: over 6 input partitions the head term's postings arrive
    as several map tasks' partial runs; the merged index must still rank
    identically to the oracle, with sorted postings and df == len."""
    docs, doc_rows = corpus
    cfg = EngineConfig(k1=1.2, b=0.75, k=K)
    idx = build_index(spark, docs.repartition(6), cfg)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    got = search(idx, qdf, cfg).collect()
    oracle = OracleIndex(doc_rows)
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, content in QUERY_SET:
        expected = oracle.search(content, k=K, k1=1.2, b=0.75)
        mine = sorted(by_q.get(qid, []))
        assert [(r, d) for r, d, _ in mine] == [(r, d) for r, d, _ in expected], qid
    # postings sortedness survives the merge
    row = idx.postings.filter("term = 'http'").collect()[0]
    doc_ids = [p["doc_id"] for p in row["postings"]]
    assert doc_ids == sorted(doc_ids)
    assert row["df"] == len(doc_ids)


def test_vsm_cosine_matches_numpy_oracle(spark, corpus):
    """VSM (the engine the reference stubs out) vs a direct numpy cosine."""
    import math
    from collections import Counter, defaultdict

    import numpy as np

    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.vsm import search_vsm

    docs, rows = corpus
    cfg = EngineConfig(k=K, stem=True)
    idx = build_index(spark, docs, cfg)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    got = {}
    for r in search_vsm(idx, qdf, cfg).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"], 9)))

    # numpy oracle
    toks = {d: tokenize(t, do_stem=True) for d, t in rows}
    n_docs = max(toks) + 1
    df = Counter()
    tf = {d: Counter(ts) for d, ts in toks.items()}
    for d, c in tf.items():
        df.update(c.keys())
    idf = {t: math.log((n_docs - v + 0.5) / (v + 0.5) + 1.0) for t, v in df.items()}
    w = {d: {t: (c / len(toks[d])) * idf[t] for t, c in cnt.items()} for d, cnt in tf.items() if toks[d]}
    norm = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}
    for qid, content in QUERY_SET:
        qtf = Counter(t for t in tokenize(content, do_stem=True) if t in df)
        qw = {t: c * idf[t] for t, c in qtf.items()}
        qn = math.sqrt(sum(x * x for x in qw.values()))
        scores = defaultdict(float)
        for d, ws in w.items():
            dot = sum(ws.get(t, 0.0) * v for t, v in qw.items())
            if dot:
                scores[d] = dot / (norm[d] * qn)
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
        want = [(i + 1, d, round(s, 9)) for i, (d, s) in enumerate(want)]
        have = sorted(got.get(qid, []))
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in want], qid
        assert all(abs(a[2] - b[2]) < 1e-6 for a, b in zip(have, want)), qid


def test_rocchio_matches_python_replay(spark, corpus):
    """Rocchio PRF vs a full Python replay of both cosine passes, the fb
    centroid, alpha/beta interpolation, and the fb_terms truncation."""
    import math
    from collections import Counter, defaultdict

    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.vsm import build_vsm, search_rocchio

    docs, rows = corpus
    cfg = EngineConfig(k=K, stem=True)
    vidx = build_vsm(build_index(spark, docs, cfg), persist=False)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    FB_D, FB_T, AL, BE = 4, 8, 1.0, 0.75
    got = {}
    for r in search_rocchio(
        vidx, qdf, docs, cfg, fb_docs=FB_D, fb_terms=FB_T, alpha=AL, beta=BE
    ).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))

    toks = {d: tokenize(t, do_stem=True) for d, t in rows}
    n_docs = max(toks) + 1
    df = Counter()
    tf = {d: Counter(ts) for d, ts in toks.items()}
    for d, c in tf.items():
        df.update(c.keys())
    idf = {t: math.log((n_docs - v + 0.5) / (v + 0.5) + 1.0) for t, v in df.items()}
    w = {
        d: {t: (c / len(toks[d])) * idf[t] for t, c in cnt.items()}
        for d, cnt in tf.items()
        if toks[d]
    }
    norm = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}

    def cosine_rank(qw, k):
        qn = math.sqrt(sum(x * x for x in qw.values()))
        scores = defaultdict(float)
        for d, ws in w.items():
            dot = sum(ws.get(t, 0.0) * v for t, v in qw.items())
            if dot:
                scores[d] = dot / (norm[d] * qn)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for qid, content in QUERY_SET:
        qtf = Counter(t for t in tokenize(content, do_stem=True) if t in df)
        qw0 = {t: c * idf[t] for t, c in qtf.items()}
        if not qw0:
            assert qid not in got, qid
            continue
        fb = [d for d, _ in cosine_rank(qw0, FB_D)]
        cent = defaultdict(float)
        for d in fb:
            for t, v in w[d].items():
                cent[t] += v / len(fb)
        comb = {
            t: AL * qw0.get(t, 0.0) + BE * cent.get(t, 0.0)
            for t in set(qw0) | set(cent)
        }
        keep = sorted(comb.items(), key=lambda kv: (-kv[1], kv[0]))[:FB_T]
        q2 = dict(keep)
        want = [(i + 1, d) for i, (d, _) in enumerate(cosine_rank(q2, K))]
        assert sorted(got.get(qid, [])) == want, qid

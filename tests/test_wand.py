"""Compressed index + block-max MaxScore/WAND: round-trip identity, safe
pruning (rank-identical to exhaustive), and that pruning actually happens.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    _encode_one,
    build_compressed_index,
    decompress_postings,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.operators.index_build import build_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import maxscore_topk, search_wand
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages
from tests.oracle import OracleIndex

K = 10
CFG = EngineConfig(k1=1.2, b=0.75, k=K, block_size=16)  # small blocks: many per term


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_webpages(spark, 400, seed=7, num_partitions=4)
    return assign_dense_doc_ids(pages, order_col="url")


@pytest.fixture(scope="module")
def cindex(spark, corpus):
    return build_compressed_index(spark, corpus, CFG)


def _result_map(rows):
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for v in by_q.values():
        v.sort()
    return by_q


def test_decompress_matches_oracle_postings(spark, corpus, cindex, tmp_path):
    """decompress_postings against an independent source: the index saved
    under every codec (varint: one batch-wide decode; pfor: per-row
    decode) loads and decodes to OracleIndex's postings, dl and df, and a
    shard_postings build's multi-row terms decode to the same postings."""
    rows = corpus.select("doc_id", "text").collect()
    oracle = OracleIndex([(r["doc_id"], r["text"]) for r in rows])
    want = {
        t: [(d, tf, oracle.dl[d]) for d, tf in sorted(p.items())]
        for t, p in oracle.postings.items()
    }

    def decoded(idx):
        got: dict[str, list] = {}
        dec = decompress_postings(idx.postings, idx.block_size, idx.codec).collect()
        for r in sorted(dec, key=lambda r: (r["term"], r["postings"][0]["doc_id"])):
            assert r["df"] == len(r["postings"])
            got.setdefault(r["term"], []).extend(
                (p["doc_id"], p["tf"], p["dl"]) for p in r["postings"]
            )
        return got, len(dec)

    for codec in ("varint", "pfor"):
        root = str(tmp_path / codec)
        save_compressed_index(cindex, root, codec=codec)
        loaded = load_compressed_index(spark, root)
        assert loaded.codec == codec
        assert decoded(loaded) == (want, len(want)), codec

    sharded = build_compressed_index(spark, corpus, replace(CFG, shard_postings=50))
    got, n_rows = decoded(sharded)
    assert got == want
    assert n_rows > len(want)  # some terms really span several rows


def test_compression_actually_compresses(cindex):
    row = cindex.postings.filter("term = 'http'").collect()[0]
    raw_bytes = row["count"] * 24  # 3 longs per posting
    enc_bytes = len(row["doc_ids_enc"]) + len(row["tfs_enc"]) + len(row["dls_enc"])
    assert enc_bytes < raw_bytes / 4
    # block metadata is consistent
    n_blocks = (row["count"] + CFG.block_size - 1) // CFG.block_size
    assert len(row["block_first_doc"]) == n_blocks
    assert len(row["block_max_tfpart"]) == n_blocks
    assert row["block_off_doc"][0] == 0
    assert list(row["block_first_doc"]) == sorted(row["block_first_doc"])


@pytest.mark.parametrize("scoring", ["bm25", "tfidf"])
def test_wand_rank_identical_to_exhaustive(spark, corpus, cindex, scoring):
    idx = build_index(spark, corpus, CFG)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    exhaustive = _result_map(search(idx, qdf, CFG, scoring=scoring).collect())
    wand = _result_map(search_wand(cindex, qdf, CFG, scoring=scoring).collect())
    assert set(wand) == set(exhaustive)
    for qid in exhaustive:
        got, exp = wand[qid], exhaustive[qid]
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp], qid
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-12)


def test_wand_k1_mismatch_rejected(spark, cindex):
    qdf = spark.createDataFrame([("q", "cat")], ["query_id", "content"])
    with pytest.raises(ValueError, match="block-max metadata"):
        search_wand(cindex, qdf, EngineConfig(k1=1.5, b=0.75, k=K))


def test_save_load_compressed(spark, cindex, tmp_path):
    root = str(tmp_path / "cidx")
    save_compressed_index(cindex, root)
    loaded = load_compressed_index(spark, root)
    assert (loaded.n_docs, loaded.block_size) == (cindex.n_docs, cindex.block_size)
    assert loaded.avgdl == pytest.approx(cindex.avgdl)
    qdf = spark.createDataFrame(QUERY_SET[:4], ["query_id", "content"])
    a = _result_map(search_wand(cindex, qdf, CFG).collect())
    b = _result_map(search_wand(loaded, qdf, CFG).collect())
    assert a == b


# --- pure-numpy kernel property tests (no Spark) ---------------------------


def _random_terms(rng, n_docs, n_terms, avgdl, k1, b, block_size):
    """Synthetic per-term postings with Zipf-ish df, incl. one head term."""
    dls = rng.integers(5, 200, size=n_docs).astype(np.int64)
    terms, truth = [], {}
    for t in range(n_terms):
        df = n_docs if t == 0 else int(rng.integers(1, max(2, n_docs // (t + 1))))
        doc_ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 8, size=df).astype(np.int64)
        enc = _encode_one(doc_ids, tfs, dls[doc_ids], block_size, k1, b, avgdl)
        qtf = int(rng.integers(1, 3))
        term = {
            "qtf": qtf,
            "df": df,
            "count": enc["count"],
            "doc_ids_enc": enc["doc_ids_enc"],
            "tfs_enc": enc["tfs_enc"],
            "dls_enc": enc["dls_enc"],
            "block_first_doc": np.asarray(enc["block_first_doc"], dtype=np.int64),
            "block_off_doc": np.asarray(enc["block_off_doc"], dtype=np.int64),
            "block_off_tf": np.asarray(enc["block_off_tf"], dtype=np.int64),
            "block_off_dl": np.asarray(enc["block_off_dl"], dtype=np.int64),
            "block_max_tfpart": np.asarray(enc["block_max_tfpart"], dtype=np.float64),
            "block_max_tfdl": np.asarray(enc["block_max_tfdl"], dtype=np.float64),
        }
        terms.append(term)
        truth[t] = (doc_ids, tfs, dls[doc_ids], qtf, df)
    return terms, truth


def _brute_topk(truth, n_docs, avgdl, k, scoring, k1, b):
    scores = np.zeros(n_docs)
    for doc_ids, tfs, dls, qtf, df in truth.values():
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        tf = tfs.astype(np.float64)
        if scoring == "bm25":
            comp = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls / avgdl))
        else:
            comp = tf / dls
        np.add.at(scores, doc_ids, qtf * idf * comp)
    hit = np.flatnonzero(scores > 0)
    order = np.lexsort((hit, -scores[hit]))[:k]
    return hit[order], scores[hit][order]


@pytest.mark.parametrize("scoring", ["bm25", "tfidf"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_maxscore_kernel_matches_bruteforce(scoring, seed):
    rng = np.random.default_rng(seed)
    n_docs, k1, b, block_size = 3000, 1.2, 0.75, 64
    avgdl = 100.0
    terms, truth = _random_terms(rng, n_docs, n_terms=6, avgdl=avgdl, k1=k1, b=b, block_size=block_size)
    stats: dict = {}
    got_docs, got_scores = maxscore_topk(
        terms, n_docs, avgdl, 10, scoring=scoring, k1=k1, b=b, block_size=block_size, stats=stats
    )
    exp_docs, exp_scores = _brute_topk(truth, n_docs, avgdl, 10, scoring, k1, b)
    assert got_docs.tolist() == exp_docs.tolist()
    np.testing.assert_allclose(got_scores, exp_scores, rtol=1e-9)
    assert stats["blocks_total"] > 0


def test_maxscore_kernel_prunes_blocks():
    """With one giant head term and several rare high-impact terms, the head
    term must be processed candidates-only with real block skipping."""
    rng = np.random.default_rng(99)
    n_docs, k1, b, block_size = 20000, 1.2, 0.75, 64
    avgdl = 100.0
    terms, truth = _random_terms(rng, n_docs, n_terms=8, avgdl=avgdl, k1=k1, b=b, block_size=block_size)
    stats: dict = {}
    got_docs, _ = maxscore_topk(
        terms, n_docs, avgdl, 10, k1=k1, b=b, block_size=block_size, stats=stats
    )
    exp_docs, _ = _brute_topk(truth, n_docs, avgdl, 10, "bm25", k1, b)
    assert got_docs.tolist() == exp_docs.tolist()
    assert stats["blocks_decoded"] < stats["blocks_total"], stats


def test_maxscore_empty_terms():
    docs, scores = maxscore_topk([], 100, 10.0, 5)
    assert docs.size == 0 and scores.size == 0


def test_query_id_type_inherited(spark, cindex):
    """The top-k output's query_id column follows the caller's type — a
    numeric id must survive the Arrow group serializer, not crash against
    a hardcoded string schema — also when Spark sends large Arrow types."""
    qs = spark.createDataFrame([(7, "cat salmon")], "query_id long, content string")
    res = search_wand(cindex, qs, CFG)
    assert res.schema["query_id"].dataType.simpleString() == "bigint"
    rows = res.collect()
    assert rows and all(r.query_id == 7 for r in rows)
    qstr = spark.createDataFrame([("q7", "cat salmon")], "query_id string, content string")
    srows = search_wand(cindex, qstr, CFG).collect()
    assert [(r.rank, r.doc_id) for r in srows] == [(r.rank, r.doc_id) for r in rows]
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(key, "true")
    try:
        assert search_wand(cindex, qstr, CFG).collect() == srows
    finally:
        spark.conf.unset(key)


def test_pfor_saved_index_queries_identically(spark, cindex, tmp_path):
    """save_compressed_index(codec="pfor") re-encodes the posting streams
    bit-packed; the loaded index must query rank- AND score-identically on
    every path (WAND, exhaustive, serving Spark path, serving in-process
    fast path), and the codec must round-trip through corpus_stats."""
    from fulltextsearch_spark.operators.serving import QueryServer

    roots = {}
    for codec in ("varint", "pfor"):
        root = str(tmp_path / f"idx_{codec}")
        save_compressed_index(cindex, root, codec=codec)
        roots[codec] = root
    iv = load_compressed_index(spark, roots["varint"])
    ip = load_compressed_index(spark, roots["pfor"])
    assert (iv.codec, ip.codec) == ("varint", "pfor")

    qdf = spark.createDataFrame(
        [(qid, q) for qid, q in QUERY_SET], ["query_id", "content"]
    )
    base = sorted(tuple(r) for r in search_wand(iv, qdf, CFG).collect())
    assert sorted(tuple(r) for r in search_wand(ip, qdf, CFG).collect()) == base
    assert (
        sorted(tuple(r) for r in search_wand(ip, qdf, CFG, prune=False).collect())
        == base
    )

    sv = QueryServer.load(spark, roots["varint"])
    sp = QueryServer.load(spark, roots["pfor"])
    assert sp.codec == "pfor"
    qs = list(QUERY_SET)[:4]
    assert sorted(tuple(r) for r in sp.search(qs, CFG).collect()) == sorted(
        tuple(r) for r in sv.search(qs, CFG).collect()
    )
    for qid, content in qs:
        assert sp.search_local([(qid, content)], CFG) == sv.search_local(
            [(qid, content)], CFG
        )


def test_codec_resaves_round_trip_to_the_build(spark, cindex, tmp_path):
    """varint -> pfor -> varint re-saves: the pfor index really holds other
    streams, and re-saving it as varint gives back the build's rows byte
    for byte (same enc cells, same block offsets), so both re-saves answer
    like the build."""
    cols = ["term", "count", "doc_ids_enc", "tfs_enc", "dls_enc",
            "block_off_doc", "block_off_tf", "block_off_dl", "block_max_tfpart"]

    def rows(idx):
        return sorted(tuple(r) for r in idx.postings.select(*cols).collect())

    save_compressed_index(cindex, str(tmp_path / "p"), codec="pfor")
    ip = load_compressed_index(spark, str(tmp_path / "p"))
    save_compressed_index(ip, str(tmp_path / "v"), codec="varint")
    iv = load_compressed_index(spark, str(tmp_path / "v"))
    assert (ip.codec, iv.codec) == ("pfor", "varint")
    build = rows(cindex)
    assert rows(iv) == build
    assert rows(ip) != build

    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    want = sorted(tuple(r) for r in search_wand(cindex, qdf, CFG).collect())
    for idx in (ip, iv):
        assert sorted(tuple(r) for r in search_wand(idx, qdf, CFG).collect()) == want


def test_wand_pruning_stats_surface(spark, cindex):
    """wand_pruning_stats returns one row per query with sane counters that
    agree with the kernel's pruning guarantees (decoded <= total, and the
    small-block index actually skips something on the canned query set)."""
    from fulltextsearch_spark.operators.wand import wand_pruning_stats

    wq = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    rows = {r["query_id"]: r for r in wand_pruning_stats(cindex, wq, CFG).collect()}
    # queries whose terms all miss the index produce no joined rows — the
    # stats frame covers exactly the queries with >=1 matching term
    assert rows
    for r in rows.values():
        assert 0 <= r["blocks_decoded"] <= r["blocks_total"]
        assert r["terms"] >= 1
    assert sum(r["blocks_decoded"] for r in rows.values()) < sum(
        r["blocks_total"] for r in rows.values()
    )


@pytest.mark.parametrize("seed", list(range(12)))
def test_maxscore_chunked_pruning_rank_identical(seed):
    """The impact-ordered chunked pruning paths (first-term desc-UB walk,
    static later-term filter, chunked candidates-only walk) are rank- and
    score-identical to the exhaustive kernel across random term mixes,
    including single-term queries and duplicate-free top-k ties."""
    rng = np.random.default_rng(1000 + seed)
    n_docs, k1, b, block_size = 5000, 1.2, 0.75, 32
    avgdl = 80.0
    n_terms = int(rng.integers(1, 6))
    terms, truth = _random_terms(
        rng, n_docs, n_terms=n_terms, avgdl=avgdl, k1=k1, b=b, block_size=block_size
    )
    for k in (1, 10, 100):
        st: dict = {}
        pd_, ps = maxscore_topk(
            terms, n_docs, avgdl, k, k1=k1, b=b, block_size=block_size, stats=st
        )
        fd, fs = maxscore_topk(
            terms, n_docs, avgdl, k, k1=k1, b=b, block_size=block_size, prune=False
        )
        assert pd_.tolist() == fd.tolist()
        np.testing.assert_allclose(ps, fs, rtol=0, atol=0)
        assert st["blocks_decoded"] <= st["blocks_total"]


def test_wand_pruning_stats_tfidf_scoring(spark, cindex):
    """The stats surface honors the scoring parameter: the tfidf counters
    match a driver-side kernel run with scoring="tfidf" over the same
    joined rows (a silent bm25 fallback would diverge whenever the tf/dl
    block bounds skip differently), and the invariants hold."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.query import query_terms
    from fulltextsearch_spark.operators.wand import (
        kernel_entries,
        wand_pruning_stats,
    )

    wq = spark.createDataFrame(QUERY_SET[:4], ["query_id", "content"])
    rows = {
        r["query_id"]: r
        for r in wand_pruning_stats(cindex, wq, CFG, scoring="tfidf").collect()
    }
    assert rows
    joined = cindex.postings.join(
        F.broadcast(query_terms(wq, stem=CFG.stem)), "term", "inner"
    ).toArrow()
    for qid in set(joined.column("query_id").to_pylist()):
        grp = joined.filter(pc.equal(joined.column("query_id"), qid))
        entries = kernel_entries(grp, cindex.codec)
        for ent, qtf in zip(entries, grp.column("qtf").to_pylist()):
            ent["qtf"] = qtf
        st: dict = {}
        maxscore_topk(
            entries,
            cindex.n_docs,
            cindex.avgdl,
            CFG.k,
            scoring="tfidf",
            k1=cindex.k1,
            b=cindex.b,
            block_size=cindex.block_size,
            stats=st,
        )
        got = rows[qid]
        assert 0 <= got["blocks_decoded"] <= got["blocks_total"]
        assert (got["blocks_total"], got["blocks_decoded"]) == (
            st["blocks_total"],
            st["blocks_decoded"],
        )


def test_kernel_entries_are_row_views_with_term_total_df():
    """The Arrow -> kernel-entry builder over a two-chunk table whose first
    chunk is sliced (offset 1) and whose sharded term 'a' has three rows
    spread apart: every entry's enc bytes and block arrays equal its row's
    values, with the kernel's dtypes, and df is the term total."""
    import pyarrow as pa

    from fulltextsearch_spark.operators.wand import kernel_entries

    enc = ("doc_ids_enc", "tfs_enc", "dls_enc")
    meta = {
        "block_first_doc": np.int64,
        "block_off_doc": np.int64,
        "block_off_tf": np.int64,
        "block_off_dl": np.int64,
        "block_max_tfpart": np.float64,
        "block_max_tfdl": np.float64,
    }
    schema = pa.schema(
        [("term", pa.string()), ("count", pa.int64())]
        + [(c, pa.binary()) for c in enc]
        + [
            (c, pa.list_(pa.int64() if dt is np.int64 else pa.float64()))
            for c, dt in meta.items()
        ]
    )
    rng = np.random.default_rng(5)
    rows = []
    for t in ["a", "b", "a", "c", "b", "a", "d"]:
        nb = int(rng.integers(1, 5))
        row = {"term": t, "count": int(rng.integers(1, 500))}
        for c in enc:
            row[c] = rng.integers(0, 256, int(rng.integers(1, 40)), dtype=np.uint8).tobytes()
        for c, dt in meta.items():
            row[c] = (
                rng.integers(0, 10**9, nb).tolist() if dt is np.int64 else rng.random(nb).tolist()
            )
        rows.append(row)
    head = pa.Table.from_pylist([rows[-1], *rows[:3]], schema=schema).slice(1)
    tbl = pa.concat_tables([head, pa.Table.from_pylist(rows[3:], schema=schema)])
    assert tbl.column("dls_enc").num_chunks == 2
    assert tbl.column("dls_enc").chunk(0).offset == 1

    totals: dict = {}
    for r in rows:
        totals[r["term"]] = totals.get(r["term"], 0) + r["count"]
    entries = kernel_entries(tbl, "pfor")
    assert len(entries) == len(rows)
    for row, ent in zip(rows, entries):
        assert "qtf" not in ent
        assert (ent["codec"], ent["count"], ent["df"]) == ("pfor", row["count"], totals[row["term"]])
        for c in enc:
            assert ent[c].dtype == np.uint8 and ent[c].tobytes() == row[c]
        for c, dt in meta.items():
            assert ent[c].dtype == dt and ent[c].tolist() == row[c]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5, 6, 7])
def test_maxscore_warm_cache_paths_bit_identical(seed):
    """The serving-node warm paths — decoded (docs, tfs, dls) arrays plus
    the cached query-independent BM25 tf component attached to the term
    dicts — must be BIT-identical to the cold compressed-stream kernel,
    pruned and exhaustive, across random term mixes. Pins the r5 dense
    membership probes, the degenerate-case shortcuts, and the tfpart
    fast path."""
    from fulltextsearch_spark.operators.wand import (
        _tf_component,
        decode_term_streams,
    )

    rng = np.random.default_rng(7000 + seed)
    n_docs, k1, b, block_size = 4000, 1.2, 0.75, 32
    avgdl = 70.0
    n_terms = int(rng.integers(1, 6))
    terms, _ = _random_terms(
        rng, n_docs, n_terms=n_terms, avgdl=avgdl, k1=k1, b=b, block_size=block_size
    )

    def _fresh(warm: bool):
        out = []
        for t in terms:
            ent = {k: v for k, v in t.items() if k not in ("idf", "w", "bub", "ub")}
            if warm:
                d_, tf_, dl_ = decode_term_streams(ent, block_size)
                ent["docs"], ent["tfs"], ent["dls"] = d_, tf_, dl_
                ent["tfpart"] = _tf_component(tf_, dl_, "bm25", k1, b, avgdl)
            out.append(ent)
        return out

    for k in (1, 10, 50):
        cold_d, cold_s = maxscore_topk(
            _fresh(False), n_docs, avgdl, k, k1=k1, b=b, block_size=block_size
        )
        warm_d, warm_s = maxscore_topk(
            _fresh(True), n_docs, avgdl, k, k1=k1, b=b, block_size=block_size
        )
        warm_fd, warm_fs = maxscore_topk(
            _fresh(True), n_docs, avgdl, k, k1=k1, b=b, block_size=block_size,
            prune=False,
        )
        assert cold_d.tolist() == warm_d.tolist() == warm_fd.tolist()
        np.testing.assert_allclose(warm_s, cold_s, rtol=0, atol=0)
        np.testing.assert_allclose(warm_fs, cold_s, rtol=0, atol=0)

"""Serving path: driver-tokenized queries + static term IN-filter over the
saved index must (a) push the filter into the parquet scan and (b) return
results rank-identical to search_wand.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    build_compressed_index,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.operators.serving import QueryServer
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve_idx"))
    docs = assign_dense_doc_ids(
        generate_webpages(spark, 400, seed=23).select("url", "text"), order_col="url"
    )
    cidx = build_compressed_index(spark, docs, CFG)
    with _several_files(spark):
        save_compressed_index(cidx, path)
    return path


@contextmanager
def _several_files(spark):
    """Save with AQE partition coalescing off, so the session's 8 range
    partitions stay 8 files and a tiny index still spans several term
    ranges (coalescing would merge them into one file)."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _row_groups(root):
    """(file, row group, term min, term max) of every postings row group,
    in file-name (= range partition) order."""
    pdir = os.path.join(root, "postings")
    out = []
    for fn in sorted(os.listdir(pdir)):
        if not fn.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(pdir, fn))
        for rg in range(pf.metadata.num_row_groups):
            col = pf.metadata.row_group(rg).column(0)
            assert col.path_in_schema == "term"
            out.append((pf, rg, col.statistics.min, col.statistics.max))
    return out


def _assert_term_clustered(root):
    ranges = [(mn, mx) for _, _, mn, mx in _row_groups(root)]
    assert len(ranges) > 1, ranges
    assert all(mn <= mx for mn, mx in ranges)
    # sorted and pairwise disjoint: each range ends before the next begins
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges


def _key(rows):
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)


def test_serving_rank_identical_to_wand(spark, index_root):
    server = QueryServer.load(spark, index_root)
    got = _key(server.search(QUERY_SET, CFG).collect())

    idx = load_compressed_index(spark, index_root)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    want = _key(search_wand(idx, qdf, CFG).collect())
    assert got == want and len(got) > 0


def test_serving_filter_pushes_to_scan(spark, index_root):
    server = QueryServer.load(spark, index_root)
    df = server.search([("q", "cat salmon fresh")], CFG)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("In(term" in l for l in pushed), plan


def test_serving_edge_queries(spark, index_root):
    server = QueryServer.load(spark, index_root)
    # stop-words-only and unknown terms -> empty results, no errors
    assert server.search([("q6", "the and of"), ("q7", "zzzunknownzzz")], CFG).count() == 0
    assert server.search([], CFG).count() == 0


def test_serving_k1_mismatch_rejected(spark, index_root):
    server = QueryServer.load(spark, index_root)
    with pytest.raises(ValueError, match="k1"):
        server.search(QUERY_SET, EngineConfig(k1=2.0, b=0.75))


def test_search_local_rank_identical(spark, index_root):
    """The in-process fast path (pyarrow footer pruning + the same MaxScore
    kernel, no Spark job) must be rank- AND score-identical to the Spark
    serving path — and to search_wand by transitivity."""
    server = QueryServer.load(spark, index_root)
    got = sorted(
        (q, r, d, round(s, 9)) for q, r, d, s in server.search_local(QUERY_SET, CFG)
    )
    want = _key(server.search(QUERY_SET, CFG).collect())
    assert got == want and len(got) > 0
    # tfidf scoring takes the same path
    got_t = sorted(
        (q, r, d, round(s, 9))
        for q, r, d, s in server.search_local(QUERY_SET, CFG, scoring="tfidf")
    )
    want_t = _key(server.search(QUERY_SET, CFG, scoring="tfidf").collect())
    assert got_t == want_t and len(got_t) > 0


def test_search_local_edge_queries(spark, index_root):
    server = QueryServer.load(spark, index_root)
    assert server.search_local([("q6", "the and of"), ("q7", "zzzunknownzzz")], CFG) == []
    assert server.search_local([], CFG) == []
    with pytest.raises(ValueError, match="k1"):
        server.search_local(QUERY_SET, EngineConfig(k1=2.0, b=0.75))


def test_search_local_latency(spark, index_root):
    """The whole point of the fast path: a warm single query completes in
    milliseconds, not a Spark job's fixed ~100 ms scheduler overhead."""
    import time

    server = QueryServer.load(spark, index_root)
    server.search_local(QUERY_SET[:1], CFG)  # warm: footer manifest + handles
    t0 = time.perf_counter()
    reps = 20
    for _ in range(reps):
        server.search_local(QUERY_SET, CFG)
    ms_per_query = 1000.0 * (time.perf_counter() - t0) / (reps * len(QUERY_SET))
    # generous bound for shared CI hosts; typical is well under 5 ms
    assert ms_per_query < 50, ms_per_query


def test_repl_script_end_to_end(spark, index_root):
    """S3: the interactive query loop (reference CommandLineIterator,
    query_iterator.cpp:34-51) over a saved index, driven via piped stdin."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "repl.py"),
         "--index", index_root, "--k", "3", "--cpus", "2"],
        input="cat salmon\nzzzunknownzzz\n!q\n",
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout.splitlines()
    # latency line for each query, then doc_id|score| rows for the first
    assert any(l.startswith("cat salmon: ") for l in out), out
    assert any(l.startswith("zzzunknownzzz: ") for l in out), out
    result_lines = [l for l in out if l.endswith("|") and "|" in l[:-1]]
    assert 1 <= len(result_lines) <= 3
    for l in result_lines:
        doc_id, score = l.rstrip("|").split("|")
        int(doc_id); float(score)


def test_fts_cli_file_mode(tmp_path):
    """The reference-flag-compatible one-shot CLI (cli.cpp:12-29,
    main.cpp:17-86): build, serve a query dir, write <scoring>_result.tbl
    into it with query|rank|doc_id|score| lines under the file-stem id."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "t1.txt").write_text("dup\ndup value\n")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "fts.py"),
         "-d", "/root/testdata/sf0.001/documents.parquet",
         "-a", "inverted", "-s", "bm25", "-n", "3",
         "-q", str(qdir), "--cpus", "2"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    tbl = qdir / "bm25_result.tbl"
    assert tbl.is_dir()
    lines = []
    for p in sorted(tbl.glob("part*")):
        lines += p.read_text().splitlines()
    assert lines, proc.stdout
    for line in lines:
        qid, rank, doc_id, score, trailing = line.split("|")
        assert qid == "t1" and trailing == ""
        int(rank); int(doc_id); float(score)


def test_search_local_decoded_cache_identical_and_bounded(spark, tmp_path):
    """Repeat batches populate the decoded-postings LRU (second sight) and
    stay rank- and score-identical to the cold path; the cache honors its
    byte budget."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 300, seed=11, num_partitions=3), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)
    srv = QueryServer.load(spark, root)
    first = srv.search_local(QUERY_SET, cfg)
    # second sight only: terms occurring once in the batch are not cached
    # yet (terms shared by several queries ARE — that is second sight too)
    once_terms = {k for k, _ in srv._dec_seen.items() if srv._dec_seen[k] == 1}
    assert once_terms and not (once_terms & set(srv._dec_cache))
    second = srv.search_local(QUERY_SET, cfg)
    assert srv._dec_cache  # repeat batch populated the rest
    third = srv.search_local(QUERY_SET, cfg)  # served from cache
    assert first == second == third
    assert srv._dec_bytes <= srv.decoded_cache_mb * (1 << 20)
    assert srv._dec_bytes == sum(v[3] for v in srv._dec_cache.values())
    # a tiny budget evicts rather than grows
    tiny = QueryServer.load(spark, root)
    tiny.decoded_cache_mb = 0
    tiny.search_local(QUERY_SET, cfg)
    r2 = tiny.search_local(QUERY_SET, cfg)
    assert r2 == first and not tiny._dec_cache


def test_search_local_row_cache_bounded_and_identical(spark, tmp_path):
    """The kernel-ready matched-rows LRU serves warm batches identically,
    honors its byte budget, and bounds NEGATIVE entries (queried-but-absent
    terms) via the per-entry floor — a typo-heavy workload must not grow
    the dict forever."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 200, seed=13, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    srv = QueryServer.load(spark, root)
    first = srv.search_local(QUERY_SET, cfg)
    assert srv._row_cache  # populated on first sight
    warm = srv.search_local(QUERY_SET, cfg)
    assert warm == first
    assert srv._row_bytes <= srv.row_cache_mb * (1 << 20)
    assert srv._row_bytes == sum(v[1] for v in srv._row_cache.values())
    # negative entries are cached (no re-scan) AND carry the byte floor
    srv.search_local([("m1", "zzqqxxnope")], cfg)
    neg = srv._row_cache.get("zzqqxxnope")
    assert neg is not None and neg[0] == [] and neg[1] >= 512

    # a tiny budget evicts instead of growing, results unchanged
    tiny = QueryServer.load(spark, root)
    tiny.row_cache_mb = 0
    assert tiny.search_local(QUERY_SET, cfg) == first
    assert not tiny._row_cache
    # a budget of ~100 entries' floors bounds a typo flood
    flood = QueryServer.load(spark, root)
    flood.row_cache_mb = 1
    for i in range(300):
        flood.search_local([(f"t{i}", f"zzqq{i}nope")], cfg)
    assert flood._row_bytes <= flood.row_cache_mb * (1 << 20)
    assert flood.search_local(QUERY_SET, cfg) == first


def test_prewarm_populates_caches_and_preserves_results(spark, tmp_path):
    """prewarm() hot-loads the matched-rows and decoded-postings caches
    before any traffic (no second-sight requirement) without changing
    results; accepts query tuples or raw terms; empty input is a no-op."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 200, seed=17, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    cold = QueryServer.load(spark, root)
    baseline = cold.search_local(QUERY_SET, cfg)

    warm = QueryServer.load(spark, root)
    n = warm.prewarm(QUERY_SET, cfg)
    assert n > 0
    assert warm._dec_cache  # decoded BEFORE any search traffic
    assert warm._row_cache
    assert warm.search_local(QUERY_SET, cfg) == baseline
    # raw-terms form and no-op input
    other = QueryServer.load(spark, root)
    assert other.prewarm(["cat", "salmon", "zzznope"], cfg) >= 2
    assert other.prewarm([], cfg) == 0
    assert other.search_local(QUERY_SET, cfg) == baseline


def test_search_local_parallel_workers_identical(spark, tmp_path):
    """workers>1 scores a batch's queries in a thread pool over shared
    read-only cache buffers; results must be identical to the serial path
    (same order), warm and cold."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    cfg = EngineConfig(k1=1.2, b=0.75, k=10, stem=True)
    corpus = assign_dense_doc_ids(
        generate_webpages(spark, 250, seed=23, num_partitions=2), order_col="url"
    )
    root = str(tmp_path / "idx")
    save_compressed_index(build_compressed_index(spark, corpus, cfg), root)

    serial = QueryServer.load(spark, root)
    base_cold = serial.search_local(QUERY_SET, cfg)
    base_warm = serial.search_local(QUERY_SET, cfg)

    pooled = QueryServer.load(spark, root)
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_cold
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_warm
    assert pooled.search_local(QUERY_SET, cfg, workers=4) == base_warm  # cached


def test_saved_postings_are_term_range_clustered(index_root):
    """The writer sorts the whole postings table by term: across all files
    and row groups the footers' term [min, max] ranges are sorted and
    disjoint, which is what lets search_local's footer pruning read only
    the one row group that can hold a term."""
    _assert_term_clustered(index_root)


def test_search_local_reads_one_row_group_per_term(spark, index_root):
    """Cold lookups read exactly the row group whose range holds the term
    (counted by QueryServer.counters), and none for an unknown term that
    falls outside every range."""
    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.serving import _KERNEL_COLS

    groups = _row_groups(index_root)
    pf, rg, _, _ = groups[1]
    terms = pf.read_row_group(rg, columns=["term"]).column("term").to_pylist()
    known = next(t for t in terms if tokenize(t, CFG.stem) == [t])
    meta = pf.metadata.row_group(rg)
    want_bytes = sum(
        meta.column(c).total_compressed_size
        for c in range(meta.num_columns)
        if meta.column(c).path_in_schema.split(".")[0] in _KERNEL_COLS
    )

    server = QueryServer.load(spark, index_root)
    assert server.search_local([("k", known)], CFG)
    assert server.counters == {
        "row_groups_read": 1,
        "row_groups_pruned": len(groups) - 1,
        "bytes_read": want_bytes,
        "row_cache_oversize": 0,
    }
    server.search_local([("k", known)], CFG)  # warm: row cache, no fetch
    assert server.counters["row_groups_read"] == 1

    # between two adjacent ranges when one admits a single-token term (a
    # boundary like marker33 | marker330 does not), else above the last
    bounds = [(a, b) for (_, _, _, a), (_, _, b, _) in zip(groups, groups[1:])]
    bounds.append((groups[-1][3], None))
    gap = next(
        c
        for a, b in bounds
        for c in (a + ch for ch in "abcdefghijklmnopqrstuvwxyz")
        if a < c and (b is None or c < b) and tokenize(c, CFG.stem) == [c]
    )
    cold = QueryServer.load(spark, index_root)
    assert cold.search_local([("u", gap)], CFG) == []
    assert cold.counters == {
        "row_groups_read": 0,
        "row_groups_pruned": len(groups),
        "bytes_read": 0,
        "row_cache_oversize": 0,
    }


def test_search_local_counts_terms_too_big_for_row_cache(spark, index_root):
    """A fetched term whose entries exceed the whole row-cache budget is
    never cached; each such fetch is counted, and the next query of the
    term reads its row group again."""
    from fulltextsearch_spark.functions.tokenizer import tokenize

    pf, rg, _, _ = _row_groups(index_root)[1]
    terms = pf.read_row_group(rg, columns=["term"]).column("term").to_pylist()
    known = next(t for t in terms if tokenize(t, CFG.stem) == [t])
    server = QueryServer.load(spark, index_root)
    server.row_cache_mb = 0
    first = server.search_local([("k", known)], CFG)
    assert first and server.search_local([("k", known)], CFG) == first
    assert not server._row_cache
    assert server.counters["row_cache_oversize"] == 2
    assert server.counters["row_groups_read"] == 2


@pytest.mark.parametrize("codec", [None, "pfor"])
def test_resaved_index_keeps_layout_and_answers(spark, index_root, tmp_path, codec):
    """Load -> save again (plain, and through the pfor re-encode): the copy
    keeps the term-clustered layout and search_local over it answers
    QUERY_SET exactly as search_wand does, and as the original index."""
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    want = _key(search_wand(load_compressed_index(spark, index_root), qdf, CFG).collect())

    again = str(tmp_path / "resaved")
    with _several_files(spark):
        save_compressed_index(load_compressed_index(spark, index_root), again, codec=codec)
    _assert_term_clustered(again)

    resaved = load_compressed_index(spark, again)
    assert resaved.codec == (codec or "varint")
    server = QueryServer.load(spark, again)
    got = sorted(
        (q, r, d, round(s, 9)) for q, r, d, s in server.search_local(QUERY_SET, CFG)
    )
    assert got == _key(search_wand(resaved, qdf, CFG).collect()) == want
    assert len(got) > 0


def test_search_local_overlapping_ranges_still_identical(spark, index_root, tmp_path):
    """Backward compatibility: an index whose row-group term ranges overlap
    (a hash-partitioned layout, as older writers produced) still answers
    identically through search_local."""
    import shutil

    from pyspark.sql import functions as F

    old = str(tmp_path / "hash_layout")
    for table in ("doc_stats", "corpus_stats"):
        shutil.copytree(os.path.join(index_root, table), os.path.join(old, table))
    with _several_files(spark):
        spark.read.parquet(f"{index_root}/postings").repartition(
            F.col("term")
        ).sortWithinPartitions("term").write.parquet(f"{old}/postings")
    ranges = [(mn, mx) for _, _, mn, mx in _row_groups(old)]
    assert any(a[1] >= b[0] for a, b in zip(ranges, ranges[1:]))  # overlapping

    want = QueryServer.load(spark, index_root).search_local(QUERY_SET, CFG)
    server = QueryServer.load(spark, old)
    assert server.search_local(QUERY_SET, CFG) == want and want
    assert server.counters["row_groups_read"] > 0


def _postings_rewritten(index_root, root, tables):
    """A copy of ``index_root`` whose postings are one parquet file holding
    the Arrow ``tables`` in order, one row group each."""
    import shutil

    for table in ("doc_stats", "corpus_stats"):
        shutil.copytree(os.path.join(index_root, table), os.path.join(root, table))
    os.makedirs(os.path.join(root, "postings"))
    with pq.ParquetWriter(os.path.join(root, "postings", "part-0.parquet"), tables[0].schema) as w:
        for tbl in tables:
            w.write_table(tbl, row_group_size=len(tbl))
    return root


def _sorted_flags(server):
    """Per row group: was its term column found sorted on its first read
    (None: never read)."""
    return [entry[5] for entry in server._rg_manifest]


def test_search_local_shard_rows_straddling_row_groups(spark, tmp_path):
    """A sharded head term whose rows straddle a row-group boundary comes
    back from both row groups: search_local equals search_wand, and both
    row groups are read (and only they)."""
    from tests.test_skew import _skew_corpus

    cfg = EngineConfig(k=10, stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, _skew_corpus(spark), cfg)
    saved = str(tmp_path / "sharded")
    save_compressed_index(cidx, saved)
    tbl = pq.read_table(os.path.join(saved, "postings")).sort_by("term")
    terms = tbl.column("term").to_pylist()
    first, last = terms.index("common"), len(terms) - terms[::-1].index("common")
    assert last - first > 2  # sharded into several rows
    cut = (first + last) // 2  # between two of the head term's rows
    root = _postings_rewritten(
        saved,
        str(tmp_path / "straddle"),
        [tbl.slice(0, cut), tbl.slice(cut, last + 3 - cut), tbl.slice(last + 3)],
    )

    queries = [("q", "common tail5"), ("q2", "common common word3"), ("q3", "common")]
    qdf = spark.createDataFrame(queries, ["query_id", "content"])
    want = _key(search_wand(cidx, qdf, cfg).collect())
    server = QueryServer.load(spark, root)
    got = sorted((q, r, d, round(s, 9)) for q, r, d, s in server.search_local(queries, cfg))
    assert got == want and want

    head = QueryServer.load(spark, root)
    assert sorted(head.search_local([("q3", "common")], cfg)) == sorted(
        r for r in server.search_local(queries, cfg) if r[0] == "q3"
    )
    assert head.counters["row_groups_read"] == 2
    assert head.counters["row_groups_pruned"] == 1
    assert _sorted_flags(head) == [True, True, None]  # both sliced


def test_search_local_unsorted_row_group_is_filtered(spark, index_root, tmp_path):
    """A row group whose term column is not sorted (a hand-written or old
    layout) is hash-filtered instead of bisected, and answers QUERY_SET
    exactly as the sorted index does."""
    import numpy as np

    tbl = pq.read_table(os.path.join(index_root, "postings"))
    shuffled = tbl.take(np.random.default_rng(7).permutation(len(tbl)))
    root = _postings_rewritten(index_root, str(tmp_path / "shuffled"), [shuffled])

    want = QueryServer.load(spark, index_root).search_local(QUERY_SET, CFG)
    server = QueryServer.load(spark, root)
    assert server.search_local(QUERY_SET, CFG) == want and want
    assert server.counters["row_groups_read"] == 1
    assert _sorted_flags(server) == [False]


def test_row_cache_entries_own_their_bytes(spark, index_root):
    """Cached row entries hold owned copies: every enc cell and block array
    is ``bytes``, and the kernel entries built from them view those bytes.
    A view into the fetched row group would pin all of it."""
    from fulltextsearch_spark.operators.serving import _ENTRY_KEYS, _entry
    from fulltextsearch_spark.operators.wand import _BLOCK_COLS, _ENC_COLS

    server = QueryServer.load(spark, index_root)
    assert server.search_local(QUERY_SET, CFG)
    cached = [base for rows, _ in server._row_cache.values() for base in rows]
    assert cached
    for base in cached:
        cells = dict(zip(_ENTRY_KEYS, base, strict=True))
        assert all(isinstance(cells[c], bytes) for c in (*_ENC_COLS, *_BLOCK_COLS))
        ent = _entry(base)
        assert all(ent[c].base is cells[c] for c in _BLOCK_COLS)

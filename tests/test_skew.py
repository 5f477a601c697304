"""Head-term skew (SURVEY §5.2-7): a term in ~every doc must not concentrate
on one task.

The reference has no answer to Zipf-head terms beyond spinlock contention
(`parallel_hash_table.hpp:134-148`); the north rule requires explicit skew
handling. Our answer is the map-side partial combine: a head term's postings
are packed into per-task salted runs, so no single task ever materializes the
full list — the reduce concatenates byte streams.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    _partial_rows_tokenized,
    build_compressed_index,
    decompress_postings,
)
from fulltextsearch_spark.operators.index_build import _tokenized, build_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import search_wand

N = 3000


def _skew_corpus(spark):
    # "common" in EVERY doc; tail terms unique-ish
    rows = [(i, f"common tail{i % 97} word{i % 11} extra{i}") for i in range(N)]
    return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(6)


def test_head_term_spread_over_salted_partials(spark):
    docs = _skew_corpus(spark)
    cfg = EngineConfig(stem=False)
    partials = _partial_rows_tokenized(_tokenized(docs, "text", stem=False))
    head = partials.filter(F.col("term") == "common").collect()
    # one partial per map task that saw the term — never a single giant row
    assert len(head) > 1
    assert sum(sum(r["seg_lens"]) for r in head) == N
    # every partial is a bounded slice, not the whole list
    assert max(sum(r["seg_lens"]) for r in head) < N


def test_head_term_index_and_query_correct(spark):
    docs = _skew_corpus(spark)
    cfg = EngineConfig(k=10, stem=False)
    cidx = build_compressed_index(spark, docs, cfg)
    row = decompress_postings(
        cidx.postings.filter(F.col("term") == "common"), cidx.block_size
    ).collect()[0]
    assert row["df"] == N
    got = sorted(p["doc_id"] for p in row["postings"])
    assert got == list(range(N))

    qdf = spark.createDataFrame([("q", "common tail5")], ["query_id", "content"])
    wand = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in search_wand(cidx, qdf, cfg).collect()]
    idx = build_index(spark, docs, cfg)
    ex = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in search(idx, qdf, cfg).collect()]
    assert wand == ex and len(wand) == 10


def test_sharded_head_term_rows_bounded(spark):
    """cfg.shard_postings splits a head term into multiple self-contained
    rows, so no reduce task materializes the full posting list (SCALE.md §3
    doc-range shard, now implemented)."""
    docs = _skew_corpus(spark)
    cfg = EngineConfig(stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, docs, cfg)
    head = cidx.postings.filter(F.col("term") == "common").collect()
    assert len(head) > 1  # actually sharded
    assert sum(r["count"] for r in head) == N  # nothing lost
    assert max(r["count"] for r in head) < N  # no row holds the whole list
    # every shard is self-contained: its own blocks + block-max metadata
    for r in head:
        assert len(r["block_first_doc"]) == -(-r["count"] // cfg.block_size)
    # full doc set survives decompress (shards are disjoint slices)
    rows = decompress_postings(
        cidx.postings.filter(F.col("term") == "common"), cidx.block_size
    ).collect()
    got = sorted(p["doc_id"] for r in rows for p in r["postings"])
    assert got == list(range(N))


def test_sharded_head_term_query_rank_identical(spark, tmp_path):
    """WAND over a sharded index and the exhaustive path over BOTH the
    unsharded logical index and the logical index of the sharded build
    agree, and so do both QueryServer paths over the saved sharded index."""
    from fulltextsearch_spark.operators.compressed_index import save_compressed_index
    from fulltextsearch_spark.operators.index_build import logical_index
    from fulltextsearch_spark.operators.serving import QueryServer

    docs = _skew_corpus(spark)
    cfg = EngineConfig(k=10, stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, docs, cfg)
    qdf = spark.createDataFrame(
        [("q", "common tail5"), ("q2", "common common word3")],
        ["query_id", "content"],
    )

    def key(rows):
        return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)

    wand = key(search_wand(cidx, qdf, cfg).collect())
    idx = build_index(spark, docs, cfg)
    ex = key(search(idx, qdf, cfg).collect())
    # exhaustive over the sharded rows, regrouped to one row per term
    ex_sharded = key(search(logical_index(cidx), qdf, cfg).collect())
    assert wand == ex == ex_sharded
    assert len(wand) == 20
    # served from disk: a head term's shard rows become several kernel
    # entries whose df is the term total
    root = str(tmp_path / "sharded")
    save_compressed_index(cidx, root)
    server = QueryServer.load(spark, root)
    queries = [tuple(r) for r in qdf.collect()]
    cols = ("query_id", "rank", "doc_id", "score")
    assert key(dict(zip(cols, r)) for r in server.search_local(queries, cfg)) == wand
    assert key(server.search(queries, cfg).collect()) == wand


def test_logical_index_of_sharded_build_equals_build_index(spark, tmp_path):
    """logical_index over a sharded compressed index, saved as
    pfor and reloaded, is build_index's postings row for row, and the
    operators that read df/postings off IndexTables (VSM, autocomplete,
    champions) give the same rows over both."""
    from fulltextsearch_spark.operators.autocomplete import autocomplete
    from fulltextsearch_spark.operators.champions import build_champions
    from fulltextsearch_spark.operators.compressed_index import (
        load_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.index_build import logical_index
    from fulltextsearch_spark.operators.vsm import search_vsm

    docs = _skew_corpus(spark)
    cfg = EngineConfig(k=10, stem=False, block_size=4, shard_postings=256)
    cidx = build_compressed_index(spark, docs, cfg)
    assert cidx.postings.filter(F.col("term") == "common").count() > 1  # sharded
    root = str(tmp_path / "pfor")
    save_compressed_index(cidx, root, codec="pfor")
    logical = logical_index(load_compressed_index(spark, root))
    built = build_index(spark, docs, cfg)
    assert (logical.n_docs, logical.avgdl) == (built.n_docs, built.avgdl)

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in df.collect()
        )

    cols = ["term", "df", "postings"]
    assert rows(logical.postings.select(cols)) == rows(built.postings.select(cols))
    qdf = spark.createDataFrame(
        [("q", "common tail5"), ("q2", "common common word3")],
        ["query_id", "content"],
    )
    prefixes = spark.createDataFrame(
        [("p", "c"), ("p2", "tail"), ("p3", "w")], ["query_id", "prefix"]
    )
    for op in (
        lambda ix: search_vsm(ix, qdf, cfg),
        lambda ix: autocomplete(ix, prefixes, k=3),
        lambda ix: build_champions(ix, m=8, cfg=cfg),
    ):
        assert rows(op(logical)) == rows(op(built))


def test_sharded_trigram_key_rows_bounded(spark):
    """A head trigram key (df far above cfg.shard_postings) must build as
    MULTIPLE bounded doc-range rows — never one task holding the full posting
    list — and sharded serving must be rank- and score-identical to the
    unsharded build (readers sum per-row df for the key total)."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.trigram import (
        build_trigram_index,
        search_trigram,
    )

    rng = random.Random(13)
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    # 'shardme' appears in EVERY doc -> each of its trigram keys has df=300
    rows = [
        (
            i,
            "shardme "
            + " ".join(rng.choice(fillers) for _ in range(rng.randint(2, 5)))
            + " ",
        )
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(8)

    sharded_cfg = EngineConfig(k=10, block_size=8, shard_postings=64)
    plain_cfg = EngineConfig(k=10, block_size=8)
    # compactify=False keeps the hot keys — the hardest case for row size
    idx_sharded = build_trigram_index(spark, docs, sharded_cfg, compactify=False)
    idx_plain = build_trigram_index(spark, docs, plain_cfg, compactify=False)

    key_sha = (ord("s") << 24) | (ord("h") << 16) | (ord("a") << 8) | 0
    shards = (
        idx_sharded.postings.filter(F.col("key") == key_sha)
        .select("df", F.size("postings").alias("n"))
        .collect()
    )
    assert len(shards) > 1  # actually split into doc-range rows
    assert sum(r["df"] for r in shards) == 300  # df total = sum of slices
    assert all(r["n"] == r["df"] for r in shards)
    #every row bounded: far below the full 300-posting list (cuts happen at
    # partial-row granularity, so allow ~2x the threshold)
    assert max(r["n"] for r in shards) <= 2 * 64

    queries = [("q1", "shardme"), ("q2", "alpha shardme"), ("q3", "beta")]

    def key(res):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in res.collect()
        )

    assert key(search_trigram(idx_sharded, queries, sharded_cfg)) == key(
        search_trigram(idx_plain, queries, plain_cfg)
    )


def _seeded_partials():
    """Partial rows packed through ``_PartialAccumulator``, in three shapes:
    one row per term over two ascending packs (``emit``: two segments per
    row), one row per (term, pack) over two ascending packs
    (``emit_batches``), and two packs whose doc ids interleave (odd/even
    docs), so a term in both needs the merge's sort fallback. Every third
    row gets a leading and every fifth a trailing zero-length segment."""
    import numpy as np
    import pyarrow as pa

    from fulltextsearch_spark.operators.compressed_index import _PartialAccumulator

    rng = np.random.default_rng(11)
    vocab = pa.array([f"t{i:02d}" for i in range(24)])

    def add(acc, docs):
        codes, ds, tfs, dls = [], [], [], []
        for d in docs:
            # t00 is in every doc: a head term for the shard cut
            ts = np.union1d([0], rng.choice(24, rng.integers(1, 6), replace=False))
            codes += ts.tolist()
            ds += [d] * ts.size
            tfs += rng.integers(1, 6, ts.size).tolist()
            dls += [int(rng.integers(5, 200))] * ts.size
        codes, ds, tfs, dls = (np.asarray(x, dtype=np.int64) for x in (codes, ds, tfs, dls))
        o = np.lexsort((ds, codes))
        acc.add_buffer(vocab, codes[o], ds[o], tfs[o], dls[o], presorted=True)

    two_seg = _PartialAccumulator()
    add(two_seg, range(0, 120))
    add(two_seg, range(120, 240))
    per_pack = _PartialAccumulator()
    add(per_pack, range(240, 360))
    add(per_pack, range(360, 480))
    interleaved = _PartialAccumulator()
    add(interleaved, range(481, 600, 2))
    add(interleaved, range(480, 600, 2))
    batches = [two_seg.emit(), *per_pack.emit_batches(), *interleaved.emit_batches()]
    rows = [r for rb in batches for r in rb.to_pylist()]
    for i, r in enumerate(rows):
        if i % 3 == 0:
            r["seg_lens"] = [0] + r["seg_lens"]
        if i % 5 == 0:
            r["seg_lens"] = r["seg_lens"] + [0]
    return rows


def _decode_partial(row):
    import numpy as np

    from fulltextsearch_spark.operators.compression import varint_decode

    deltas = varint_decode(row["doc_bytes"]).astype(np.int64)
    bounds = np.cumsum([0] + row["seg_lens"])
    docs = np.concatenate(
        [np.cumsum(deltas[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
    )
    return (
        docs,
        varint_decode(row["tf_bytes"]).astype(np.int64),
        varint_decode(row["dl_bytes"]).astype(np.int64),
    )


def test_merge_rows_equal_encode_one_over_sorted_postings(spark):
    """Every merged row equals ``_encode_one`` over its unit's decoded,
    doc-sorted postings — byte streams, block offsets, block-max arrays,
    count and df — for ascending multi-pack terms, interleaved packs (the
    sort fallback) and zero-length segments, with Arrow batches small
    enough that terms straddle them. With ``shard_postings`` the rows of a
    term follow the cut rule (cut after the partial row at which the
    running count since the last cut reaches the cap; terms under the cap
    stay whole) and decode to the term's postings."""
    import numpy as np

    from fulltextsearch_spark.operators.compressed_index import (
        _PARTIAL_FIELDS,
        _encode_one,
        _merge_partials,
    )

    rows = _seeded_partials()
    by_term: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["first_doc"])):
        by_term.setdefault(r["term"], []).append((r, _decode_partial(r)))
    partials = spark.createDataFrame(
        [tuple(r[f] for f in _PARTIAL_FIELDS.fieldNames()) for r in rows],
        _PARTIAL_FIELDS,
    )
    avgdl = 97.5
    fields = ["count", "doc_ids_enc", "tfs_enc", "dls_enc", "block_first_doc",
              "block_off_doc", "block_off_tf", "block_off_dl", "block_max_tf",
              "block_max_tfpart", "block_max_tfdl"]

    def expected(cfg):
        out, fallback = [], 0
        for term, parts in by_term.items():
            units, cur, pending = [], [], 0
            total = sum(len(d[0]) for _, d in parts)
            for part in parts:
                cur.append(part)
                pending += len(part[1][0])
                if cfg.shard_postings and total >= cfg.shard_postings and pending >= cfg.shard_postings:
                    units.append(cur)
                    cur, pending = [], 0
            if cur:
                units.append(cur)
            for unit in units:
                docs, tfs, dls = (np.concatenate([d[i] for _, d in unit]) for i in range(3))
                fallback += bool(np.any(np.diff(docs) <= 0))
                o = np.argsort(docs, kind="stable")
                enc = _encode_one(docs[o], tfs[o], dls[o], cfg.block_size, cfg.k1, cfg.b, avgdl)
                out.append((term, len(docs), *(enc[f] for f in fields)))
        return sorted(out), fallback

    def merged(cfg):
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "4")
        try:
            df = _merge_partials(partials, avgdl, cfg, num_partitions=3)
            got = df.collect()
        finally:
            spark.conf.set(key, old)
        return df, sorted(
            (r["term"], r["df"], *(bytes(r[f]) if f.endswith("_enc") else r[f] for f in fields))
            for r in got
        )

    whole = EngineConfig(block_size=8)
    want, fallback = expected(whole)
    assert fallback > 0  # the interleaved packs do reach the sort fallback
    assert merged(whole)[1] == want
    assert len(want) == len(by_term)

    sharded = EngineConfig(block_size=8, shard_postings=70)
    want, _ = expected(sharded)
    df, got = merged(sharded)
    assert got == want
    assert len([r for r in got if r[0] == "t00"]) > 1  # the head term is cut
    decoded = decompress_postings(df, sharded.block_size).collect()
    for term, parts in by_term.items():
        post = sorted(
            (int(d), int(t), int(l))
            for _, dec in parts for d, t, l in zip(*dec)
        )
        assert sorted(
            (p["doc_id"], p["tf"], p["dl"])
            for r in decoded if r["term"] == term for p in r["postings"]
        ) == post

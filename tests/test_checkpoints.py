"""Resumable build: per-chunk manifests skip completed work, a damaged /
missing manifest rebuilds exactly that chunk, results are identical either
way, and lineage metrics are logged per stage.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    COMPRESSED_POSTINGS_FIELDS,
    build_compressed_index,
    load_compressed_index,
)
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.plans.checkpoints import resumable_build
from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages
from tests.oracle import OracleIndex

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)
N_DOCS = 300
N_FILES = 6


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("webpages_input"))
    generate_webpages(spark, N_DOCS, seed=11).repartition(N_FILES).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _results(spark, root):
    idx = load_compressed_index(spark, os.path.join(root, "index"))
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    rows = search_wand(idx, qdf, CFG).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)


def test_build_resume_and_identity(spark, input_dir, tmp_path):
    root = str(tmp_path / "idx_root")

    # fresh build: every chunk + merge run
    s1 = resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)
    assert s1["chunks_total"] == 3
    assert s1["chunks_built"] == 3 and s1["chunks_skipped"] == 0
    assert s1["merge_built"] is True
    assert s1["n_docs"] == N_DOCS
    res1 = _results(spark, root)
    assert len(res1) > 20

    # rerun on unchanged input: everything skipped, results identical
    s2 = resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)
    assert s2["chunks_built"] == 0 and s2["chunks_skipped"] == 3
    assert s2["merge_built"] is False
    assert _results(spark, root) == res1

    # simulate a crash that lost chunk 1's manifest: only chunk 1 rebuilds
    os.remove(os.path.join(root, "_manifests", "tokenize-chunk-00001.json"))
    # merge fingerprint is over chunk fingerprints (unchanged), but the
    # manifest loss also invalidates nothing else:
    s3 = resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)
    assert s3["chunks_built"] == 1 and s3["chunks_skipped"] == 2
    assert _results(spark, root) == res1

    # lineage has per-stage throughput records
    lines = [json.loads(l) for l in open(os.path.join(root, "_lineage.jsonl"))]
    stages = [l["stage"] for l in lines]
    assert stages.count("tokenize") == 4 and stages.count("merge") == 1
    assert all("docs_per_sec" in l and "seconds" in l for l in lines)

    # index footprint metric (reference fts_engine.hpp:50-60): every
    # save_compressed_index appends bytes-on-disk per table to the saved
    # index's own _lineage.jsonl
    fp_lines = [
        json.loads(l)
        for l in open(os.path.join(root, "index", "_lineage.jsonl"))
        if json.loads(l).get("stage") == "footprint"
    ]
    assert fp_lines, "no footprint record written by save_compressed_index"
    fp = fp_lines[-1]
    assert fp["postings_bytes"] > 0 and fp["doc_stats_bytes"] > 0

    # a chunk dir lost while its manifest survived: the manifest alone must
    # not skip it, or the next merge reads a missing path
    shutil.rmtree(os.path.join(root, "partials", "chunk=00002"))
    os.remove(os.path.join(root, "_manifests", "merge.json"))
    s4 = resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)
    assert s4["chunks_built"] == 1 and s4["chunks_skipped"] == 2
    assert s4["merge_built"] is True and s4["n_docs"] == N_DOCS
    assert _results(spark, root) == res1


def test_config_change_rebuilds_merge_only(spark, input_dir, tmp_path):
    root = str(tmp_path / "idx_root2")
    resumable_build(spark, input_dir, root, CFG, files_per_chunk=3)
    # same tokenization, different block size: chunks skip, merge reruns
    cfg2 = EngineConfig(k1=1.2, b=0.75, k=10, block_size=64)
    s = resumable_build(spark, input_dir, root, cfg2, files_per_chunk=3)
    assert s["chunks_built"] == 0 and s["merge_built"] is True
    assert load_compressed_index(spark, os.path.join(root, "index")).block_size == 64

    # shard_postings changes the merge output (head terms split into
    # doc-range rows), so it must invalidate the merge too
    postings = load_compressed_index(spark, os.path.join(root, "index")).postings
    head = postings.orderBy(F.desc("df")).first()["term"]
    assert postings.filter(F.col("term") == head).count() == 1
    s = resumable_build(
        spark, input_dir, root, dataclasses.replace(cfg2, shard_postings=8),
        files_per_chunk=3,
    )
    assert s["chunks_built"] == 0 and s["merge_built"] is True
    postings = load_compressed_index(spark, os.path.join(root, "index")).postings
    assert postings.filter(F.col("term") == head).count() > 1


def test_resumable_ids_and_scores_match_oracle(spark, input_dir, tmp_path):
    """Recompute the documented doc_id assignment (sorted files -> chunks ->
    per-chunk url sort + row-count offsets) and check WAND results against
    the pure-Python oracle on that mapping, and the saved index against
    ``build_compressed_index`` over the same ids: the checkpointed build
    runs on the shared core, so its postings rows are byte-identical."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "idx_root3")
    resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)

    files = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    chunks = [files[i: i + 2] for i in range(0, len(files), 2)]
    doc_rows, offset = [], 0
    for ch in chunks:
        tables = [pq.read_table(os.path.join(input_dir, f), columns=["url", "text"]) for f in ch]
        rows = []
        for t in tables:
            rows += list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
        rows.sort(key=lambda r: r[0])
        doc_rows += [(offset + i, text) for i, (_, text) in enumerate(rows)]
        offset += len(rows)

    oracle = OracleIndex(doc_rows)
    got = {}
    idx = load_compressed_index(spark, os.path.join(root, "index"))
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    for r in search_wand(idx, qdf, CFG).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for v in got.values():
        v.sort()
    for qid, content in QUERY_SET:
        expected = oracle.search(content, k=10, k1=CFG.k1, b=CFG.b)
        mine = got.get(qid, [])
        assert [(r, d) for r, d, _ in mine] == [(r, d) for r, d, _ in expected], qid
        for (_, _, gs), (_, _, es) in zip(mine, expected):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-12)

    shared = build_compressed_index(
        spark, spark.createDataFrame(doc_rows, "doc_id long, text string"), CFG
    )
    assert (idx.n_docs, idx.avgdl) == (shared.n_docs, shared.avgdl)
    cols = ["term", "df", *COMPRESSED_POSTINGS_FIELDS.fieldNames()]

    def rows(i):
        return sorted(tuple(r) for r in i.postings.select(*cols).collect())

    assert rows(idx) == rows(shared)


def test_shrunk_input_purges_stale_chunks(spark, input_dir, tmp_path):
    """Stale chunk=NNNNN dirs from a previous (larger) build must not be
    silently merged back in — the merge reads exactly the current chunk set
    and deletes leftovers (ADVICE r1, checkpoints.py merge stage)."""
    root = str(tmp_path / "idx_root")
    resumable_build(spark, input_dir, root, CFG, files_per_chunk=2)  # 3 chunks
    full = _results(spark, root)

    # shrink the input: keep only the first 2 files -> 1 chunk of 2
    small_in = str(tmp_path / "small_in")
    os.makedirs(small_in)
    parts = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    for f in parts[:2]:
        shutil.copy(os.path.join(input_dir, f), os.path.join(small_in, f))

    s = resumable_build(spark, small_in, root, CFG, files_per_chunk=2)
    assert s["chunks_total"] == 1
    # stale chunk dirs are gone and the doc count matches the small input only
    left = sorted(os.listdir(os.path.join(root, "partials")))
    assert left == ["chunk=00000"]
    n_small = spark.read.parquet(*[os.path.join(small_in, f) for f in parts[:2]]).count()
    assert s["n_docs"] == n_small
    small = _results(spark, root)
    assert small != full  # removed docs really disappeared from results

    # HLL build metric (A6): merge lineage carries the distinct-term estimate
    lines = [json.loads(l) for l in open(os.path.join(root, "_lineage.jsonl"))]
    merges = [l for l in lines if l["stage"] == "merge"]
    assert merges and all(m["n_terms_est"] > 0 for m in merges)
    idx = load_compressed_index(spark, os.path.join(root, "index"))
    n_terms = idx.postings.select("term").distinct().count()
    est = merges[-1]["n_terms_est"]
    assert 0.8 * n_terms <= est <= 1.2 * n_terms  # HLL++ within sane error

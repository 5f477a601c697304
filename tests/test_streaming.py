"""Structured-Streaming incremental indexing: micro-batch ingestion with
continuing dense ids, exactly-once replay, affected-terms merge, atomic
version flip, and WAND safety with carried (stale-bound) postings after the
corpus stats move.
"""

from __future__ import annotations

import json
import os

import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import build_compressed_index
from fulltextsearch_spark.operators.index_build import logical_index
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.webpages import QUERY_SET, WEBPAGES_SCHEMA, generate_webpages
from fulltextsearch_spark.streaming.incremental import (
    IncrementalIndexer,
    load_current_index,
    refresh_index,
)

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)


def _results(spark, idx, queries=QUERY_SET):
    qdf = spark.createDataFrame(queries, ["query_id", "content"])
    rows = search_wand(idx, qdf, CFG).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)


def _batch_results_with_ids(spark, docs_with_ids, queries=QUERY_SET):
    idx = build_compressed_index(spark, docs_with_ids, CFG)
    return _results(spark, idx, queries)


def _distinct_urls(df, tag):
    from pyspark.sql import functions as F

    return df.withColumn("url", F.regexp_replace("url", "/page/", f"/{tag}/"))


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    land = str(tmp_path_factory.mktemp("landing"))
    root = str(tmp_path_factory.mktemp("inc_root"))
    # two initial files; the third arrives "later". generate_webpages restarts
    # its url counter per call, so tag urls per file to keep them unique.
    _distinct_urls(generate_webpages(spark, 120, seed=31), "f1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "f1"))
    _distinct_urls(generate_webpages(spark, 80, seed=32), "f2").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "f2"))
    return land, root


def _landing_glob(land):
    return f"{land}/f*/"


def test_incremental_stream_and_merge(spark, setup):
    land, root = setup
    indexer = IncrementalIndexer(spark, root, CFG)

    # --- drain the initial two files, one file per micro-batch --------------
    q = indexer.start(_landing_glob(land), WEBPAGES_SCHEMA, max_files_per_trigger=1)
    q.awaitTermination(120)
    batches = sorted(os.listdir(os.path.join(root, "delta_tokenized")))
    assert len(batches) == 2

    s0 = refresh_index(spark, root, CFG)
    assert s0["version"] == 0 and s0["affected_terms"] == -1  # first: full build
    idx0 = load_current_index(spark, root)
    assert idx0.n_docs == 200

    # ids are dense and deterministic across batches
    doc_map = spark.read.parquet(os.path.join(root, "doc_map"))
    ids = sorted(r["doc_id"] for r in doc_map.collect())
    assert ids == list(range(200))

    # incremental v0 results == batch build over the same (doc_id, text)
    corpus = spark.read.parquet(f"{land}/f1", f"{land}/f2")
    docs_ids = doc_map.join(corpus, "url").select("doc_id", "text")
    assert _results(spark, idx0) == _batch_results_with_ids(spark, docs_ids)

    # --- exactly-once: rerunning the drained stream adds nothing ------------
    q = indexer.start(_landing_glob(land), WEBPAGES_SCHEMA, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert sorted(os.listdir(os.path.join(root, "delta_tokenized"))) == batches

    # --- a new file lands: long docs (moves avgdl up -> stale-bound path) ---
    from pyspark.sql import functions as F

    late = _distinct_urls(generate_webpages(spark, 60, seed=33), "f3")
    late = late.withColumn("text", F.concat_ws(" ", "text", "text", "text"))
    late.coalesce(1).write.mode("overwrite").parquet(os.path.join(land, "f3"))
    q = indexer.start(_landing_glob(land), WEBPAGES_SCHEMA, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert len(os.listdir(os.path.join(root, "delta_tokenized"))) == 3

    s1 = refresh_index(spark, root, CFG)
    assert s1["version"] == 1 and s1["affected_terms"] > 0
    idx1 = load_current_index(spark, root)
    assert idx1.n_docs == 260
    assert idx1.avgdl > idx0.avgdl  # stats moved -> carried bounds were scaled

    # WAND over v1 (carried + rebuilt rows) == exhaustive over the SAME index
    logical = logical_index(idx1)
    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])
    exhaustive = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search(logical, qdf, CFG).collect()
    )
    assert _results(spark, idx1) == exhaustive

    # ...and == a from-scratch batch build over all 260 docs with the same ids
    corpus_all = spark.read.parquet(f"{land}/f1", f"{land}/f2", f"{land}/f3")
    doc_map = spark.read.parquet(os.path.join(root, "doc_map"))
    docs_all = doc_map.join(corpus_all, "url").select("doc_id", "text")
    assert _results(spark, idx1) == _batch_results_with_ids(spark, docs_all)

    # previous version remains readable (snapshot isolation for readers)
    from fulltextsearch_spark.operators.compressed_index import load_compressed_index

    old = load_compressed_index(spark, os.path.join(root, "index_v00000"))
    assert old.n_docs == 200

    # lineage recorded per batch with throughput
    lines = [json.loads(l) for l in open(os.path.join(root, "_stream_lineage.jsonl"))]
    assert len(lines) == 3 and all("docs_per_sec" in l for l in lines)

    # high-watermark manifest: offsets come from the persisted manifest, not
    # a per-batch rescan of all tokenized parquet; a fresh indexer (restart)
    # reads the same continuation point.
    wm = json.load(open(os.path.join(root, "_watermark.json")))
    assert wm["next_offset"] == 260
    assert sorted(int(b) for b in wm["batches"]) == [0, 1, 2]
    assert sum(b["rows"] for b in wm["batches"].values()) == 260
    restarted = IncrementalIndexer(spark, root, CFG)
    assert restarted._next_offset() == 260


def test_refresh_never_rescans_merged_data(spark, tmp_path):
    """The incremental path reads ONLY the new delta batches + the previous
    index version. Proof by poisoning: after v0, base_tokenized is created
    with garbage bytes and the already-merged batch's parquet payloads are
    overwritten with garbage (keeping _SUCCESS) — any list/read of either
    would throw. The refresh must still succeed, report delta-only IO, and
    produce an index value-identical to a from-scratch batch build."""
    land = str(tmp_path / "land")
    root = str(tmp_path / "root")
    _distinct_urls(generate_webpages(spark, 40, seed=61), "h1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "h1"))
    indexer = IncrementalIndexer(spark, root, CFG)
    indexer.start(f"{land}/h*/", WEBPAGES_SCHEMA).awaitTermination(120)
    s0 = refresh_index(spark, root, CFG)
    assert s0["version"] == 0 and s0["affected_terms"] == -1

    # poison everything a non-incremental refresh would have to read
    base = os.path.join(root, "base_tokenized")
    os.makedirs(base)
    with open(os.path.join(base, "part-00000.parquet"), "wb") as f:
        f.write(b"NOT A PARQUET FILE")
    batch0 = os.path.join(root, "delta_tokenized", "batch=0000000000")
    for fn in os.listdir(batch0):
        if fn.endswith(".parquet"):
            with open(os.path.join(batch0, fn), "wb") as f:
                f.write(b"GARBAGE AFTER MERGE")

    _distinct_urls(generate_webpages(spark, 30, seed=62), "h2").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "h2"))
    indexer.start(f"{land}/h*/", WEBPAGES_SCHEMA).awaitTermination(120)

    s1 = refresh_index(spark, root, CFG)
    assert s1["version"] == 1
    assert s1["delta_docs"] == 30  # merged exactly the new batch's rows
    assert s1["affected_terms"] > 0
    idx = load_current_index(spark, root)
    assert idx.n_docs == 70

    # value-identical to a from-scratch batch build over all 70 docs
    corpus_all = spark.read.parquet(f"{land}/h1", f"{land}/h2")
    doc_map = spark.read.parquet(os.path.join(root, "doc_map"))
    docs_all = doc_map.join(corpus_all, "url").select("doc_id", "text")
    assert _results(spark, idx) == _batch_results_with_ids(spark, docs_all)

    # a refresh with nothing new is a no-op (no version bump, no IO storm)
    s2 = refresh_index(spark, root, CFG)
    assert s2.get("unchanged") and s2["version"] == 1


def test_adopts_durable_batch_missing_from_manifest(spark, tmp_path):
    """A batch dir with both _SUCCESS markers but absent from the watermark
    manifest (pre-manifest root, or crash between parquet write and manifest
    write) is adopted — NOT reprocessed with shifted doc_ids."""
    land = str(tmp_path / "land")
    root = str(tmp_path / "root")
    _distinct_urls(generate_webpages(spark, 25, seed=71), "k1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "k1"))
    indexer = IncrementalIndexer(spark, root, CFG)
    indexer.start(f"{land}/k*/", WEBPAGES_SCHEMA).awaitTermination(120)

    # simulate the crash/migration: manifest lost, outputs durable
    os.remove(os.path.join(root, "_watermark.json"))
    corpus = spark.read.parquet(os.path.join(land, "k1"))
    indexer2 = IncrementalIndexer(spark, root, CFG)
    indexer2.process_batch(corpus, 0)  # replay of the durable batch

    wm = json.load(open(os.path.join(root, "_watermark.json")))
    assert wm["next_offset"] == 25  # seeded from the durable batch, not 25+25
    assert wm["batches"]["0"]["rows"] == 25
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(root, "doc_map")).collect()
    )
    assert ids == list(range(25))  # ids unchanged — batch was not reprocessed


def test_refresh_with_changed_k1_forces_full_rebuild(spark, tmp_path):
    """Carried rows keep block-max bounds computed under the old (k1, b);
    refresh under different parameters must fall back to a full rebuild so
    WAND pruning stays safe."""
    land = str(tmp_path / "land")
    root = str(tmp_path / "root")
    _distinct_urls(generate_webpages(spark, 40, seed=51), "g1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "g1"))
    indexer = IncrementalIndexer(spark, root, CFG)
    indexer.start(f"{land}/g*/", WEBPAGES_SCHEMA).awaitTermination(120)
    assert refresh_index(spark, root, CFG)["affected_terms"] == -1  # first build

    _distinct_urls(generate_webpages(spark, 30, seed=52), "g2").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "g2"))
    indexer.start(f"{land}/g*/", WEBPAGES_SCHEMA).awaitTermination(120)

    cfg2 = EngineConfig(k1=2.0, b=CFG.b, k=CFG.k, block_size=CFG.block_size)
    s = refresh_index(spark, root, cfg2)
    assert s["affected_terms"] == -1  # (k1, b) changed -> no carry-over
    idx = load_current_index(spark, root)
    assert idx.k1 == 2.0 and idx.n_docs == 70
    # rank-identical vs exhaustive under the new parameters
    logical = logical_index(idx)
    qdf = spark.createDataFrame(QUERY_SET[:4], ["query_id", "content"])
    exhaustive = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search(logical, qdf, cfg2).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search_wand(idx, qdf, cfg2).collect()
    )
    assert got == exhaustive


def test_refresh_over_pfor_version_forces_full_rebuild(spark, tmp_path):
    """The carry path reinterprets enc streams as varint partials; a
    previous version re-saved with codec='pfor' must force a full rebuild
    (affected_terms == -1), never a byte-level carry of pfor streams."""
    from fulltextsearch_spark.operators.compressed_index import (
        load_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.streaming.incremental import _set_current

    land = str(tmp_path / "land")
    root = str(tmp_path / "root")
    _distinct_urls(generate_webpages(spark, 40, seed=61), "g1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "g1"))
    indexer = IncrementalIndexer(spark, root, CFG)
    indexer.start(f"{land}/g*/", WEBPAGES_SCHEMA).awaitTermination(120)
    assert refresh_index(spark, root, CFG)["affected_terms"] == -1  # first build

    # re-encode the current version as pfor and flip CURRENT to it, the
    # way an offline compaction job would
    v0 = load_compressed_index(spark, os.path.join(root, "index_v00000"))
    save_compressed_index(v0, os.path.join(root, "index_v00001"), codec="pfor")
    _set_current(root, 1)

    _distinct_urls(generate_webpages(spark, 30, seed=62), "g2").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "g2"))
    indexer.start(f"{land}/g*/", WEBPAGES_SCHEMA).awaitTermination(120)

    s = refresh_index(spark, root, CFG)
    assert s["affected_terms"] == -1  # pfor prev -> no carry-over
    idx = load_current_index(spark, root)
    assert idx.codec == "varint" and idx.n_docs == 70
    # rank-identical vs exhaustive scoring over the decompressed index
    logical = logical_index(idx)
    qdf = spark.createDataFrame(QUERY_SET[:4], ["query_id", "content"])
    exhaustive = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search(logical, qdf, CFG).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search_wand(idx, qdf, CFG).collect()
    )
    assert got == exhaustive

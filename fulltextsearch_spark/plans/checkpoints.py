"""Resumable index builds: per-chunk checkpoints, manifests, lineage metrics.

New work relative to the reference (its build is monolithic and in-memory —
a crash loses everything, ``/root/reference/src/algorithms/inverted/
inverted_index_engine.cpp:15-35``); required by the north_star: index builds
resumable from per-partition checkpoints with lineage and throughput metrics
logged per stage.

Mechanism — explicit idempotent stage writes, NOT ``df.checkpoint()``:

* the input file list is split into **chunks**; each chunk is ingested
  (deterministic dense doc_id), tokenized and packed into the compressed
  build's delta+varint partial rows (the same map pass as
  :func:`~fulltextsearch_spark.operators.compressed_index.
  build_compressed_index`, so a chunk on disk is roughly index-sized), and
  written to ``{root}/partials/chunk=<i>/`` with a manifest JSON recording
  the input fingerprint (file names + sizes + row counts), row count,
  duration and docs/sec. A restart skips every chunk whose manifest matches
  its fingerprint and whose output is complete (``_SUCCESS``) — the
  per-partition checkpoint.
* the merge stage reads all partial chunks, runs the shared term shuffle +
  merge of the compressed build, and writes ``postings`` / ``doc_stats`` /
  ``corpus_stats`` with its own manifest fingerprinting the full chunk set
  and the merge parameters, so an unchanged input makes the whole build a
  no-op.
* every completed unit appends one line to ``{root}/_lineage.jsonl``.

doc_id determinism across resumes: chunk *offsets* come from parquet footer
row counts (a metadata-only pass — at cluster scale this is the same listing
the scan planner does), and ids within a chunk are assigned by
:func:`fulltextsearch_spark.sources.ingest.assign_dense_doc_ids` over the
sort key. Same input -> same ids, whether built in one run or five.

Filesystem scope: manifest/lineage metadata IO uses local-filesystem APIs
(``os.path``, ``open``, atomic ``os.replace``), so ``root`` must live on a
POSIX filesystem shared with the driver (local disk, NFS); the *data* reads
and writes go through Spark and work on any store. Running the metadata side
against HDFS/S3 would need a ``pyarrow.fs`` port of these helpers — an
explicit restriction, not a silent assumption.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    _index_from_partials,
    _partial_rows_fused,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids

__all__ = ["resumable_build", "load_compressed_index"]


def _strip_scheme(path: str) -> str:
    return path[7:] if path.startswith("file://") else path


def _file_meta(path: str) -> tuple[str, int, int]:
    """(path, bytes, rows) for one parquet file — metadata-only."""
    import pyarrow.parquet as pq

    local = _strip_scheme(path)
    return (path, os.path.getsize(local), pq.ParquetFile(local).metadata.num_rows)


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def _read_manifest(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _write_manifest(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, path)  # atomic: a crash mid-write never yields a valid manifest


def _lineage(root: str, record: dict) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_lineage.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def resumable_build(
    spark: SparkSession,
    input_path: str,
    root: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    files_per_chunk: int = 4,
    order_col: str = "url",
    text_col: str = "text",
    has_doc_id: bool = False,
) -> dict:
    """Build (or resume building) the compressed index at ``root``.

    Returns a summary dict: chunks_total / chunks_built / chunks_skipped,
    merge_built, n_docs, avgdl, seconds per stage. Call
    :func:`load_compressed_index(spark, f"{root}/index")` to query it.
    """
    t_start = time.perf_counter()
    files = sorted(spark.read.parquet(input_path).inputFiles())
    metas = [_file_meta(f) for f in files]
    chunks = [metas[i: i + files_per_chunk] for i in range(0, len(metas), files_per_chunk)]

    # deterministic doc_id offsets from footer row counts
    offsets, acc = [], 0
    for ch in chunks:
        offsets.append(acc)
        acc += sum(rows for _, _, rows in ch)

    built = skipped = 0
    chunk_fps = []
    for i, ch in enumerate(chunks):
        fp = _fingerprint({"files": ch, "offset": offsets[i], "stem": cfg.stem})
        chunk_fps.append(fp)
        man_path = os.path.join(root, "_manifests", f"tokenize-chunk-{i:05d}.json")
        out = os.path.join(root, "partials", f"chunk={i:05d}")
        man = _read_manifest(man_path)
        # the manifest alone is not enough: its chunk dir may be gone, or the
        # root may predate the partials layout
        if (
            man is not None
            and man.get("fingerprint") == fp
            and os.path.exists(os.path.join(out, "_SUCCESS"))
        ):
            skipped += 1
            continue
        t0 = time.perf_counter()
        # project BEFORE id assignment: the web schema carries an `html`
        # BINARY column that must never enter the range-partition shuffle
        # (pinned by tests/test_plans.py)
        keep = ["doc_id", text_col] if has_doc_id else [order_col, text_col]
        raw = spark.read.parquet(*[p for p, _, _ in ch]).select(*keep)
        if not has_doc_id:
            raw = assign_dense_doc_ids(raw, order_col=order_col)
            raw = raw.withColumn("doc_id", F.col("doc_id") + F.lit(offsets[i]))
        _partial_rows_fused(raw, text_col, cfg.stem).write.mode("overwrite").parquet(out)
        rows = sum(r for _, _, r in ch)
        secs = time.perf_counter() - t0
        record = {
            "stage": "tokenize",
            "chunk": i,
            "fingerprint": fp,
            "rows": rows,
            "seconds": round(secs, 3),
            "docs_per_sec": round(rows / secs, 1) if secs > 0 else None,
            "files": [p for p, _, _ in ch],
        }
        _write_manifest(man_path, record)
        _lineage(root, record)
        built += 1

    # ---- merge stage: postings + stats, fingerprinted over all chunks ------
    merge_fp = _fingerprint(
        {
            "chunks": chunk_fps,
            "k1": cfg.k1,
            "b": cfg.b,
            "block_size": cfg.block_size,
            "shard_postings": cfg.shard_postings,
        }
    )
    merge_man_path = os.path.join(root, "_manifests", "merge.json")
    merge_man = _read_manifest(merge_man_path)
    merge_built = False
    if merge_man is None or merge_man.get("fingerprint") != merge_fp:
        t0 = time.perf_counter()
        # read EXACTLY the current chunk paths — partition discovery over
        # {root}/partials would silently merge stale chunk=NNNNN dirs left by
        # a previous build with more chunks (resurrecting removed docs); also
        # drop those stale dirs and their manifests so a later resume cannot
        # trip over them either.
        part_root = os.path.join(root, "partials")
        current = {f"chunk={i:05d}" for i in range(len(chunks))}
        if os.path.isdir(part_root):
            for d in os.listdir(part_root):
                if d.startswith("chunk=") and d not in current:
                    shutil.rmtree(os.path.join(part_root, d), ignore_errors=True)
                    stale_man = os.path.join(
                        root, "_manifests", f"tokenize-{d.replace('=', '-')}.json"
                    )
                    if os.path.exists(stale_man):
                        os.remove(stale_man)
        chunk_paths = [os.path.join(part_root, f"chunk={i:05d}") for i in range(len(chunks))]
        idx = _index_from_partials(spark.read.parquet(*chunk_paths), cfg)

        # A6: HLL distinct-term estimate as a build metric (the reference
        # keeps a HyperLogLog over terms during its build,
        # src/datastructures/hyperloglog.hpp:7-53 via
        # inverted_index_engine.cpp:68-105). Spark's approx_count_distinct IS
        # a HLL++ aggregate; attaching it as an Observation on the postings
        # write costs zero extra jobs.
        from pyspark.sql import Observation  # noqa: PLC0415

        obs = Observation("index_metrics")
        idx = dataclasses.replace(
            idx,
            postings=idx.postings.observe(
                obs, F.approx_count_distinct("term").alias("n_terms_est")
            ),
        )
        save_compressed_index(idx, os.path.join(root, "index"))
        secs = time.perf_counter() - t0
        record = {
            "stage": "merge",
            "fingerprint": merge_fp,
            "n_docs": idx.n_docs,
            "avgdl": idx.avgdl,
            "n_terms_est": int(obs.get["n_terms_est"]),
            "seconds": round(secs, 3),
            "docs_per_sec": round(idx.n_docs / secs, 1) if secs > 0 else None,
        }
        _write_manifest(merge_man_path, record)
        _lineage(root, record)
        merge_man = record
        merge_built = True

    return {
        "chunks_total": len(chunks),
        "chunks_built": built,
        "chunks_skipped": skipped,
        "merge_built": merge_built,
        "n_docs": merge_man["n_docs"],
        "avgdl": merge_man["avgdl"],
        "seconds_total": round(time.perf_counter() - t_start, 3),
        "index_path": os.path.join(root, "index"),
    }

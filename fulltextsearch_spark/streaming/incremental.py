"""Incremental index maintenance with Structured Streaming.

The reference is strictly batch (two full passes,
``/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:15-35``);
re-indexing means rebuilding. This module adds the streaming ingestion path a
living web corpus needs:

* :class:`IncrementalIndexer` — a ``readStream`` file source over the
  landing directory; each micro-batch assigns dense doc_ids continuing the
  existing id space (offset = persisted max id + 1, deterministic within the
  batch via the same range-partitioned sort as the batch ingest), tokenizes
  with the engine tokenizer, and appends to ``{root}/delta_tokenized`` plus a
  ``doc_map`` (doc_id <-> url) — exactly-once via the streaming checkpoint +
  idempotent per-batch output paths.
* :func:`refresh_index` — **delta-append merge**, not a rebuild: the
  watermark guarantees every delta doc_id is strictly greater than anything
  already indexed, so delta postings are pure APPENDS per term. Each carried
  compressed row for an affected term is reinterpreted *metadata-only* as a
  partial-combine row (its delta+varint blocks ARE valid partial segments —
  absolutes restart at every block boundary) and merged with the delta's own
  partial rows through the same reduce the batch build uses; untouched terms
  carry over byte-identical. The tokenized base corpus is NEVER read again —
  the refresh touches only (a) the new delta batches and (b) the previous
  index version (which it must read anyway to write the next version).
  Corpus stats (N = max_id+1, avgdl) update from the previous version's
  doc_stats total plus the delta — BM25 scores legitimately shift for *all*
  docs when N/avgdl move, which the carry-over handles for free because dl
  lives in the posting and idf/avgdl are applied at query time. A new index
  version directory is written and a ``CURRENT`` pointer flips atomically;
  readers never see a half-written index.

At 100 TB the delta-vs-base asymmetry is the whole point: a day of crawl is
~0.1% of the corpus, so the refresh does O(delta + index-copy) work instead
of re-tokenizing/re-exploding 10^12 docs (the reference can only rebuild,
``inverted_index_engine.cpp:15-35``).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.tokenizer import term_counts_udf
from fulltextsearch_spark.operators.compressed_index import (
    CompressedIndex,
    _merge_partials,
    _partial_rows_tokenized,
    compressed_rows_as_partials as _compressed_rows_as_partials,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids

__all__ = ["IncrementalIndexer", "refresh_index", "load_current_index"]


def _read_watermark_file(root: str) -> dict | None:
    try:
        with open(os.path.join(root, "_watermark.json")) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _current_version(root: str) -> int:
    try:
        with open(os.path.join(root, "CURRENT")) as f:
            return int(f.read().strip())
    except OSError:
        return -1


def _set_current(root: str, version: int) -> None:
    tmp = os.path.join(root, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(root, "CURRENT"))


def load_current_index(spark: SparkSession, root: str) -> CompressedIndex:
    v = _current_version(root)
    if v < 0:
        raise FileNotFoundError(f"no CURRENT index under {root}")
    return load_compressed_index(spark, os.path.join(root, f"index_v{v:05d}"))


class IncrementalIndexer:
    """foreachBatch sink: dense-id assignment + tokenize + delta append."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
        order_col: str = "url",
        text_col: str = "text",
    ):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        self.order_col = order_col
        self.text_col = text_col
        os.makedirs(root, exist_ok=True)

    def _watermark_path(self) -> str:
        return os.path.join(self.root, "_watermark.json")

    def _read_watermark(self) -> dict | None:
        return _read_watermark_file(self.root)

    def _write_watermark(self, wm: dict) -> None:
        tmp = self._watermark_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(wm, f)
        os.replace(tmp, self._watermark_path())  # atomic

    def _next_offset(self) -> int:
        """High-watermark for dense doc_id continuation.

        The persisted watermark manifest is the fast path — rescanning all
        base+delta parquet for max(doc_id) every micro-batch was O(corpus)
        per batch. The full scan remains only as a one-time migration
        fallback for roots created before the manifest existed.
        """
        wm = self._read_watermark()
        if wm is not None:
            return int(wm["next_offset"])
        delta = os.path.join(self.root, "delta_tokenized")
        base = os.path.join(self.root, "base_tokenized")
        mx = -1
        for path in (base, delta):
            if os.path.isdir(path) and any(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
            ):
                row = self.spark.read.parquet(path).agg(F.max("doc_id")).collect()[0]
                if row[0] is not None:
                    mx = max(mx, int(row[0]))
        return mx + 1

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(self.root, "delta_tokenized", f"batch={batch_id:010d}")
        map_out = os.path.join(self.root, "doc_map", f"batch={batch_id:010d}")
        wm = self._read_watermark() or {"next_offset": self._next_offset(), "batches": {}}
        # replay idempotence: a batch with BOTH _SUCCESS markers is durable —
        # reprocessing it would assign fresh (shifted) doc_ids and corrupt
        # n_docs/avgdl. The manifest is written last, so a crash between the
        # parquet writes can never look durable with the doc_map missing; a
        # crash AFTER the writes but BEFORE the manifest (or a root created
        # before the manifest existed) leaves a durable batch the manifest
        # doesn't know — ADOPT it: seed its (offset, rows) from its own
        # parquet instead of re-running it.
        if os.path.exists(os.path.join(out, "_SUCCESS")) and os.path.exists(
            os.path.join(map_out, "_SUCCESS")
        ):
            if str(batch_id) not in wm["batches"]:
                row = (
                    self.spark.read.parquet(out)
                    .agg(
                        F.min("doc_id").alias("off"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .collect()[0]
                )
                offset, n = int(row["off"] or 0), int(row["n"])
                wm["batches"][str(batch_id)] = {"offset": offset, "rows": n}
                wm["next_offset"] = max(int(wm["next_offset"]), offset + n)
                self._write_watermark(wm)
            return
        t0 = time.perf_counter()
        offset = int(wm["next_offset"])
        # project before the id-assignment shuffle: never move `html` binaries
        slim = batch_df.select(self.order_col, self.text_col)
        with_ids = assign_dense_doc_ids(slim, order_col=self.order_col).withColumn(
            "doc_id", F.col("doc_id") + F.lit(offset)
        )
        tc = term_counts_udf(self.cfg.stem)
        tokenized = with_ids.select(
            "doc_id", tc(F.col(self.text_col)).alias("_tc"), F.col(self.order_col)
        ).select("doc_id", "_tc.dl", "_tc.terms", "_tc.tfs", self.order_col)
        tokenized.persist()
        n = tokenized.count()
        tokenized.drop(self.order_col).write.mode("overwrite").parquet(out)
        tokenized.select("doc_id", self.order_col).write.mode("overwrite").parquet(map_out)
        tokenized.unpersist()
        wm["batches"][str(batch_id)] = {"offset": offset, "rows": n}
        wm["next_offset"] = offset + n
        self._write_watermark(wm)
        secs = time.perf_counter() - t0
        with open(os.path.join(self.root, "_stream_lineage.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "batch_id": batch_id,
                        "rows": n,
                        "offset": offset,
                        "seconds": round(secs, 3),
                        "docs_per_sec": round(n / secs, 1) if secs > 0 else None,
                    }
                )
                + "\n"
            )

    def start(self, input_dir: str, schema, max_files_per_trigger: int | None = None):
        """Start the stream (availableNow drains the directory then stops)."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(input_dir)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", os.path.join(self.root, "_stream_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )


def _tokenized_union(spark: SparkSession, root: str) -> DataFrame:
    parts = []
    for sub in ("base_tokenized", "delta_tokenized"):
        path = os.path.join(root, sub)
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        ):
            parts.append(
                spark.read.parquet(path).select("doc_id", "dl", "terms", "tfs")
            )
    if not parts:
        raise FileNotFoundError(f"no tokenized data under {root}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# _compressed_rows_as_partials moved to compressed_index (shared with the
# segment-merge compaction path); re-exported via the top import block.


def refresh_index(
    spark: SparkSession, root: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict:
    """Merge new delta batches into a new index version; flip CURRENT atomically.

    Delta-append strategy: the watermark guarantees delta doc_ids exceed
    everything already indexed, so per affected term the delta postings are a
    pure append. Affected carried rows are reinterpreted as partial-combine
    rows (zero decode) and merged with the delta's partial rows through the
    standard reduce; unaffected rows carry over as-is (block-max bounds
    rescaled for the avgdl move). Neither ``base_tokenized`` nor
    already-merged delta batches are ever read — refresh IO is
    O(new delta + previous index), not O(corpus).

    Falls back to a full rebuild (reading all tokenized data) on the first
    materialization, when the watermark manifest is missing, when
    (k1, b, block_size) changed (carried block metadata would be unsafe),
    or when the previous version's streams are not varint-coded (the carry
    reinterprets enc bytes as varint partials).
    """
    t0 = time.perf_counter()
    delta_path = os.path.join(root, "delta_tokenized")
    prev_version = _current_version(root)
    wm = _read_watermark_file(root)

    prev = None
    carry_safe = False
    if prev_version >= 0:
        prev = load_compressed_index(
            spark, os.path.join(root, f"index_v{prev_version:05d}")
        )
        # carried rows keep block-max bounds computed under the PREVIOUS
        # (k1, b) and the block layout of the previous block_size; with
        # different parameters the bounds can under-estimate (WAND unsafe)
        # or the block reinterpretation is wrong. A change forces a rebuild.
        # The carry path also REINTERPRETS enc streams as varint partials
        # (_compressed_rows_as_partials) — a pfor-saved previous version
        # would decode as garbage, so any non-varint codec forces a rebuild.
        carry_safe = (
            prev.k1 == cfg.k1
            and prev.b == cfg.b
            and prev.block_size == cfg.block_size
            and prev.codec == "varint"
            and wm is not None
        )

    if not carry_safe:
        # first materialization, pre-manifest root, or parameters changed:
        # full build over everything tokenized (base + all delta batches).
        full = _tokenized_union(spark, root)
        doc_stats = full.select("doc_id", "dl")
        stats = doc_stats.agg(
            (F.max("doc_id") + F.lit(1)).alias("n"), F.sum("dl").alias("total")
        ).collect()[0]
        n_docs = int(stats["n"])
        avgdl = float(stats["total"]) / n_docs if n_docs else 0.0
        compressed = _merge_partials(_partial_rows_tokenized(full), avgdl, cfg)
        affected_count, delta_docs = -1, -1
    else:
        # batches already folded into version v satisfy offset < prev.n_docs
        # (doc_ids are dense and monotone across batches); anything at or
        # above the previous high-watermark is new.
        new_batches = sorted(
            (int(bid), meta)
            for bid, meta in wm["batches"].items()
            if int(meta["offset"]) >= prev.n_docs
        )
        if not new_batches:
            return {
                "version": prev_version,
                "n_docs": prev.n_docs,
                "avgdl": prev.avgdl,
                "affected_terms": 0,
                "delta_docs": 0,
                "unchanged": True,
                "seconds": round(time.perf_counter() - t0, 3),
            }
        delta = spark.read.parquet(
            *(
                os.path.join(delta_path, f"batch={bid:010d}")
                for bid, _ in new_batches
            )
        ).select("doc_id", "dl", "terms", "tfs")
        delta_docs = sum(int(m["rows"]) for _, m in new_batches)

        # corpus stats: previous totals + delta totals — exact integer dl
        # sums, never a base re-scan (prev doc_stats is two skinny columns).
        prev_total = int(
            prev.doc_stats.agg(F.sum("dl").alias("t")).collect()[0]["t"] or 0
        )
        dstats = delta.agg(
            (F.max("doc_id") + F.lit(1)).alias("n"), F.sum("dl").alias("total")
        ).collect()[0]
        n_docs = max(prev.n_docs, int(dstats["n"] or 0))
        total = prev_total + int(dstats["total"] or 0)
        avgdl = float(total) / n_docs if n_docs else 0.0
        doc_stats = prev.doc_stats.unionByName(delta.select("doc_id", "dl"))

        delta_terms = delta.select(F.explode("terms").alias("term")).distinct()
        affected_count = delta_terms.count()
        carried = prev.postings.join(F.broadcast(delta_terms), "term", "left_anti")
        # Carried block_max_tfpart was computed with the OLD avgdl. tfpart is
        # monotone in avgdl with ratio bounded by avgdl_new/avgdl_old (the
        # dl-term in the denominator scales by avgdl_old/avgdl_new and the
        # constant part only dampens), so scaling stale bounds by
        # max(1, avgdl_new/avgdl_old) keeps block-max pruning SAFE (bounds
        # may loosen, never under-estimate); exact scores are recomputed from
        # tf/dl at query time so ranks are unaffected.
        factor = max(1.0, avgdl / prev.avgdl) if prev.avgdl > 0 else 1.0
        carried = carried.withColumn(
            "block_max_tfpart",
            F.transform("block_max_tfpart", lambda x: x * F.lit(factor)),
        )
        # affected terms: carried compressed rows AS partials (no decode)
        # + delta partials, through the standard partial-combine reduce.
        # Delta doc_ids all exceed the carried rows' (watermark), so the
        # reduce's pass-through path concatenates byte streams and only
        # re-blocks; block-max metadata recomputes under the NEW avgdl.
        prev_partials = _compressed_rows_as_partials(
            prev.postings.join(F.broadcast(delta_terms), "term", "inner"),
            prev.block_size,
        )
        rebuilt = _merge_partials(
            prev_partials.unionByName(_partial_rows_tokenized(delta)), avgdl, cfg
        )
        compressed = carried.unionByName(rebuilt)

    new_version = prev_version + 1
    idx = CompressedIndex(
        postings=compressed,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        block_size=cfg.block_size,
        k1=cfg.k1,
        b=cfg.b,
    )
    save_compressed_index(idx, os.path.join(root, f"index_v{new_version:05d}"))
    _set_current(root, new_version)
    return {
        "version": new_version,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "affected_terms": affected_count,
        "delta_docs": delta_docs,
        "seconds": round(time.perf_counter() - t0, 3),
    }

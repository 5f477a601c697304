"""Physical compressed index: delta+varint posting blocks as Spark tables.

This is the on-disk / in-flight index format required by the north_star at
10^12-doc scale (the reference stores raw ``vector<(uint32,uint32)>`` pairs
and dumps them verbatim, ``/root/reference/src/data-structures/
hash_index.hpp:137-173`` — fine in one address space, untenable distributed).

One row per term (or per (term, doc-range shard) when
``cfg.shard_postings`` caps row size — see :func:`_merge_partials`)::

    term STRING, df BIGINT, count BIGINT,
    doc_ids_enc BINARY,   -- block-restarting delta + LEB128 varint
    tfs_enc BINARY, dls_enc BINARY,
    block_first_doc ARRAY<BIGINT>,   -- skip pointers (first docID per block)
    block_off_doc/tf/dl ARRAY<BIGINT>,  -- byte offsets: blocks decode alone
    block_max_tf ARRAY<BIGINT>,
    block_max_tfpart ARRAY<DOUBLE>,  -- max BM25 tf-part per block (block-max)
    block_max_tfdl ARRAY<DOUBLE>     -- max tf/dl per block (TF-IDF block-max)

Every batch build runs one core with two Python stages, both
``mapInArrow``: the map stage tokenizes text and packs each task's postings
into delta+varint byte partials (:func:`_pack_texts`); the partials shuffle
by term, and the merge stage (:func:`_merge_partials`) concatenates them
into the rows above with their block-max metadata.
:func:`_index_from_partials` wires the two and reduces corpus stats from
per-task sentinel rows. Two entry points feed it:
:func:`build_compressed_index` (a DataFrame with ``doc_id``) and
:func:`build_compressed_index_pyfiles` (a parquet path, read by the workers
with pyarrow). Every block carries enough metadata for skip + block-max
pruning in the MaxScore/WAND query path
(:mod:`fulltextsearch_spark.operators.wand`).

Scale notes: rows are per *term*; saved tables are range-sorted by term
(:func:`save_compressed_index`), so a term lookup reads one row group. A
head term's row size is bounded by ``cfg.shard_postings`` and by varint
compression (~2-3 bytes/posting vs 24 raw). The format is
streaming-friendly: blocks decode independently via byte offsets.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.compression import (
    check_codec,
    decode_stream,
    encode_stream,
    varint_decode,
    varint_encode,
    varint_nbytes,
)

__all__ = [
    "CompressedIndex",
    "COMPRESSED_POSTINGS_FIELDS",
    "decompress_postings",
    "build_compressed_index",
    "build_compressed_index_pyfiles",
    "save_compressed_index",
    "load_compressed_index",
]


COMPRESSED_POSTINGS_FIELDS = T.StructType(
    [
        T.StructField("count", T.LongType()),
        T.StructField("doc_ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
        T.StructField("block_first_doc", T.ArrayType(T.LongType())),
        T.StructField("block_off_doc", T.ArrayType(T.LongType())),
        T.StructField("block_off_tf", T.ArrayType(T.LongType())),
        T.StructField("block_off_dl", T.ArrayType(T.LongType())),
        T.StructField("block_max_tf", T.ArrayType(T.LongType())),
        T.StructField("block_max_tfpart", T.ArrayType(T.DoubleType())),
        T.StructField("block_max_tfdl", T.ArrayType(T.DoubleType())),
    ]
)


@dataclass
class CompressedIndex:
    """Physical index: compressed postings + doc stats + corpus scalars.

    ``k1``/``b`` are the BM25 parameters the block-max bounds were computed
    with at build time; the query path asserts its config matches (standard
    for impact-ordered indexes — a different (k1, b) needs a re-encode of the
    block metadata, not of the postings themselves).
    """

    postings: DataFrame  # the compressed schema above, one row per term
    doc_stats: DataFrame
    n_docs: int
    avgdl: float
    block_size: int
    k1: float
    b: float
    codec: str = "varint"  # stream codec of the enc columns (one of compression.CODECS)


def _encode_one(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
    k1: float,
    b: float,
    avgdl: float,
) -> dict:
    """Encode one term's sorted postings into the compressed row dict."""
    n = doc_ids.size
    block_starts = np.arange(0, n, block_size)
    # block-restarting deltas: first value of each block stored absolute, so
    # any block decodes without its predecessors (skip support).
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[block_starts] = doc_ids[block_starts]

    tf_f = tfs.astype(np.float64)
    dl_f = dls.astype(np.float64)
    tfpart = tf_f * (k1 + 1.0) / (tf_f + k1 * (1.0 - b + b * (dl_f / float(avgdl))))
    # reference dl can be 0 only for docs with no tokens, which never appear
    # in postings; guard anyway for tf/dl.
    tfdl = np.divide(tf_f, dl_f, out=np.zeros_like(tf_f), where=dl_f > 0)

    enc_d, off_d = encode_stream(deltas, block_size, "varint")
    enc_t, off_t = encode_stream(tfs, block_size, "varint")
    enc_l, off_l = encode_stream(dls, block_size, "varint")
    return {
        "count": int(n),
        "doc_ids_enc": enc_d,
        "tfs_enc": enc_t,
        "dls_enc": enc_l,
        "block_first_doc": doc_ids[block_starts].tolist(),
        "block_off_doc": off_d.tolist(),
        "block_off_tf": off_t.tolist(),
        "block_off_dl": off_l.tolist(),
        "block_max_tf": np.maximum.reduceat(tfs, block_starts).tolist(),
        "block_max_tfpart": np.maximum.reduceat(tfpart, block_starts).tolist(),
        "block_max_tfdl": np.maximum.reduceat(tfdl, block_starts).tolist(),
    }


_PARTIAL_FIELDS = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("seg_lens", T.ArrayType(T.LongType())),  # postings per segment
        T.StructField("doc_bytes", T.BinaryType()),  # delta+varint, absolute at each segment start
        T.StructField("tf_bytes", T.BinaryType()),  # varint
        T.StructField("dl_bytes", T.BinaryType()),  # varint
    ]
)


# pack once per ~2M buffered postings, not per 10k-row Arrow batch: an Arrow
# batch of exploded rows covers only ~50 docs, so per-batch packing would
# yield avg run length ~2 and nearly one partial per posting (measured: no
# shuffle reduction at all). Packed segments then ACCUMULATE across buffers so
# each map task emits ONE partial row per term it saw — partial-row count is
# vocab x tasks, independent of task size (per-partial-row overhead on the
# reduce side was the dominant merge cost when rows were per-buffer). Task
# memory: the sort buffer (~64 MB of int64 columns) + the task's own
# compressed output (bytes), both bounded.
_BUFFER_ROWS = 1 << 21

# reduce-side vectorized-encode sub-chunk: postings per _encode_chunk_vec
# call (measured sweet spot; see _merge_partials._encode_batch docstring)
_MERGE_CHUNK_POSTINGS = 1 << 16


def _binary_from_offsets(offsets: np.ndarray, buf):
    """``len(offsets) - 1`` binary cells over one contiguous buffer, zero-copy:
    cell ``i`` is ``buf[offsets[i]:offsets[i + 1]]``.

    Arrow ``binary`` offsets are int32 and would wrap silently past 2 GiB,
    so this raises first. Callers pass one pack's or one merge sub-chunk's
    stream, so this is a tripwire, not a live path.
    """
    import pyarrow as pa  # noqa: PLC0415

    if offsets[-1] > np.iinfo(np.int32).max:
        raise OverflowError(
            "binary cells exceed 2 GiB; shrink the pack or merge chunk, or "
            "switch these cells to pa.large_binary()"
        )
    offs = np.ascontiguousarray(offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), offs.size - 1, [None, pa.py_buffer(offs), pa.py_buffer(buf)]
    )


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """Binary Arrow array -> (int64 cell offsets from 0, its cells' bytes as
    one contiguous uint8 view). Cells of an Arrow binary array are adjacent
    in its data buffer, so no byte is copied; a sliced array is rebased."""
    _, ob, db = arr.buffers()
    off = np.frombuffer(ob, dtype=np.int32, count=len(arr) + 1, offset=arr.offset * 4)
    off = off.astype(np.int64)
    data = np.frombuffer(db, dtype=np.uint8) if db is not None else np.empty(0, np.uint8)
    return off - off[0], data[off[0] : off[-1]]


def _list_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """List Arrow array -> (int64 list offsets from 0, its values as numpy);
    a sliced array is rebased."""
    off = arr.offsets.to_numpy().astype(np.int64)
    return off - off[0], arr.values.to_numpy()[off[0] : off[-1]]


class _PartialAccumulator:
    """Accumulates packed per-term segments across a task's buffers.

    ``add_buffer`` does only vectorized work (sort, run boundaries, one
    varint encode per stream) and stores the pack; Python-level per-term
    work is deferred to :meth:`emit`. The common one-buffer-per-task case
    (row-group-sized tasks) emits ZERO-COPY: the per-term binary cells are
    adjacent slices of the encode buffer, so the output BinaryArrays are
    built from (offsets, buffer) pairs directly — no per-run byte slicing,
    no joins, no Python term boxing beyond the Arrow take.
    """

    def __init__(self):
        self.packs: list = []

    def add_buffer(self, uniq, codes, docs, tfs, dls, presorted: bool = False):
        """One buffered pack: sort by (term, doc) unless ``presorted``
        (term_counts_flat(order="term") already is), varint-encode each
        stream once, store run boundaries + encode buffers.

        ``uniq``/``codes`` are a pyarrow dictionary-encode of the per-posting
        term strings (C speed — boxing 14M Python strings per 400k docs was
        the entire cost of a pandas-object pack, measured ~5 us/posting);
        everything else is numpy on int64.
        """
        if presorted:
            # The caller sorted by (term-rank, batch-row-index); that is
            # (term, doc) order only when doc_ids are monotone in row order
            # (true for the manifest builds' arange ids, NOT for arbitrary
            # user frames or bucket-steered ids). Guard with one vectorized
            # check — scrambled ids would still merge correctly via the
            # reduce-side sort fallback, but with bloated negative-delta
            # varints and the slow per-unit path, so fall back here instead.
            if codes.size > 1:
                same = codes[1:] == codes[:-1]
                presorted = not bool(np.any(same & (docs[1:] <= docs[:-1])))
        if not presorted:
            order = np.lexsort((docs, codes))
            codes, docs, tfs, dls = codes[order], docs[order], tfs[order], dls[order]
        starts = np.concatenate(([0], np.flatnonzero(codes[1:] != codes[:-1]) + 1))
        ends = np.concatenate((starts[1:], [codes.size]))
        deltas = np.empty_like(docs)
        deltas[1:] = docs[1:] - docs[:-1]
        deltas[starts] = docs[starts]
        # one vectorized encode per stream; per-term slices via byte offsets
        nb_d, nb_t, nb_l = varint_nbytes(deltas), varint_nbytes(tfs), varint_nbytes(dls)
        off_d = np.concatenate(([0], np.cumsum(nb_d)))
        off_t = np.concatenate(([0], np.cumsum(nb_t)))
        off_l = np.concatenate(([0], np.cumsum(nb_l)))
        enc_d = varint_encode(deltas, nb_d)
        enc_t = varint_encode(tfs, nb_t)
        enc_l = varint_encode(dls, nb_l)
        self.packs.append(
            (uniq, codes, starts, ends, docs[starts], enc_d, enc_t, enc_l,
             off_d, off_t, off_l)
        )

    @staticmethod
    def _pack_batch(pack):
        """One pack -> one RecordBatch, zero-copy: per-term binary cells are
        adjacent slices of the encode buffer, so the BinaryArrays are built
        from (offsets, buffer) pairs directly."""
        import pyarrow as pa  # noqa: PLC0415

        uniq, codes, starts, ends, first_docs, enc_d, enc_t, enc_l, off_d, off_t, off_l = pack
        n_runs = starts.size
        term_arr = uniq.take(pa.array(codes[starts]))
        bounds = np.append(starts, codes.size)
        seg_lens = pa.ListArray.from_arrays(
            np.arange(n_runs + 1, dtype=np.int32),
            pa.array(ends - starts, type=pa.int64()),
        )
        return pa.RecordBatch.from_arrays(
            [
                term_arr.cast(pa.string()),
                pa.array(first_docs, type=pa.int64()),
                seg_lens,
                _binary_from_offsets(off_d[bounds], enc_d),
                _binary_from_offsets(off_t[bounds], enc_t),
                _binary_from_offsets(off_l[bounds], enc_l),
            ],
            names=["term", "first_doc", "seg_lens", "doc_bytes", "tf_bytes", "dl_bytes"],
        )

    def emit_batches(self) -> list:
        """Zero-copy path for row-group-sized buffers: one RecordBatch PER
        PACK (so per-term rows = vocab x row-groups rather than vocab x
        tasks — a ~rg/task factor, not the per-50-doc-buffer blowup the
        dict merge exists to prevent). The term-sharded merge already
        combines multiple partial rows per term by (term, first_doc)."""
        packs, self.packs = self.packs, []
        return [self._pack_batch(p) for p in packs]

    def emit(self):
        """One RecordBatch with a single row per term seen by this task."""
        import pyarrow as pa  # noqa: PLC0415

        packs, self.packs = self.packs, []
        if not packs:
            return None
        if len(packs) == 1:
            return self._pack_batch(packs[0])
        acc: dict = {}
        for uniq, codes, starts, ends, first_docs, enc_d, enc_t, enc_l, off_d, off_t, off_l in packs:
            run_terms = uniq.take(
                __import__("pyarrow").array(codes[starts])
            ).to_pylist()
            for i, (s, e) in enumerate(zip(starts, ends)):
                ent = acc.get(run_terms[i])
                if ent is None:
                    ent = acc[run_terms[i]] = [int(first_docs[i]), [], [], [], []]
                ent[1].append(int(e - s))
                ent[2].append(bytes(enc_d[off_d[s] : off_d[e]]))
                ent[3].append(bytes(enc_t[off_t[s] : off_t[e]]))
                ent[4].append(bytes(enc_l[off_l[s] : off_l[e]]))
        terms = list(acc.keys())
        ents = [acc[t] for t in terms]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(terms, type=pa.string()),
                pa.array([e[0] for e in ents], type=pa.int64()),
                pa.array([e[1] for e in ents], type=pa.list_(pa.int64())),
                pa.array([b"".join(e[2]) for e in ents], type=pa.binary()),
                pa.array([b"".join(e[3]) for e in ents], type=pa.binary()),
                pa.array([b"".join(e[4]) for e in ents], type=pa.binary()),
            ],
            names=["term", "first_doc", "seg_lens", "doc_bytes", "tf_bytes", "dl_bytes"],
        )


def _partial_rows(doc_tf: DataFrame) -> DataFrame:
    """Map-side combine: pack exploded (doc_id, term, tf, dl) rows into
    delta+varint byte partials BEFORE the term shuffle.

    One output row per (term, map task): the shuffle then moves
    ~vocab x partitions compact binary rows (~4 bytes/posting) instead of one
    35+-byte row per (doc, term) — measured ~7x fewer shuffle bytes and
    orders-of-magnitude fewer shuffle rows on the web corpus, which is what
    makes the build scale with cores instead of with shuffle disk bandwidth.
    These partials keyed by source partition ARE the salted partial runs of
    the north rule's skew-handling merge: a head term's work is spread over
    every map task, and the reduce side only concatenates byte streams.
    """

    def _map(batches):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        packer = _PartialAccumulator()

        def pack(tbls):
            tbl = pa.concat_tables(tbls).combine_chunks()
            dict_arr = pc.dictionary_encode(tbl.column("term").chunk(0))
            packer.add_buffer(
                dict_arr.dictionary,
                dict_arr.indices.to_numpy().astype(np.int64),
                tbl.column("doc_id").to_numpy().astype(np.int64),
                tbl.column("tf").to_numpy().astype(np.int64),
                tbl.column("dl").to_numpy().astype(np.int64),
            )

        buf: list = []
        buffered = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            buf.append(pa.Table.from_batches([rb]))
            buffered += rb.num_rows
            if buffered >= _BUFFER_ROWS:
                pack(buf)
                buf, buffered = [], 0
        if buf:
            pack(buf)
        out = packer.emit()
        if out is not None:
            yield out

    return doc_tf.mapInArrow(_map, schema=_PARTIAL_FIELDS)


def _partial_rows_tokenized(with_tc: DataFrame) -> DataFrame:
    """Map-side combine straight from the tokenized (doc_id, dl, terms, tfs)
    frame — no JVM ``explode`` and no per-posting duplication of doc_id/dl in
    the Arrow stream. ``list_flatten`` exposes the per-posting term and
    tf values zero-copy; doc_id/dl are broadcast with one ``np.repeat``.
    """

    def _map(batches):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        packer = _PartialAccumulator()

        def pack(tbls):
            tbl = pa.concat_tables(tbls).combine_chunks()
            terms_la = tbl.column("terms").chunk(0)
            tfs_la = tbl.column("tfs").chunk(0)
            counts = pc.list_value_length(terms_la).to_numpy().astype(np.int64)
            dict_arr = pc.dictionary_encode(pc.list_flatten(terms_la))
            packer.add_buffer(
                dict_arr.dictionary,
                dict_arr.indices.to_numpy().astype(np.int64),
                np.repeat(tbl.column("doc_id").to_numpy().astype(np.int64), counts),
                pc.list_flatten(tfs_la).to_numpy().astype(np.int64),
                np.repeat(tbl.column("dl").to_numpy().astype(np.int64), counts),
            )

        buf: list = []
        buffered = 0  # postings, not rows
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            buf.append(tbl)
            buffered += int(
                pc.sum(pc.list_value_length(tbl.column("terms"))).as_py() or 0
            )
            if buffered >= _BUFFER_ROWS:
                pack(buf)
                buf, buffered = [], 0
        if buf:
            pack(buf)
        out = packer.emit()
        if out is not None:
            yield out

    return with_tc.select("doc_id", "dl", "terms", "tfs").mapInArrow(
        _map, schema=_PARTIAL_FIELDS
    )


def _open_parquet(path: str):
    """Open a parquet file for footer/row-group reads on ANY pyarrow.fs-
    supported store: local paths and ``file://`` URIs go straight to
    :class:`pyarrow.parquet.ParquetFile`; other URI schemes (s3://, hdfs://,
    gs://) resolve through ``pyarrow.fs.FileSystem.from_uri`` — they must
    NOT be mangled into local paths (a stripped-scheme s3 key is not a
    filesystem path)."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    if "://" in path and not path.startswith("file://"):
        from pyarrow import fs as pafs  # noqa: PLC0415

        filesystem, inner = pafs.FileSystem.from_uri(path)
        return pq.ParquetFile(filesystem.open_input_file(inner))
    local = path.removeprefix("file://")
    if not local.startswith("/"):
        local = "/" + local.lstrip("/")
    return pq.ParquetFile(local)


# Sentinel "term" for per-task (doc_id, dl) streams in the fused build.
# Cannot collide with a real term: tokens consist only of the 67 whitelist
# chars, and \x00 is a delimiter byte.
_DOCSTATS_TERM = "\x00docstats"
# Scalar sibling of the docstats sentinel: one row per task carrying the
# task's pre-aggregated (max doc_id in first_doc, [n_docs, sum_dl] in
# seg_lens) so n_docs/avgdl reduce with a pure-JVM agg over the cached
# partials — no Python decode stage on the build's critical path (it was
# ~12% of a 2-core build).
_DOCAGG_TERM = "\x00docagg"


def _docstats_sentinel(doc_parts: list[np.ndarray], dl_parts: list[np.ndarray]):
    """TWO sentinel partial rows: this task's (doc_id, dl) streams plus the
    scalar pre-aggregate row (see ``_DOCAGG_TERM``)."""
    import pyarrow as pa  # noqa: PLC0415

    docs_all = np.concatenate(doc_parts)
    dls_all = np.concatenate(dl_parts)
    o = np.argsort(docs_all, kind="stable")
    docs_all, dls_all = docs_all[o], dls_all[o]
    deltas = np.empty_like(docs_all)
    deltas[0] = docs_all[0]
    deltas[1:] = np.diff(docs_all)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([_DOCSTATS_TERM, _DOCAGG_TERM], type=pa.string()),
            pa.array([int(docs_all[0]), int(docs_all[-1])], type=pa.int64()),
            pa.array(
                [[int(docs_all.size)], [int(docs_all.size), int(dls_all.sum())]],
                type=pa.list_(pa.int64()),
            ),
            pa.array([varint_encode(deltas), b""], type=pa.binary()),
            pa.array([b"", b""], type=pa.binary()),
            pa.array([varint_encode(dls_all), b""], type=pa.binary()),
        ],
        names=["term", "first_doc", "seg_lens", "doc_bytes", "tf_bytes", "dl_bytes"],
    )


def _pack_texts(pairs, stem: bool):
    """``(doc_ids, text_array)`` pairs -> this task's partial RecordBatches.

    The one text -> partials loop of every batch build: ``term_counts_flat``
    outputs (term ranks + counts) feed the partial packer directly in the
    same Python worker, so token arrays are never materialized or sent back
    over Arrow IPC. After the term partials it yields the task's sentinel
    rows (``_DOCSTATS_TERM``/``_DOCAGG_TERM``), so corpus stats and
    ``doc_stats`` come from the same single pass.
    """
    from fulltextsearch_spark.functions.tokenizer import term_counts_flat  # noqa: PLC0415

    packer = _PartialAccumulator()
    doc_parts: list[np.ndarray] = []
    dl_parts: list[np.ndarray] = []
    for doc_ids, text in pairs:
        dl, sorted_terms, ud, uc, cnt = term_counts_flat(text, stem, order="term")
        doc_parts.append(doc_ids)
        dl_parts.append(dl)
        if uc.size:
            packer.add_buffer(sorted_terms, uc, doc_ids[ud], cnt, dl[ud], presorted=True)
    yield from packer.emit_batches()
    if doc_parts:
        yield _docstats_sentinel(doc_parts, dl_parts)


def _partial_rows_fused(docs: DataFrame, text_col: str, stem: bool) -> DataFrame:
    """(doc_id, text) frame -> delta+varint partials in ONE Arrow pass
    (:func:`_pack_texts` over the frame's Arrow batches)."""

    def _map(batches):
        yield from _pack_texts(
            (
                (
                    rb.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64),
                    rb.column("text"),
                )
                for rb in batches
                if rb.num_rows
            ),
            stem,
        )

    slim = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    return slim.mapInArrow(_map, schema=_PARTIAL_FIELDS)


def _decode_doc_stats(sentinels: DataFrame) -> DataFrame:
    """Sentinel partial rows -> (doc_id, dl) frame."""

    def _map(batches):
        import pyarrow as pa  # noqa: PLC0415

        for rb in batches:
            for i in range(rb.num_rows):
                n = int(rb.column("seg_lens")[i][0].as_py())
                deltas = varint_decode(
                    rb.column("doc_bytes")[i].as_py(), n
                ).astype(np.int64)
                dls = varint_decode(rb.column("dl_bytes")[i].as_py(), n).astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.cumsum(deltas)), pa.array(dls)],
                    names=["doc_id", "dl"],
                )

    return sentinels.mapInArrow(_map, "doc_id long, dl long")


def _merge_partials(
    partials: DataFrame,
    avgdl: float,
    cfg: EngineConfig,
    num_partitions: int | None = None,
) -> DataFrame:
    """Partial rows (:data:`_PARTIAL_FIELDS`) -> compressed per-term rows.

    Shuffles the compact partials by term (bytes moved ≈ compressed index
    size, not exploded-row size), sorts (term, first_doc), then per term
    concatenates the byte streams (varint streams concatenate as-is; docID
    absolutes are restored with one segmented-cumsum fixup) and emits the
    block-restarting encoded row with block-max metadata. The reduce is
    Arrow in, Arrow out (``mapInArrow``): input streams are read as buffer
    views and every output column is built as one Arrow array, so no cell
    is boxed into a Python object. Reduce memory is bounded by one term's
    buffers: ``cfg.shard_postings`` caps it by emitting several
    self-contained doc-range rows per head term (each with its own
    blocks/offsets/block-max); readers treat every row as an independent
    posting slice and derive the term's df as the sum of row counts
    (pinned by tests/test_skew.py::test_sharded_head_term*).
    """
    block_size, k1, b = cfg.block_size, cfg.k1, cfg.b
    spark = partials.sparkSession
    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    out_schema = T.StructType(
        [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
        + list(COMPRESSED_POSTINGS_FIELDS.fields)
    )

    shard_after = cfg.shard_postings  # None -> one row per term

    def _encode_batch(rb):
        """Vectorized encode in term-aligned sub-chunks of bounded postings.

        The cap keeps every scratch array ~0.5 MB: small enough that the
        allocator reuses warm heap pages instead of mmap-ing fresh ones.
        Whole-batch encoding (arrays 10-300 MB) measured 2-8x SLOWER than
        even the per-term loop on this class of VM — first-touch page
        faults on every fresh large allocation dwarf the saved numpy call
        overhead. 64k postings is the measured sweet spot (old per-term
        loop 8.5-14.6s on a 44M-posting merge; 64k-chunked vector kernel
        4.6-7.7s; 1M-chunked 26-35s). A unit larger than the cap (head
        term up to ``shard_after``) still encodes in one piece — same
        bound the per-term path had.
        """
        import pyarrow.compute as pc  # noqa: PLC0415

        seg_off, seg_all = _list_parts(rb.column("seg_lens"))
        cum = np.concatenate(([0], np.cumsum(seg_all)))[seg_off[1:]]
        terms = rb.column("term")
        change = pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
        tb_ends = np.append(np.flatnonzero(change) + 1, rb.num_rows)
        start = 0
        while start < rb.num_rows:
            base = cum[start - 1] if start else 0
            j = int(np.searchsorted(cum[tb_ends - 1], base + _MERGE_CHUNK_POSTINGS))
            end = int(tb_ends[min(j, len(tb_ends) - 1)])
            out = _encode_chunk_vec(
                rb.slice(start, end - start), shard_after, block_size, k1, b, avgdl
            )
            if out is not None:
                yield out
            start = end

    def _merge_stream(batches):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        def one(rbs):  # single-chunk columns pass through uncopied
            return pa.Table.from_batches(rbs).combine_chunks().to_batches()[0]

        # rows since the last complete term: the tail of one batch, or more
        # only for a term with more partial rows (one per (term, pack))
        # than a batch holds — compact byte partials, not postings
        pending: list = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            terms = rb.column("term")
            # rows arrive sorted by term: the last term's rows are the tail
            cut = rb.num_rows - pc.sum(pc.equal(terms, terms[-1])).as_py()
            if cut == 0:
                pending.append(rb)
                continue
            yield from _encode_batch(one(pending + [rb.slice(0, cut)]))
            pending = [rb.slice(cut)]
        if pending:
            yield from _encode_batch(one(pending))

    arranged = partials.repartition(n_parts, F.col("term")).sortWithinPartitions(
        "term", "first_doc"
    )
    return arranged.mapInArrow(_merge_stream, schema=out_schema)


def _spliced_cells(bounds: np.ndarray, buf: np.ndarray, repl: dict):
    """Binary cells ``buf[bounds[u]:bounds[u + 1]]``, cell ``u`` replaced by
    ``repl[u]`` bytes where given; zero-copy when ``repl`` is empty."""
    if not repl:
        return _binary_from_offsets(bounds - bounds[0], buf[bounds[0] : bounds[-1]])
    lens = np.diff(bounds)
    pieces: list = []
    prev = 0
    for u in sorted(repl):
        pieces += [buf[bounds[prev] : bounds[u]], repl[u]]
        lens[u] = len(repl[u])
        prev = u + 1
    pieces.append(buf[bounds[prev] : bounds[-1]])
    return _binary_from_offsets(
        np.concatenate(([0], np.cumsum(lens))), b"".join(pieces)
    )


def _encode_chunk_vec(
    rb,
    shard_after: int | None,
    block_size: int,
    k1: float,
    b: float,
    avgdl: float,
):
    """All partial rows of COMPLETE units -> one output RecordBatch (or
    ``None`` when they hold no postings), batch-vectorized.

    The per-term streaming flush this replaces spent ~0.9 ms of numpy
    call overhead per term (10k-term corpus: 9s single-core merge, only
    a third of it byte work). Here every decode, delta/varint encode,
    and block-max reduction runs ONCE over the whole batch; per-unit
    cells are offsets into those arrays (unit = term, or (term,
    doc-range shard) when ``shard_after`` cuts a head term — cut points
    replicate the streaming rule: emit once the running posting count
    since the last cut reaches the threshold, at partial-row
    granularity). Units are contiguous runs of rows and of postings, so
    each enc column is one Arrow array over the re-encoded doc stream or
    the passed-through tf/dl input buffer, and each block column one
    list array over the per-block values. Units whose concatenated
    partials are not already doc-ascending (never the case under dense
    id assignment) fall back to a sort + :func:`_encode_one` re-encode
    spliced into those columns.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    nrows = rb.num_rows
    seg_off, seg_all = _list_parts(rb.column("seg_lens"))
    seg_cum = np.concatenate(([0], np.cumsum(seg_all)))
    row_ppos = seg_cum[seg_off]  # postings before each row
    row_counts = np.diff(row_ppos)
    total = int(row_ppos[-1])
    if total == 0:
        return None

    terms = rb.column("term")
    change = np.flatnonzero(
        pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
    ) + 1
    t_starts = np.concatenate(([0], change))
    t_ends = np.concatenate((change, [nrows]))
    if shard_after is None:
        u_starts_rows, u_ends_rows = t_starts, t_ends
    else:
        us: list[int] = []
        ue: list[int] = []
        for s, e in zip(t_starts, t_ends):
            if row_ppos[e] - row_ppos[s] < shard_after:
                us.append(int(s))
                ue.append(int(e))
                continue
            pending = 0
            start = int(s)
            for i in range(int(s), int(e)):
                pending += int(row_counts[i])
                if pending >= shard_after:
                    us.append(start)
                    ue.append(i + 1)
                    start = i + 1
                    pending = 0
            if start < e:
                us.append(start)
                ue.append(int(e))
        u_starts_rows = np.asarray(us, dtype=np.int64)
        u_ends_rows = np.asarray(ue, dtype=np.int64)

    u_pstart = row_ppos[u_starts_rows]
    u_pend = row_ppos[u_ends_rows]
    u_counts = u_pend - u_pstart

    _, db_all = _binary_parts(rb.column("doc_bytes"))
    tb_off, tb_all = _binary_parts(rb.column("tf_bytes"))
    lb_off, lb_all = _binary_parts(rb.column("dl_bytes"))
    dec = varint_decode(db_all, total).astype(np.int64)
    tfs = varint_decode(tb_all, total).astype(np.int64)
    dls = varint_decode(lb_all, total).astype(np.int64)
    seg_starts = seg_cum[:-1][seg_all > 0] if np.any(seg_all == 0) else seg_cum[:-1]
    seg_lens_nz = seg_all[seg_all > 0] if np.any(seg_all == 0) else seg_all
    c = np.cumsum(dec)
    # each segment stores its first docID absolute, the rest as deltas:
    # docs[i] = c[i] - (cumsum before the segment) within each segment
    offs = c[seg_starts] - dec[seg_starts]
    docs = c - np.repeat(offs, seg_lens_nz)

    # global block starts: unit start + k*block_size
    nblocks_u = (u_counts + block_size - 1) // block_size
    tot_blocks = int(nblocks_u.sum())
    bl_cum = np.concatenate(([0], np.cumsum(nblocks_u)))
    bidx = np.arange(tot_blocks, dtype=np.int64) - np.repeat(bl_cum[:-1], nblocks_u)
    block_starts = np.repeat(u_pstart, nblocks_u) + bidx * block_size

    # block-restarting deltas: first value of each block stored absolute
    deltas = np.empty(total, dtype=np.int64)
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[block_starts] = docs[block_starts]

    # units whose docs are not strictly ascending need the sort fallback: a
    # violation at position p belongs to the unit covering p; it is real
    # unless p is that unit's own start (units restart absolute)
    viol = np.flatnonzero(docs[1:] <= docs[:-1]) + 1
    unit_of = np.searchsorted(u_pend, viol, side="right")
    bad_units = np.unique(unit_of[viol != u_pstart[unit_of]]).tolist()

    nb_d = varint_nbytes(deltas)
    enc_all = np.frombuffer(varint_encode(deltas, nb_d), dtype=np.uint8)
    cum_d = np.concatenate(([0], np.cumsum(nb_d)))
    cum_t = np.concatenate(([0], np.cumsum(varint_nbytes(tfs))))
    cum_l = np.concatenate(([0], np.cumsum(varint_nbytes(dls))))

    tf_f = tfs.astype(np.float64)
    dl_f = dls.astype(np.float64)
    tfpart = tf_f * (k1 + 1.0) / (tf_f + k1 * (1.0 - b + b * (dl_f / float(avgdl))))
    tfdl = np.divide(tf_f, dl_f, out=np.zeros_like(tf_f), where=dl_f > 0)
    # per-block offsets are relative to their unit's first byte
    blocks = {
        "block_first_doc": docs[block_starts],
        "block_off_doc": cum_d[block_starts] - np.repeat(cum_d[u_pstart], nblocks_u),
        "block_off_tf": cum_t[block_starts] - np.repeat(cum_t[u_pstart], nblocks_u),
        "block_off_dl": cum_l[block_starts] - np.repeat(cum_l[u_pstart], nblocks_u),
        "block_max_tf": np.maximum.reduceat(tfs, block_starts),
        "block_max_tfpart": np.maximum.reduceat(tfpart, block_starts),
        "block_max_tfdl": np.maximum.reduceat(tfdl, block_starts),
    }

    # the fallback keeps each unit's posting (so block) count: only the
    # block values and the three streams' cells change
    repl: dict[str, dict[int, bytes]] = {"doc_ids_enc": {}, "tfs_enc": {}, "dls_enc": {}}
    for u in bad_units:
        ps, pe = int(u_pstart[u]), int(u_pend[u])
        o = np.argsort(docs[ps:pe], kind="stable")
        row = _encode_one(
            docs[ps:pe][o], tfs[ps:pe][o], dls[ps:pe][o], block_size, k1, b, avgdl
        )
        for name, enc in repl.items():
            enc[u] = row[name]
        for name, vals in blocks.items():
            vals[bl_cum[u] : bl_cum[u + 1]] = row[name]

    u_rows = np.append(u_starts_rows, nrows)
    list_offs = pa.array(bl_cum, type=pa.int32())
    counts = pa.array(u_counts, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            terms.take(pa.array(u_starts_rows)),
            counts,
            counts,
            _spliced_cells(cum_d[np.append(u_pstart, total)], enc_all, repl["doc_ids_enc"]),
            _spliced_cells(tb_off[u_rows], tb_all, repl["tfs_enc"]),
            _spliced_cells(lb_off[u_rows], lb_all, repl["dls_enc"]),
        ]
        + [pa.ListArray.from_arrays(list_offs, pa.array(v)) for v in blocks.values()],
        names=["term", "df", "count", "doc_ids_enc", "tfs_enc", "dls_enc", *blocks],
    )


def compressed_rows_as_partials(postings: DataFrame, block_size: int) -> DataFrame:
    """Reinterpret compressed index rows as partial-combine rows, METADATA-ONLY.

    A compressed row's streams are already in the partial format
    (:data:`_PARTIAL_FIELDS`): ``doc_ids_enc`` stores an absolute value at
    every block start and deltas elsewhere — exactly a multi-segment partial
    with one segment per block — and ``tfs_enc``/``dls_enc`` are plain varint
    streams that concatenate as-is. No byte is decoded or copied here; the
    reduce side (``_merge_partials``) re-blocks affected terms once, bounded
    by those terms' compressed bytes. Shared by the streaming refresh
    (carry-forward of affected terms) and the segment-merge compaction path
    (:mod:`fulltextsearch_spark.operators.segments`).
    """
    nb = F.size("block_first_doc")
    seg_lens = F.concat(
        F.array_repeat(F.lit(block_size).cast("long"), nb - F.lit(1)),
        F.array((F.col("count") - (nb - F.lit(1)) * F.lit(block_size)).cast("long")),
    )
    return postings.select(
        "term",
        F.element_at("block_first_doc", 1).cast("long").alias("first_doc"),
        seg_lens.alias("seg_lens"),
        F.col("doc_ids_enc").alias("doc_bytes"),
        F.col("tfs_enc").alias("tf_bytes"),
        F.col("dls_enc").alias("dl_bytes"),
    )


_STREAM_COLS = (
    ("doc_ids_enc", "block_off_doc"),
    ("tfs_enc", "block_off_tf"),
    ("dls_enc", "block_off_dl"),
)


def _batch_streams(rb, counts: np.ndarray, codec: str) -> list[np.ndarray]:
    """A batch's doc-delta, tf and dl streams, each decoded into one int64
    array holding its rows back to back. Varint cells are adjacent and
    self-delimiting, so a column decodes in one ``varint_decode`` call;
    pfor cells decode per row with their block offsets."""
    if codec == "varint":
        n = int(counts.sum())
        return [
            varint_decode(_binary_parts(rb.column(c))[1], n).astype(np.int64)
            for c, _ in _STREAM_COLS
        ]
    out = []
    for c, oc in _STREAM_COLS:
        cell, buf = _binary_parts(rb.column(c))
        boff, ball = _list_parts(rb.column(oc))
        out.append(
            np.concatenate(
                [
                    decode_stream(
                        buf[cell[i] : cell[i + 1]],
                        int(counts[i]),
                        codec,
                        ball[boff[i] : boff[i + 1]],
                    )
                    for i in range(rb.num_rows)
                ]
            )
        )
    return out


def decompress_postings(
    compressed: DataFrame, block_size: int, codec: str = "varint"
) -> DataFrame:
    """Compressed rows -> (term, df, postings ARRAY<STRUCT<doc_id, tf, dl>>),
    one output row per input row (a sharded term keeps its rows).

    Arrow in, Arrow out (``mapInArrow``), no per-posting Python object: the
    streams of a whole batch decode as one array each
    (:func:`_batch_streams`), and one segmented cumsum then undoes the
    block-restarting doc-id deltas of every row at once.
    """

    def _decode(batches):
        import pyarrow as pa  # noqa: PLC0415

        for rb in batches:
            if rb.num_rows == 0:
                continue
            counts = rb.column("count").to_numpy(zero_copy_only=False).astype(np.int64)
            row_off = np.concatenate(([0], np.cumsum(counts)))
            deltas, tfs, dls = _batch_streams(rb, counts, codec)
            # a block starts every block_size postings of each row; its
            # delta is absolute, so doc_id = cumsum - cumsum before the block
            within = np.arange(row_off[-1]) - np.repeat(row_off[:-1], counts)
            starts = np.flatnonzero(within % block_size == 0)
            g = np.cumsum(deltas)
            prev = np.zeros(starts.size, dtype=np.int64)
            prev[1:] = g[starts[1:] - 1]
            doc_ids = g - np.repeat(prev, np.diff(np.append(starts, row_off[-1])))
            postings = pa.StructArray.from_arrays(
                [pa.array(doc_ids), pa.array(tfs), pa.array(dls)],
                names=["doc_id", "tf", "dl"],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("term"),
                    rb.column("df"),
                    pa.ListArray.from_arrays(pa.array(row_off, pa.int32()), postings),
                ],
                names=["term", "df", "postings"],
            )

    cols = [e for e, _ in _STREAM_COLS] + (
        [o for _, o in _STREAM_COLS] if codec != "varint" else []
    )
    return compressed.select("term", "df", "count", *cols).mapInArrow(
        _decode,
        "term string, df long, postings array<struct<doc_id: long, tf: long, dl: long>>",
    )


def build_compressed_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    text_col: str = "text",
) -> CompressedIndex:
    """(doc_id, text) frame -> compressed physical index in ONE fused map
    pass + shuffle.

    :func:`_partial_rows_fused` tokenizes and packs delta+varint partials in
    the same Arrow worker pass; the persisted partials table is roughly
    compressed-index-sized. Corpus stats and ``doc_stats`` come from the
    per-task sentinel rows.
    """
    return _index_from_partials(_partial_rows_fused(docs, text_col, cfg.stem), cfg)


def build_compressed_index_pyfiles(
    spark: SparkSession,
    input_path: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    text_col: str = "text",
    batch_rows: int = 10_000,
) -> CompressedIndex:
    """Parquet directory -> compressed index, workers reading parquet
    DIRECTLY with pyarrow (no JVM decode, no Arrow-IPC text hop).

    The text is opaque to every JVM operator of this build (no filter, no
    join touches it), so routing it through the JVM scan (parquet -> JVM
    column decode -> Arrow IPC -> Python worker) is pure overhead — measured
    at ~2.3x the map stage at 8 cores (600k docs: 11.2s via the JVM scan vs
    4.7s for the same tokenize+pack kernel over pyarrow file reads).

    The driver makes one footer-metadata pass (the same listing the scan
    planner performs) to build a (path, row_group, start_id) manifest —
    doc_ids are identical to :func:`~fulltextsearch_spark.sources.ingest.
    assign_file_order_doc_ids` by construction (sorted-file order, offsets
    from footer row counts; pinned by tests/test_sources.py). The manifest
    is cut into contiguous row-group ranges, one per map task, with as many
    tasks as Spark's own scan of ``input_path`` plans (its
    ``maxPartitionBytes``/``openCostInBytes`` split rule: one task per core
    on a small corpus, ~128 MB tasks at scale), capped at one row group per
    task — the same split limit the JVM scan has. Each task reads its row
    groups with :mod:`pyarrow.parquet` and feeds them, in ``batch_rows``
    slices, to the same :func:`_pack_texts` loop as
    :func:`build_compressed_index`. The build's only wide operation remains
    the term shuffle of compressed partials.

    Scale notes: pyarrow reads any ``pyarrow.fs``-supported store (local,
    S3, HDFS) so the manifest pattern holds on a cluster; a corpus of few
    giant single-row-group files should be rewritten with sane row groups
    first (also true for the JVM scan, which cannot split inside a row
    group either).
    """
    scan = spark.read.parquet(input_path)
    manifest: list[tuple[str, int, int]] = []  # (path_or_uri, row_group, start_id)
    acc = 0
    for f in sorted(scan.inputFiles()):
        meta = _open_parquet(f).metadata
        for rg in range(meta.num_row_groups):
            n = meta.row_group(rg).num_rows
            if n:
                manifest.append((f, rg, acc))
                acc += n

    n_tasks = max(1, min(len(manifest), scan.rdd.getNumPartitions()))

    def _pairs(batches):
        for rb in batches:
            for path, rg, start in zip(
                rb.column("path").to_pylist(),
                rb.column("rg").to_pylist(),
                rb.column("start_id").to_pylist(),
            ):
                col = (
                    _open_parquet(path)
                    .read_row_group(rg, columns=[text_col])
                    .column(text_col)
                    .combine_chunks()
                )
                for i in range(0, len(col), batch_rows):
                    chunk = col.slice(i, batch_rows)
                    yield np.arange(start + i, start + i + len(chunk), dtype=np.int64), chunk

    def _map(batches):
        yield from _pack_texts(_pairs(batches), cfg.stem)

    mdf = spark.createDataFrame(
        spark.sparkContext.parallelize(manifest, n_tasks),
        "path string, rg int, start_id long",
    )
    partials = mdf.mapInArrow(_map, schema=_PARTIAL_FIELDS)
    return _index_from_partials(partials, cfg)


def _index_from_partials(raw_partials: DataFrame, cfg: EngineConfig) -> CompressedIndex:
    from pyspark.storagelevel import StorageLevel  # noqa: PLC0415

    partials = raw_partials.persist(StorageLevel.MEMORY_AND_DISK)
    doc_stats = _decode_doc_stats(partials.filter(F.col("term") == _DOCSTATS_TERM))
    # scalar agg rows reduce JVM-side (no Python decode stage); an empty
    # corpus has no agg rows, so n_docs comes back null
    stats_row = (
        partials.filter(F.col("term") == _DOCAGG_TERM)
        .agg(
            (F.max("first_doc") + F.lit(1)).alias("n_docs"),
            F.sum(F.element_at("seg_lens", 2)).alias("total_dl"),
        )
        .collect()[0]
    )
    n_docs = int(stats_row["n_docs"]) if stats_row["n_docs"] is not None else 0
    avgdl = float(stats_row["total_dl"]) / float(n_docs) if n_docs else 0.0

    # persist the ENCODED postings: query batches must join the compressed
    # rows, not re-run the shuffle+encode per query batch
    compressed = _merge_partials(
        partials.filter(~F.col("term").isin(_DOCSTATS_TERM, _DOCAGG_TERM)), avgdl, cfg
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return CompressedIndex(
        postings=compressed,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        block_size=cfg.block_size,
        k1=cfg.k1,
        b=cfg.b,
    )


def _reencode_streams(postings: DataFrame, block_size: int, src: str, dst: str) -> DataFrame:
    """Re-encode every row's three streams from codec ``src`` to ``dst``.

    Arrow in, Arrow out (``mapInArrow``), like the merge: a batch's
    streams decode with :func:`_batch_streams`, each row's slice encodes
    with ``dst``, and every other column passes through. Blocks stay
    aligned to ``block_size``, so ``block_first_doc``, the block-max
    metadata and the list offsets of the block columns carry over; only
    the streams and their byte offsets are replaced.
    """
    import pyarrow as pa  # noqa: PLC0415

    def _re(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            counts = rb.column("count").to_numpy(zero_copy_only=False).astype(np.int64)
            row_off = np.concatenate(([0], np.cumsum(counts)))
            cols = dict(zip(rb.schema.names, rb.columns))
            for (enc_col, off_col), vals in zip(_STREAM_COLS, _batch_streams(rb, counts, src)):
                pairs = [
                    encode_stream(vals[a:b], block_size, dst)
                    for a, b in zip(row_off[:-1], row_off[1:])
                ]
                cols[enc_col] = pa.array([p[0] for p in pairs], pa.binary())
                cols[off_col] = pa.ListArray.from_arrays(
                    pa.array(_list_parts(rb.column(off_col))[0], pa.int32()),
                    pa.array(np.concatenate([p[1] for p in pairs]), pa.int64()),
                )
            yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))

    return postings.mapInArrow(_re, schema=postings.schema)


def save_compressed_index(index: CompressedIndex, root: str, codec: str | None = None) -> None:
    """Persist under ``root``: postings clustered by term, stats scalars.

    Postings go through :func:`~fulltextsearch_spark.operators.util.
    write_clustered` (global sort by term, small row groups), so the
    footers' term ranges are sorted and disjoint: ``QueryServer.
    search_local``'s footer pruning and the Spark scan's pushed ``term IN``
    filter read only the row group that can hold each query term.

    ``codec`` (one of ``compression.CODECS``) re-encodes the posting
    streams at save time, from the index's codec to ``"pfor"``
    (bit-packing) or back to ``"varint"``; the loaded index queries
    identically — the kernel dispatches per codec. ``scripts/codec_probe.py``
    measured pfor at 0.63x varint's stream bytes on a 50k-doc flat web
    corpus but 1.01x on perfbench's bursty 20k-doc corpus, with
    ``search_local`` 2.1-2.3x slower per query when nothing is cached.

    Also appends an index-footprint line (bytes on disk per table) to
    ``{root}/_lineage.jsonl`` — the reference's footprint metric
    (``fts_engine.hpp:50-60``) re-expressed as durable storage size.
    """
    from fulltextsearch_spark.operators.util import (  # noqa: PLC0415
        record_footprint,
        write_clustered,
    )

    out_codec = check_codec(codec or index.codec)
    postings = index.postings
    if out_codec != index.codec:
        postings = _reencode_streams(postings, index.block_size, index.codec, out_codec)
    write_clustered(
        postings, "term", f"{root}/postings", F.get("block_first_doc", 0)
    )
    index.doc_stats.write.mode("overwrite").parquet(f"{root}/doc_stats")
    spark = index.postings.sparkSession
    spark.createDataFrame(
        [(index.n_docs, index.avgdl, index.block_size, index.k1, index.b, out_codec)],
        "n_docs LONG, avgdl DOUBLE, block_size LONG, k1 DOUBLE, b DOUBLE, codec STRING",
    ).write.mode("overwrite").parquet(f"{root}/corpus_stats")
    record_footprint(
        root,
        {
            "postings": f"{root}/postings",
            "doc_stats": f"{root}/doc_stats",
            "corpus_stats": f"{root}/corpus_stats",
        },
    )


def _read_corpus_stats(spark: SparkSession, root: str) -> dict:
    """The saved corpus scalars of ``root`` as keyword arguments (n_docs,
    avgdl, block_size, k1, b, codec); an unknown codec fails loudly."""
    stats_df = spark.read.parquet(f"{root}/corpus_stats")
    stats = stats_df.collect()[0]
    return {
        "n_docs": int(stats["n_docs"]),
        "avgdl": float(stats["avgdl"]),
        "block_size": int(stats["block_size"]),
        "k1": float(stats["k1"]),
        "b": float(stats["b"]),
        # indexes saved before the codec column existed are varint by definition
        "codec": check_codec(
            str(stats["codec"]) if "codec" in stats_df.columns else "varint"
        ),
    }


def load_compressed_index(spark: SparkSession, root: str) -> CompressedIndex:
    return CompressedIndex(
        postings=spark.read.parquet(f"{root}/postings"),
        doc_stats=spark.read.parquet(f"{root}/doc_stats"),
        **_read_corpus_stats(spark, root),
    )

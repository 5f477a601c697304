"""One term's postings -> a kernel term entry, encoded the way the engine
encodes it: the build's :func:`_encode_one` writes varint streams, and
``codec="pfor"`` re-encodes each of them with :func:`encode_stream`, as a
``save_compressed_index(codec="pfor")`` does. Decode such an entry with
``wand.decode_term_streams`` (whole term) or ``wand._decode_blocks``."""

from __future__ import annotations

import numpy as np

from fulltextsearch_spark.operators.compressed_index import _encode_one
from fulltextsearch_spark.operators.compression import decode_stream, encode_stream

STREAMS = (
    ("doc_ids_enc", "block_off_doc"),
    ("tfs_enc", "block_off_tf"),
    ("dls_enc", "block_off_dl"),
)


def term_entry(
    doc_ids,
    tfs,
    dls,
    block_size: int = 128,
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = 1.0,
    codec: str = "varint",
) -> dict:
    row = _encode_one(
        np.asarray(doc_ids, dtype=np.int64),
        np.asarray(tfs, dtype=np.int64),
        np.asarray(dls, dtype=np.int64),
        block_size,
        k1,
        b,
        avgdl,
    )
    ent = {k: np.asarray(v) if isinstance(v, list) else v for k, v in row.items()}
    ent["codec"] = codec
    if codec != "varint":
        for enc, off in STREAMS:
            vals = decode_stream(ent[enc], ent["count"], "varint")
            ent[enc], ent[off] = encode_stream(vals, block_size, codec)
    return ent


def stream_bytes(ent: dict) -> int:
    return sum(len(ent[enc]) for enc, _ in STREAMS)

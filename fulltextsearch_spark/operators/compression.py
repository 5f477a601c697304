"""Posting-stream codecs: delta + varint (LEB128) and PForDelta (NewPFD).

New work relative to the reference (its index holds raw
``vector<(uint32,uint32)>`` pairs and dumps them verbatim,
``/root/reference/src/data-structures/hash_index.hpp:137-173``); required by
the north_star for 10^12-doc scale: sorted docIDs -> deltas -> LEB128
varints, fixed-size blocks with (first_doc_id, byte offsets, max tf,
max BM25 tf-part) metadata enabling skip + block-max WAND.

Every index row stores three streams (doc-id deltas restarting absolute at
each block, tfs, dls) in one of :data:`CODECS`. This module is the only
place that knows how a codec lays a stream out: :func:`encode_stream`,
:func:`decode_stream` (whole stream) and :func:`decode_stream_block` (one
skip block) are what the build, the save-time re-encode and the query
kernel call.

Encode and decode are numpy-vectorized (no per-value Python in the hot
path): encode computes per-value byte lengths and scatters shifted 7-bit
groups; decode segments the byte stream on continuation bits and folds each
group with ``np.bitwise_or.reduceat``.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "CODECS",
    "check_codec",
    "decode_stream",
    "decode_stream_block",
    "encode_stream",
    "varint_encode",
    "varint_decode",
    "pfor_encode",
    "pfor_decode",
]

# "varint" is the build's wire format; "pfor" is a save-time re-encode
CODECS = ("varint", "pfor")

_MAX_BYTES = 10  # 64-bit values need at most 10 LEB128 bytes


_LEB_BINS = (np.uint64(1) << (np.uint64(7) * np.arange(1, 10, dtype=np.uint64))).astype(
    np.uint64
)


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """LEB128 bytes per value: ceil(bitlength/7), min 1 (vectorized).

    Bit length via log2 on floats is unsafe near 2^53; one searchsorted
    against the nine 2^(7k) thresholds instead (exact on uint64, one C
    pass — the old shift loop re-scanned the array once per output byte).
    """
    v = values.astype(np.uint64, copy=False)
    return np.searchsorted(_LEB_BINS, v, side="right").astype(np.int64) + 1


def varint_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """LEB128-encode an array of non-negative int64/uint64 values.

    ``nbytes`` (from :func:`varint_nbytes`) can be passed in when the caller
    already computed it for block offsets — the length scan is ~1/3 of the
    encode cost on short posting lists.
    """
    v = values.astype(np.uint64, copy=False)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = varint_nbytes(v)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    total = int(offsets[-1])
    out = np.empty(total, dtype=np.uint8)
    # scatter the k-th 7-bit group of every value that has one
    max_groups = int(nbytes.max())
    for k in range(max_groups):
        has_k = nbytes > k
        idx = offsets[:-1][has_k] + k
        group = ((v[has_k] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        not_last = nbytes[has_k] > (k + 1)
        out[idx] = group | (not_last.astype(np.uint8) << 7)
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte string back to uint64 values.

    Posting streams are dominated by 1-2-byte groups (tfs are almost all
    single bytes, doc deltas 1-2, dls 1-2), so narrow streams take an
    unrolled per-byte-slot path: whole-stream single-byte decodes are one
    cast (measured ~250 Mvals/s vs ~66 for the general scatter/reduceat
    path); <=3-byte streams use three where-gated gathers. Wider values
    fall back to the general grouped-reduce."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    if ends.size:
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    width = ends - starts  # extra bytes beyond the first
    wmax = int(width.max()) if width.size else 0
    if wmax == 0:
        values = arr.astype(np.uint64)
    elif wmax <= 2:
        values = (arr[starts] & 0x7F).astype(np.uint64)
        last = arr.size - 1
        b2 = (arr[np.minimum(starts + 1, last)] & 0x7F).astype(np.uint64)
        values |= np.where(width >= 1, b2 << np.uint64(7), np.uint64(0))
        if wmax == 2:
            b3 = (arr[np.minimum(starts + 2, last)] & 0x7F).astype(np.uint64)
            values |= np.where(width >= 2, b3 << np.uint64(14), np.uint64(0))
    else:
        # position of each byte within its group
        within = np.arange(arr.size, dtype=np.int64) - np.repeat(
            starts, np.diff(np.append(starts, arr.size))
        )
        contrib = (arr & 0x7F).astype(np.uint64) << (
            within.astype(np.uint64) * np.uint64(7)
        )
        values = np.bitwise_or.reduceat(contrib, starts)
    if count is not None and values.size != count:
        raise ValueError(f"decoded {values.size} values, expected {count}")
    return values


# --------------------------------------------------------------------------
# PForDelta (NewPFD variant) — the north_star's alternative block codec.
#
# Per block (aligned with the skip/block-max block_size so every block stays
# independently decodable): a 5-byte header (bit width w, n values, n
# exceptions), the low w bits of every value bit-packed little-endian, then
# the exception positions (delta+varint) and their high bits (varint,
# value >> w). Width selection is the NewPFD heuristic: the 90th-percentile
# bit length, compared against the no-exception width, whichever encodes
# smaller. Unlike LEB128 varint the packed section is fixed-width, so decode
# is one unpackbits + shift-sum with no continuation-bit scan.
#
# varint stays the BUILD default: partial-combine merge byte-concats varint
# streams from different tasks without re-framing (self-delimiting values);
# PFor blocks would need re-blocking at merge boundaries. Callers reach
# both codecs through encode_stream/decode_stream/decode_stream_block below.
# --------------------------------------------------------------------------

_PFOR_HDR = 5  # 1 byte width, 2 bytes n, 2 bytes n_exc


_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Bit length per value (0 for 0): one searchsorted against the 64
    powers of two, exact on uint64 and one C pass whatever the width."""
    return np.searchsorted(_POW2, v.astype(np.uint64, copy=False), side="right").astype(
        np.int64
    )


def _pack_low_bits(vals: np.ndarray, w: int) -> bytes:
    if w == 0 or vals.size == 0:
        return b""
    bits = ((vals[:, None] >> np.arange(w, dtype=np.uint64)) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _unpack_low_bits(buf: bytes, n: int, w: int) -> np.ndarray:
    if w == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n * w, bitorder="little")
    return (bits.reshape(n, w).astype(np.uint64) << np.arange(w, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )


def _pfor_encode_block(v: np.ndarray) -> bytes:
    n = v.size
    if n > 0xFFFF:
        raise ValueError("PFor block larger than 65535 values")
    bl = _bit_lengths(v)
    w_max = int(bl.max()) if n else 0
    # best width by exact cost: packed bytes + position-delta varints
    # (exactly 1 byte each for blocks <=128 values, a lower bound above
    # that — still a valid encode, merely possibly non-optimal) + exact
    # varint size of each exception's high bits, ceil((bl-w)/7).
    ws = np.arange(w_max + 1, dtype=np.int64)
    packed = (n * ws + 7) // 8
    over = np.maximum(bl[None, :] - ws[:, None], 0)  # (w, n) high-bit lengths
    high_bytes = -(-over // 7)  # ceil; 0 where not an exception
    n_exc = (over > 0).sum(axis=1)
    cost = _PFOR_HDR + packed + n_exc + high_bytes.sum(axis=1)
    w = int(np.argmin(cost))
    exc_pos = np.flatnonzero(bl > w)
    if exc_pos.size > 0xFFFF:
        w = w_max
        exc_pos = np.flatnonzero(bl > w)
    pos_deltas = np.diff(exc_pos, prepend=0) if exc_pos.size else exc_pos
    # the first stored position is absolute (prepend=0 keeps it so)
    exc_high = v[exc_pos] >> np.uint64(w) if exc_pos.size else exc_pos.astype(np.uint64)
    body = (
        _pack_low_bits(v, w)
        + varint_encode(pos_deltas.astype(np.uint64))
        + varint_encode(exc_high)
    )
    hdr = bytes([w]) + int(n).to_bytes(2, "little") + int(exc_pos.size).to_bytes(2, "little")
    return hdr + body


def _varint_section_end(arr: np.ndarray, start: int, count: int) -> int:
    """Byte offset just past `count` varints beginning at `start`. The scan
    window is bounded by the 10-byte LEB128 maximum so this stays O(count)
    regardless of how much stream follows."""
    if count == 0:
        return start
    window = arr[start : start + count * _MAX_BYTES]
    term = np.flatnonzero((window & 0x80) == 0)
    return start + int(term[count - 1]) + 1


def _pfor_decode_block(arr: np.ndarray, off: int) -> tuple[np.ndarray, int]:
    w = int(arr[off])
    n = int.from_bytes(arr[off + 1 : off + 3].tobytes(), "little")
    n_exc = int.from_bytes(arr[off + 3 : off + 5].tobytes(), "little")
    p = off + _PFOR_HDR
    packed_len = (n * w + 7) // 8
    vals = _unpack_low_bits(arr[p : p + packed_len].tobytes(), n, w)
    p += packed_len
    if n_exc:
        pos_end = _varint_section_end(arr, p, n_exc)
        pos = np.cumsum(varint_decode(arr[p:pos_end].tobytes(), n_exc).astype(np.int64))
        high_end = _varint_section_end(arr, pos_end, n_exc)
        high = varint_decode(arr[pos_end:high_end].tobytes(), n_exc)
        vals[pos] |= high << np.uint64(w)
        p = high_end
    return vals, p


def pfor_encode(values: np.ndarray, block_size: int = 128) -> tuple[bytes, np.ndarray]:
    """PForDelta-encode; returns (stream, byte offset of each block).

    Blocks are self-contained and aligned to ``block_size`` so the offsets
    double as skip pointers, exactly like the varint path's
    (:func:`encode_stream`). Full blocks are encoded batched (one
    bit-pack per distinct width, one varint pass over every exception);
    only the short tail block goes through the scalar path.
    """
    if block_size > 0xFFFF:
        # the 2-byte count header caps the block; without this the batched
        # path below would silently write n & 0xFFFF (the scalar path raises)
        raise ValueError("PFor block larger than 65535 values")
    v = np.asarray(values).astype(np.uint64, copy=False)
    n_blocks = (v.size + block_size - 1) // block_size
    n_full = v.size // block_size
    if n_full < 2:  # scalar path: nothing to batch
        chunks: list[bytes] = []
        offs = [0]
        for s in range(0, v.size, block_size):
            chunks.append(_pfor_encode_block(v[s : s + block_size]))
            offs.append(offs[-1] + len(chunks[-1]))
        return b"".join(chunks), np.asarray(offs[:n_blocks], dtype=np.int64)

    bs = block_size
    full = v[: n_full * bs].reshape(n_full, bs)
    bl = _bit_lengths(full)  # (n_full, bs)
    w_max = int(bl.max())
    ws = np.arange(w_max + 1, dtype=np.int64)
    # per-(width, block) exact cost — see _pfor_encode_block
    over = np.maximum(bl[None, :, :] - ws[:, None, None], 0)  # (w, blk, bs)
    cost = (
        _PFOR_HDR
        + (bs * ws[:, None] + 7) // 8
        + (over > 0).sum(axis=2)
        + (-(-over // 7)).sum(axis=2)
    )
    w_blk = np.argmin(cost, axis=0).astype(np.int64)  # (n_full,)

    # exceptions, in stream order (per block: position deltas then highs)
    is_exc = bl > w_blk[:, None]
    ne = is_exc.sum(axis=1)
    blk_of_exc, pos_of_exc = np.nonzero(is_exc)
    # position deltas within each block (first stored absolute)
    prev = np.zeros(pos_of_exc.shape, dtype=np.int64)
    if prev.size > 1:
        prev[1:] = np.where(blk_of_exc[1:] == blk_of_exc[:-1], pos_of_exc[:-1], 0)
    pos_deltas = pos_of_exc - prev
    highs = full[blk_of_exc, pos_of_exc] >> w_blk[blk_of_exc].astype(np.uint64)
    # interleave [deltas..., highs...] per block into one varint stream
    total_exc = int(ne.sum())
    ne_cum = np.zeros(n_full + 1, dtype=np.int64)
    np.cumsum(ne, out=ne_cum[1:])
    vals_all = np.empty(2 * total_exc, dtype=np.uint64)
    base = ne_cum[blk_of_exc] + np.arange(total_exc) - np.repeat(ne_cum[:-1], ne)
    vals_all[ne_cum[blk_of_exc] + base] = pos_deltas.astype(np.uint64)
    vals_all[ne_cum[blk_of_exc] + base + ne[blk_of_exc]] = highs
    nb_all = varint_nbytes(vals_all) if total_exc else np.empty(0, dtype=np.int64)
    exc_bytes = varint_encode(vals_all, nb_all) if total_exc else b""
    # per-block exception byte lengths: segment sums over 2*ne values
    sec_starts = 2 * ne_cum[:-1]
    sec_len = (
        np.add.reduceat(nb_all, sec_starts[ne > 0]) if total_exc else None
    )
    exc_len = np.zeros(n_full, dtype=np.int64)
    if total_exc:
        exc_len[ne > 0] = sec_len

    # packed bits, grouped by width
    packed_len = (bs * w_blk + 7) // 8
    packed_parts: dict[int, np.ndarray] = {}
    for wv in np.unique(w_blk):
        sel = np.flatnonzero(w_blk == wv)
        if wv == 0:
            packed_parts[int(wv)] = np.empty((sel.size, 0), dtype=np.uint8)
            continue
        g = full[sel]  # (g, bs)
        bits = ((g[:, :, None] >> np.arange(wv, dtype=np.uint64)) & np.uint64(1)).astype(
            np.uint8
        )
        packed_parts[int(wv)] = np.packbits(
            bits.reshape(sel.size, bs * int(wv)), axis=1, bitorder="little"
        )

    # assemble
    blk_len = _PFOR_HDR + packed_len + exc_len
    offs_arr = np.zeros(n_full + 1, dtype=np.int64)
    np.cumsum(blk_len, out=offs_arr[1:])
    out = np.empty(int(offs_arr[-1]), dtype=np.uint8)
    starts = offs_arr[:-1]
    out[starts] = w_blk.astype(np.uint8)
    out[starts + 1] = bs & 0xFF
    out[starts + 2] = (bs >> 8) & 0xFF
    out[starts + 3] = (ne & 0xFF).astype(np.uint8)
    out[starts + 4] = ((ne >> 8) & 0xFF).astype(np.uint8)
    for wv, mat in packed_parts.items():
        if mat.shape[1]:
            sel = np.flatnonzero(w_blk == wv)
            idx = (starts[sel] + _PFOR_HDR)[:, None] + np.arange(mat.shape[1])
            out[idx] = mat
    if total_exc:
        exc_arr = np.frombuffer(exc_bytes, dtype=np.uint8)
        dst0 = starts + _PFOR_HDR + packed_len
        has = np.flatnonzero(exc_len > 0)
        cum = np.zeros(has.size + 1, dtype=np.int64)
        np.cumsum(exc_len[has], out=cum[1:])
        flat_dst = np.repeat(dst0[has] - cum[:-1], exc_len[has]) + np.arange(int(cum[-1]))
        out[flat_dst] = exc_arr
    stream = out.tobytes()

    # tail block via the scalar path
    tail_offs = [int(offs_arr[-1])]
    if n_full < n_blocks:
        tail = _pfor_encode_block(v[n_full * bs :])
        stream += tail
    all_offs = np.concatenate(
        [offs_arr[:-1], np.asarray(tail_offs[: n_blocks - n_full], dtype=np.int64)]
    )
    return stream, all_offs


def pfor_decode(
    buf: bytes, count: int | None = None, offsets: np.ndarray | None = None
) -> np.ndarray:
    """Decode a whole PForDelta stream back to uint64 values.

    With ``offsets`` (the per-block byte offsets the index carries anyway)
    the bit-unpack runs batched across all same-width blocks — one
    ``np.unpackbits`` per distinct width instead of one per block, ~30x
    faster on long posting lists. Without offsets it walks the stream
    block by block.
    """
    arr = np.frombuffer(buf, dtype=np.uint8)
    if offsets is None or len(offsets) <= 1:
        parts: list[np.ndarray] = []
        off = 0
        while off < arr.size:
            vals, off = _pfor_decode_block(arr, off)
            parts.append(vals)
        out = np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
        if count is not None and out.size != count:
            raise ValueError(f"decoded {out.size} values, expected {count}")
        return out

    offs = np.asarray(offsets, dtype=np.int64)
    w = arr[offs].astype(np.int64)
    n = arr[offs + 1].astype(np.int64) | (arr[offs + 2].astype(np.int64) << 8)
    n_exc = arr[offs + 3].astype(np.int64) | (arr[offs + 4].astype(np.int64) << 8)
    out_off = np.zeros(offs.size + 1, dtype=np.int64)
    np.cumsum(n, out=out_off[1:])
    total = int(out_off[-1])
    if count is not None and total != count:
        raise ValueError(f"decoded {total} values, expected {count}")
    out = np.zeros(total, dtype=np.uint64)
    body = offs + _PFOR_HDR
    packed_len = (n * w + 7) // 8

    uniform = n == (int(n[0]) if offs.size else 0)
    for wv in np.unique(w):
        if wv == 0:
            continue
        sel = np.flatnonzero((w == wv) & uniform)
        if sel.size:
            nn = int(n[sel[0]])
            plen = int(packed_len[sel[0]])
            packed = arr[body[sel][:, None] + np.arange(plen)]
            bits = np.unpackbits(packed, axis=1, bitorder="little")[:, : nn * wv]
            vals = (
                bits.reshape(sel.size, nn, wv).astype(np.uint64)
                << np.arange(wv, dtype=np.uint64)
            ).sum(axis=2, dtype=np.uint64)
            # scatter: same nn per block in this group
            idx = (out_off[sel][:, None] + np.arange(nn)).ravel()
            out[idx] = vals.ravel()
    # non-uniform blocks (the tail block) decode individually
    for j in np.flatnonzero(~uniform):
        vals, _ = _pfor_decode_block(arr, int(offs[j]))
        out[out_off[j] : out_off[j + 1]] = vals
    # exception patches, batched: every block's exception section spans
    # exactly [body+packed : next block offset], so one gather + ONE varint
    # decode covers all blocks (layout per block: ne position-deltas then
    # ne high-bit values)
    exc_sel = np.flatnonzero((n_exc > 0) & uniform)
    if exc_sel.size:
        block_end = np.append(offs[1:], arr.size)
        sec_start = body[exc_sel] + packed_len[exc_sel]
        sec_len = block_end[exc_sel] - sec_start
        cum = np.zeros(exc_sel.size + 1, dtype=np.int64)
        np.cumsum(sec_len, out=cum[1:])
        flat = np.repeat(sec_start - cum[:-1], sec_len) + np.arange(int(cum[-1]))
        ne = n_exc[exc_sel]
        all_vals = varint_decode(arr[flat].tobytes(), int(2 * ne.sum()))
        blk_start = np.zeros(exc_sel.size + 1, dtype=np.int64)
        np.cumsum(2 * ne, out=blk_start[1:])
        ne_cum = np.zeros(exc_sel.size + 1, dtype=np.int64)
        np.cumsum(ne, out=ne_cum[1:])
        seg = np.repeat(np.arange(exc_sel.size), ne)
        off_in = np.arange(int(ne.sum())) - np.repeat(ne_cum[:-1], ne)
        didx = blk_start[seg] + off_in
        deltas_flat = all_vals[didx].astype(np.int64)
        highs = all_vals[didx + ne[seg]]
        cs = np.cumsum(deltas_flat)
        firsts = ne_cum[:-1]
        corr = cs[firsts] - deltas_flat[firsts]
        pos = cs - np.repeat(corr, ne)
        out[np.repeat(out_off[exc_sel], ne) + pos] |= highs << np.repeat(
            w[exc_sel], ne
        ).astype(np.uint64)
    return out


def check_codec(codec: str) -> str:
    """``codec`` if this engine can read it, else ``ValueError`` naming it
    (an unknown codec's streams would otherwise be misread as varint)."""
    if codec not in CODECS:
        raise ValueError(f"unknown posting codec {codec!r}; supported: {CODECS}")
    return codec


def encode_stream(
    values: np.ndarray, block_size: int, codec: str
) -> tuple[bytes, np.ndarray]:
    """One stream in its stored representation -> (bytes, int64 byte offset
    of each ``block_size`` block)."""
    if codec == "pfor":
        return pfor_encode(values, block_size)
    nb = varint_nbytes(values)
    cum = np.concatenate(([0], np.cumsum(nb)))
    return varint_encode(values, nb), cum[: values.size : block_size]


def decode_stream(
    enc, n: int, codec: str = "varint", offsets: np.ndarray | None = None
) -> np.ndarray:
    """A whole stream of ``n`` values -> int64 array (``offsets`` are the
    per-block byte offsets; pfor decodes same-width blocks batched)."""
    if codec == "pfor":
        return pfor_decode(bytes(enc), n, offsets=offsets).astype(np.int64)
    return varint_decode(bytes(enc), n).astype(np.int64)


def decode_stream_block(enc, n: int, codec: str = "varint") -> np.ndarray:
    """One block's bytes (its slice of the stream) -> its ``n`` values as
    int64."""
    if codec == "pfor":
        return _pfor_decode_block(np.frombuffer(enc, dtype=np.uint8), 0)[0].astype(np.int64)
    return varint_decode(enc, n).astype(np.int64)

"""Block-max MaxScore/WAND top-k over the compressed index.

The reference scores every posting of every query term exhaustively
(``/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:119-135``).
This module adds the safe-pruning query path the north_star requires at
10^12-doc scale: term-at-a-time **MaxScore** with **block-max** metadata and
skip pointers, provably rank-identical to the exhaustive path.

Dataflow: tokenized queries broadcast-join the compressed postings (only the
needed term rows move), then one ``applyInArrow`` group per query runs the
numpy kernel below on entries built by :func:`kernel_entries` (numpy views
over the group's Arrow buffers). The kernel is vectorized — block decode
(varint), scoring, and set merges are all numpy; the only Python-level loops
are per-term (a handful) and per-needed-block (bounded by the candidate set).

Safety argument (why pruning never changes top-k — each prune uses a strict
``<`` against theta, a *lower bound* of the true kth score since partial
scores only grow):

1. terms are processed in descending upper-bound order
   (``UB_t = qtf_t * idf_t * max_block_tfpart_t``); after processing a prefix,
   ``theta`` = kth largest partial score;
2. if the remaining terms' total bound ``S_rest < theta``, docs never seen so
   far have final score ``<= S_rest < theta`` — they can never reach top-k, so
   the remaining terms only update existing candidates ("candidates-only");
3. a candidate with ``partial + S_rest < theta`` is dropped — its final score
   is strictly below the final kth;
4. a block is decoded only when
   ``max(best_resident_candidate_partial, 0) + UB_block + S_after < theta``
   fails — in EVERY phase, not just candidates-only: an unseen doc first
   appearing in a skipped block is bounded by ``UB_block + S_after < theta``
   (no earlier-term contribution exists to truncate), and a resident
   candidate's final computed score stays ``< theta`` forever, so neither can
   surface in the returned top-k with a truncated score;
5. within a term, blocks are processed in DESCENDING static bound order
   (block UB, plus the best resident candidate partial when candidates
   exist) in growing chunks, re-reading theta between chunks: theta only
   rises, and the static bounds are sorted, so the walk stops at the first
   failing block and every later block fails the same inequality. When the
   weakest remaining block still survives, the kernel falls back to the
   one-pass stream decode (pruning that skips nothing must not pay the
   per-block loop).

Ties at the boundary keep ``>=`` (never pruned), so the deterministic
(score DESC, doc_id ASC) order matches the exhaustive path exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    CompressedIndex,
    _binary_parts,
    _list_parts,
)
from fulltextsearch_spark.operators.compression import decode_stream, decode_stream_block
from fulltextsearch_spark.operators.query import query_terms

__all__ = [
    "kernel_entries",
    "maxscore_topk",
    "search_wand",
    "topk_from_joined",
    "wand_kernel_ab",
    "wand_pruning_stats",
]


def _term_streams(
    term: dict, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full (docs, tfs, dls) of one kernel term: its attached decoded arrays
    when a serving cache put them there, else a whole-stream decode."""
    if term.get("docs") is not None:
        return term["docs"], term["tfs"], term["dls"]
    cdc, n = term.get("codec", "varint"), term["count"]
    deltas = decode_stream(term["doc_ids_enc"], n, cdc, term["block_off_doc"])
    return (
        _docids_from_deltas(deltas, block_size),
        decode_stream(term["tfs_enc"], n, cdc, term["block_off_tf"]),
        decode_stream(term["dls_enc"], n, cdc, term["block_off_dl"]),
    )


def decode_term_streams(
    term: dict, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full (docs, tfs, dls) decode of one compressed term entry — the
    population step of a serving node's decoded-postings cache (attach the
    result as ``docs``/``tfs``/``dls`` on the kernel term dict and both
    decode paths become slicing). The kernel itself calls
    :func:`_term_streams`, so wrapping this name times cache fills only."""
    return _term_streams(term, block_size)


def _docids_from_deltas(deltas: np.ndarray, block_size: int) -> np.ndarray:
    """Undo block-restarting delta encoding, fully vectorized.

    Within a block, doc_id[i] = sum(deltas[s..i]) (delta at the block start is
    absolute), so doc_ids = cumsum - cumsum_before_own_block.
    """
    n = deltas.size
    g = np.cumsum(deltas)
    starts = np.arange(0, n, block_size)
    prev = np.zeros(starts.size, dtype=np.int64)
    prev[1:] = g[starts[1:] - 1]
    lens = np.diff(np.append(starts, n))
    return g - np.repeat(prev, lens)


def _decode_blocks(
    term: dict, blocks: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only the given block indices (skip-pointer path).

    A term dict may carry pre-decoded ``docs``/``tfs``/``dls`` arrays (the
    serving node's decoded-postings cache — the analogue of the reference
    holding uncompressed postings in RAM); block "decode" is then pure
    slicing, so pruning keeps its skip benefit while decode cost vanishes.
    """
    n = term["count"]
    if term.get("docs") is not None:
        sl = [
            slice(int(j) * block_size, min((int(j) + 1) * block_size, n))
            for j in blocks
        ]
        if not sl:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        return (
            np.concatenate([term["docs"][s] for s in sl]),
            np.concatenate([term["tfs"][s] for s in sl]),
            np.concatenate([term["dls"][s] for s in sl]),
        )
    cdc = term.get("codec", "varint")
    enc_d, enc_t, enc_l = term["doc_ids_enc"], term["tfs_enc"], term["dls_enc"]
    off_d, off_t, off_l = term["block_off_doc"], term["block_off_tf"], term["block_off_dl"]
    end_d = np.append(off_d[1:], len(enc_d))
    end_t = np.append(off_t[1:], len(enc_t))
    end_l = np.append(off_l[1:], len(enc_l))
    docs_parts, tf_parts, dl_parts = [], [], []
    for j in blocks:
        cnt = min(block_size, n - j * block_size)
        docs_parts.append(np.cumsum(decode_stream_block(enc_d[off_d[j]: end_d[j]], cnt, cdc)))
        tf_parts.append(decode_stream_block(enc_t[off_t[j]: end_t[j]], cnt, cdc))
        dl_parts.append(decode_stream_block(enc_l[off_l[j]: end_l[j]], cnt, cdc))
    if not docs_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return np.concatenate(docs_parts), np.concatenate(tf_parts), np.concatenate(dl_parts)


def _tf_component(
    tfs: np.ndarray, dls: np.ndarray, scoring: str, k1: float, b: float, avgdl: float
) -> np.ndarray:
    tf = tfs.astype(np.float64)
    if scoring == "bm25":
        # tf*(k1+1) / (tf + k1*(1-b + b*(dl/avgdl))) with the SAME op order
        # as the naive expression (bit-identical scores) but in-place: two
        # allocations instead of seven temporaries
        den = dls.astype(np.float64)
        den /= avgdl
        den *= b
        den += 1.0 - b
        den *= k1
        den += tf
        num = tf
        num *= k1 + 1.0  # tf buffer not reused below
        np.divide(num, den, out=den)
        return den
    dl = dls.astype(np.float64)
    return np.divide(tf, dl, out=np.zeros_like(tf), where=dl > 0)


def maxscore_topk(
    terms: list[dict],
    n_docs: int,
    avgdl: float,
    k: int,
    scoring: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = 128,
    stats: dict | None = None,
    prune: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Pure-numpy block-max MaxScore kernel for ONE query.

    ``prune=False`` disables MaxScore/block-max pruning entirely (every term
    is decoded in full and union-merged) — the exhaustive baseline over the
    SAME compressed rows and join-pushdown IO, rank-identical by
    construction. Used for the pruning-benefit comparison in bench.py.

    ``terms``: one dict per distinct query term with keys qtf, df, count,
    doc_ids_enc, tfs_enc, dls_enc, block_first_doc, block_off_doc/tf/dl and
    block_max_tfpart / block_max_tfdl (numpy int64 arrays for offsets).
    Returns (doc_ids, scores) of the top-k in (score DESC, doc_id ASC) order.
    ``stats`` (optional dict) receives pruning counters for tests/metrics.
    """
    if stats is None:
        stats = {}
    stats.update({"blocks_total": 0, "blocks_decoded": 0, "terms": len(terms)})
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)

    bmax_key = "block_max_tfpart" if scoring == "bm25" else "block_max_tfdl"
    for t in terms:
        df = float(t["df"])
        t["idf"] = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        t["w"] = float(t["qtf"]) * t["idf"]
        t["bub"] = t["w"] * np.asarray(t[bmax_key], dtype=np.float64)  # per-block UB
        t["ub"] = float(t["bub"].max()) if t["bub"].size else 0.0
        stats["blocks_total"] += int(t["bub"].size)

    terms = sorted(terms, key=lambda t: -t["ub"])
    ubs = np.array([t["ub"] for t in terms])
    suffix = np.append(np.cumsum(ubs[::-1])[::-1], 0.0)  # suffix[i] = sum ub[i:]

    cand_docs = np.empty(0, dtype=np.int64)
    cand_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf

    def _part_full(t):
        """Query-independent tf component of the FULL stream, if a serving
        cache attached it (``tfpart``, computed with this index's k1/b/avgdl
        by the same _tf_component — bit-identical); None -> compute."""
        if scoring == "bm25":
            return t.get("tfpart")
        return None

    for i, t in enumerate(terms):
        rest_after = suffix[i + 1]
        candidates_only = prune and cand_docs.size >= k and suffix[i] < theta
        nblocks = int(t["bub"].size)

        if candidates_only:
            # (3) drop candidates that can no longer reach theta
            keep = cand_scores + suffix[i] >= theta
            cand_docs, cand_scores = cand_docs[keep], cand_scores[keep]
            if cand_docs.size == 0:
                break
            if (
                cand_docs.size * 2 >= int(t["count"])
                and int(cand_docs[-1]) < n_docs
                and nblocks > 0
            ):
                # candidates cover most of this list: per-block bookkeeping
                # (pos/argsort/unique/reduceat over the candidate array)
                # cannot skip enough decodes to pay for itself — one dense
                # full-stream probe instead. Safe: decoding MORE than the
                # needed blocks never changes results, only skips the skip.
                stats["blocks_decoded"] += nblocks
                t_docs, t_tfs, t_dls = _term_streams(t, block_size)
                if (
                    t_docs.size
                    and cand_docs.size + t_docs.size > n_docs // 16
                    and int(t_docs[-1]) < n_docs
                    and int(cand_docs[-1]) < n_docs
                ):
                    # dense probe only when the lists justify the O(n_docs)
                    # allocation (same volume guard as the other dense
                    # paths — a pair of RARE terms on a huge index must not
                    # zero gigabytes per term)
                    upd = np.zeros(n_docs, dtype=bool)
                    upd[cand_docs] = True
                    hit = upd[t_docs]
                    if hit.any():
                        part = _part_full(t)
                        comp = (
                            part[hit]
                            if part is not None
                            else _tf_component(
                                t_tfs[hit], t_dls[hit], scoring, k1, b, avgdl
                            )
                        ) * t["w"]
                        dense = np.zeros(n_docs, dtype=np.float64)
                        dense[cand_docs] = cand_scores
                        dense[t_docs[hit]] += comp
                        cand_scores = dense[cand_docs]
                elif t_docs.size:
                    part = _part_full(t)
                    comp = (
                        part
                        if part is not None
                        else _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl)
                    ) * t["w"]
                    idx = np.searchsorted(cand_docs, t_docs)
                    idx_c = np.minimum(idx, cand_docs.size - 1)
                    hit = cand_docs[idx_c] == t_docs
                    cand_scores[idx_c[hit]] += comp[hit]
                if cand_docs.size >= k:
                    theta = max(
                        theta,
                        np.partition(cand_scores, cand_scores.size - k)[
                            cand_scores.size - k
                        ],
                    )
                continue
            # (4) needed blocks: block of each candidate, upper-bound-filtered.
            # Blocks are processed in DESCENDING (best-candidate-partial +
            # block-UB) order in growing chunks, with theta re-read between
            # chunks: the best combined docs surface first, theta rises to
            # near its final value after the first chunks, and the walk stops
            # at the first block whose static bound falls under the risen
            # theta (the priority is static and sorted, so every later block
            # fails too). Same per-block safety inequality as before — only
            # evaluated against a tighter theta.
            bfd = np.asarray(t["block_first_doc"], dtype=np.int64)
            pos = np.searchsorted(bfd, cand_docs, side="right") - 1
            valid = pos >= 0
            if not valid.any():
                continue
            pos_v, cd_scores = pos[valid], cand_scores[valid]
            order = np.argsort(pos_v, kind="stable")
            blk_sorted = pos_v[order]
            blocks, first_idx = np.unique(blk_sorted, return_index=True)
            # max candidate partial per block + block UB + rest must reach theta
            max_part = np.maximum.reduceat(cd_scores[order], first_idx)
            prio = max_part + t["bub"][blocks]
            p_ord = np.argsort(-prio, kind="stable")
            blocks, prio = blocks[p_ord], prio[p_ord]
            done_blocks = np.zeros(nblocks, dtype=bool)
            j, chunk = 0, 16
            while j < blocks.size and prio[j] + rest_after >= theta:
                # remaining blocks that still survive the risen theta (prio
                # is sorted desc, so it's a prefix)
                n_surv = int(
                    np.searchsorted(-(prio[j:] + rest_after), -theta, side="right")
                )
                if n_surv == 0:
                    break
                # adaptive bulk fallback: per-block random decode costs ~2.5x
                # the one-pass stream decode per block, so once the surviving
                # set exceeds ~40% of the term's TOTAL blocks, stream-decode
                # the whole term and scatter the not-yet-updated candidates
                # in one vectorized pass
                if n_surv > (2 * nblocks) // 5:
                    stats["blocks_decoded"] += int(nblocks - done_blocks.sum())
                    t_docs, t_tfs, t_dls = _term_streams(t, block_size)
                    # pos over the kept cand_docs was computed at branch
                    # entry and cand_docs has not changed since — reuse it.
                    # "fresh" = candidates not already updated per-block.
                    fresh_c = ~done_blocks[np.maximum(pos, 0)] | (pos < 0)
                    if t_docs.size + cand_docs.size > n_docs // 16 and (
                        t_docs.size == 0 or int(t_docs[-1]) < n_docs
                    ) and int(cand_docs[-1]) < n_docs:
                        # dense membership probe: ONE gather over the stream
                        # instead of searchsorted + compare + triple mask,
                        # and the tf component is computed only on the hits
                        # (|cand|-sized, not |stream|-sized)
                        upd = np.zeros(n_docs, dtype=bool)
                        upd[cand_docs[fresh_c]] = True
                        hit = upd[t_docs]
                        if hit.any():
                            part = _part_full(t)
                            comp = (
                                part[hit]
                                if part is not None
                                else _tf_component(
                                    t_tfs[hit], t_dls[hit], scoring, k1, b, avgdl
                                )
                            ) * t["w"]
                            dense = np.zeros(n_docs, dtype=np.float64)
                            dense[cand_docs] = cand_scores
                            dense[t_docs[hit]] += comp
                            cand_scores = dense[cand_docs]
                    else:
                        part = _part_full(t)
                        comp = (
                            part
                            if part is not None
                            else _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl)
                        ) * t["w"]
                        # search the decoded docs INTO the candidate array
                        # (each side sorted+unique, so slots are unique and
                        # a direct fancy += scatter is exact)
                        idx = np.searchsorted(cand_docs, t_docs)
                        idx_c = np.minimum(idx, cand_docs.size - 1)
                        hit = cand_docs[idx_c] == t_docs
                        slots = idx_c[hit]
                        fresh = fresh_c[slots]
                        cand_scores[slots[fresh]] += comp[hit][fresh]
                    break
                hi = j + min(chunk, n_surv)
                blk = np.sort(blocks[j:hi])
                stats["blocks_decoded"] += int(blk.size)
                done_blocks[blk] = True
                t_docs, t_tfs, t_dls = _decode_blocks(t, blk, block_size)
                if t_docs.size:
                    comp = _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl) * t["w"]
                    # chunk docs searched into the (much larger) candidate
                    # array — O(|chunk| log |cand|), not |cand| log |chunk|
                    idx = np.searchsorted(cand_docs, t_docs)
                    idx_c = np.minimum(idx, cand_docs.size - 1)
                    hit = cand_docs[idx_c] == t_docs
                    cand_scores[idx_c[hit]] += comp[hit]
                if cand_docs.size >= k:
                    theta = max(
                        theta,
                        np.partition(cand_scores, cand_scores.size - k)[
                            cand_scores.size - k
                        ],
                    )
                j = hi
                chunk = min(chunk * 2, 256)
        elif prune and i == 0:
            # first (highest-UB) term: blocks in DESCENDING block-UB order in
            # growing chunks. theta becomes a valid lower bound as soon as k
            # docs are scored (partial scores only grow), after which the
            # walk stops at the first block with bub + rest_after < theta —
            # any doc first seen there has final score <= that bound < theta
            # <= the final kth, and no earlier-term contribution exists to
            # truncate. Docs within one term are distinct, so chunk results
            # concatenate without a union.
            b_ord = np.argsort(-t["bub"], kind="stable")
            bub_sorted = t["bub"][b_ord]
            parts_docs, parts_comp = [], []
            top_scores = np.empty(0, dtype=np.float64)
            j, chunk = 0, 8
            while j < nblocks and (theta == -np.inf or bub_sorted[j] + rest_after >= theta):
                hi = min(j + chunk, nblocks)
                if theta != -np.inf:
                    hi = j + int(
                        np.searchsorted(
                            -(bub_sorted[j:hi] + rest_after), -theta, side="right"
                        )
                    )
                    if hi == j:
                        break
                # adaptive bulk fallback: if even the WEAKEST remaining block
                # survives the current theta, nothing left is skippable —
                # decode the remainder in one stream pass instead of paying
                # the per-block loop for zero skips
                if theta != -np.inf and bub_sorted[-1] + rest_after >= theta:
                    stats["blocks_decoded"] += int(nblocks - j)
                    t_docs, t_tfs, t_dls = _term_streams(t, block_size)
                    part = _part_full(t)
                    if parts_docs:
                        done = np.sort(np.concatenate([np.asarray(x) for x in parts_docs]))
                        m = np.isin(t_docs, done, invert=True, assume_unique=True)
                        t_docs, t_tfs, t_dls = t_docs[m], t_tfs[m], t_dls[m]
                        if part is not None:
                            part = part[m]
                    parts_docs.append(t_docs)
                    parts_comp.append(
                        (
                            part
                            if part is not None
                            else _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl)
                        )
                        * t["w"]
                    )
                    j = nblocks
                    break
                blk = np.sort(b_ord[j:hi])
                stats["blocks_decoded"] += int(blk.size)
                t_docs, t_tfs, t_dls = _decode_blocks(t, blk, block_size)
                comp = _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl) * t["w"]
                parts_docs.append(t_docs)
                parts_comp.append(comp)
                top_scores = np.concatenate((top_scores, comp))
                if top_scores.size > k:
                    top_scores = np.partition(top_scores, top_scores.size - k)[
                        top_scores.size - k :
                    ]
                if top_scores.size >= k:
                    theta = max(theta, float(top_scores.min()))
                j = hi
                chunk = min(chunk * 2, 256)
            if parts_docs:
                all_docs = np.concatenate(parts_docs)
                all_comp = np.concatenate(parts_comp)
                s_ord = np.argsort(all_docs, kind="stable")
                cand_docs, cand_scores = all_docs[s_ord], all_comp[s_ord]
            if cand_docs.size >= k:
                theta = max(
                    theta,
                    np.partition(cand_scores, cand_scores.size - k)[
                        cand_scores.size - k
                    ],
                )
        else:
            # later essential term (suffix[i] >= theta): one static block
            # filter against the current theta — a block survives if the best
            # doc it could still produce (an unseen doc bounded by bub, or
            # its best resident candidate's partial + bub) plus rest_after
            # reaches theta. With no theta yet, or nothing skippable, this is
            # exactly the old full decode (one stream pass, one union).
            skippable = prune and theta != -np.inf
            if skippable and nblocks and float(t["bub"].min()) + rest_after >= theta:
                # even the weakest block survives UNBOOSTED — the candidate
                # boost pass (searchsorted/argsort/reduceat over the whole
                # candidate array) cannot make any block fail, so skip the
                # bookkeeping and stream-decode directly
                skippable = False
            if skippable:
                p = t["bub"].copy()
                if cand_docs.size:
                    bfd = np.asarray(t["block_first_doc"], dtype=np.int64)
                    pos = np.searchsorted(bfd, cand_docs, side="right") - 1
                    valid = pos >= 0
                    if valid.any():
                        pos_v, cd_scores = pos[valid], cand_scores[valid]
                        order = np.argsort(pos_v, kind="stable")
                        blk_sorted = pos_v[order]
                        bwc, first_idx = np.unique(blk_sorted, return_index=True)
                        p[bwc] += np.maximum.reduceat(cd_scores[order], first_idx)
                surv = np.flatnonzero(p + rest_after >= theta)
            else:
                surv = None
            if surv is None or surv.size > nblocks // 2:
                # nothing (or too little) skippable: stream decode
                stats["blocks_decoded"] += nblocks
                t_docs, t_tfs, t_dls = _term_streams(t, block_size)
                part = _part_full(t)
            else:
                stats["blocks_decoded"] += int(surv.size)
                t_docs, t_tfs, t_dls = _decode_blocks(t, surv, block_size)
                part = None
            comp = (
                part
                if part is not None
                else _tf_component(t_tfs, t_dls, scoring, k1, b, avgdl)
            ) * t["w"]
            if (
                cand_docs.size + t_docs.size > n_docs // 16
                and (t_docs.size == 0 or int(t_docs[-1]) < n_docs)
                and (cand_docs.size == 0 or int(cand_docs[-1]) < n_docs)
            ):
                # dense-accumulator merge for big essential lists (the
                # reference's in-RAM loop shape, hash_index.hpp): O(n_docs)
                # scatter + flatnonzero beats the O(m log m) sorted union +
                # double searchsorted by ~10x at head-term sizes. Docs are
                # dense ids < n_docs; value arithmetic is identical
                # (assign-then-add, ascending doc order preserved).
                dense = np.zeros(n_docs, dtype=np.float64)
                seen = np.zeros(n_docs, dtype=bool)
                dense[cand_docs] = cand_scores
                seen[cand_docs] = True
                dense[t_docs] += comp
                seen[t_docs] = True
                all_docs = np.flatnonzero(seen)
                cand_docs, cand_scores = all_docs, dense[all_docs]
            else:
                all_docs = np.union1d(cand_docs, t_docs)
                scores = np.zeros(all_docs.size, dtype=np.float64)
                scores[np.searchsorted(all_docs, cand_docs)] += cand_scores
                scores[np.searchsorted(all_docs, t_docs)] += comp
                cand_docs, cand_scores = all_docs, scores
            if cand_docs.size >= k:
                theta = max(
                    theta,
                    np.partition(cand_scores, cand_scores.size - k)[
                        cand_scores.size - k
                    ],
                )

    if cand_docs.size == 0:
        return cand_docs, cand_scores
    take = min(k, cand_docs.size)
    order = np.lexsort((cand_docs, -cand_scores))[:take]
    return cand_docs[order], cand_scores[order]


# columns the MaxScore kernel needs from a compressed posting row
_ENC_COLS = ("doc_ids_enc", "tfs_enc", "dls_enc")
_BLOCK_COLS = (
    "block_first_doc",
    "block_off_doc",
    "block_off_tf",
    "block_off_dl",
    "block_max_tfpart",
    "block_max_tfdl",
)
_KERNEL_COLS = ["term", "count", *_ENC_COLS, *_BLOCK_COLS]


def kernel_entries(tbl, codec: str) -> list[dict]:
    """Compressed posting rows (an Arrow table holding :data:`_KERNEL_COLS`)
    -> one qtf-free kernel entry per row, in row order: enc cells as uint8
    views and block metadata as int64/float64 views over the table's own
    buffers (no cell is copied; the entry dict is the only per-row object).
    A doc-range-sharded head term (cfg.shard_postings) gives several
    self-contained entries: every (term, doc) posting lives in one shard, so
    partial scores sum and block-max bounds stay safe. Their ``df`` is the
    TERM total, one ``count`` sum per dictionary-encoded term, so a term's
    rows need not be adjacent."""
    codes = tbl.column("term").combine_chunks().dictionary_encode().indices.to_numpy()
    counts = tbl.column("count").to_numpy()
    dfs = np.bincount(codes, weights=counts)[codes].astype(np.int64).tolist()
    counts = counts.tolist()
    entries: list[dict] = []
    for rb in tbl.to_batches():
        cols = [(c, *_binary_parts(rb.column(c))) for c in _ENC_COLS]
        cols += [(c, *_list_parts(rb.column(c))) for c in _BLOCK_COLS]
        cols = [(c, off.tolist(), vals) for c, off, vals in cols]
        for i in range(rb.num_rows):
            r = len(entries)
            ent = {"codec": codec, "df": dfs[r], "count": counts[r]}
            for c, off, vals in cols:
                ent[c] = vals[off[i] : off[i + 1]]
            entries.append(ent)
    return entries


def _query_entries(tbl, codec: str) -> list[dict]:
    """One query's joined (qtf, <compressed posting row>) rows -> its
    kernel entries."""
    entries = kernel_entries(tbl, codec)
    for ent, qtf in zip(entries, tbl.column("qtf").to_numpy().tolist()):
        ent["qtf"] = qtf
    return entries


def search_wand(
    index: CompressedIndex,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scoring: str = "bm25",
    k: int | None = None,
    prune: bool = True,
) -> DataFrame:
    """queries(query_id, content) -> (query_id, rank, doc_id, score).

    Plan shape: tiny query side tokenized and **broadcast** into the postings
    join (only matching term rows leave the scan — Parquet footer min/max on
    the term-sorted files prunes most of the index), then one Arrow group per
    query runs :func:`maxscore_topk`. No full-corpus shuffle at query time.
    """
    if scoring == "bm25" and (cfg.k1 != index.k1 or cfg.b != index.b):
        raise ValueError(
            f"index block-max metadata was built with (k1={index.k1}, b={index.b}); "
            f"query config has (k1={cfg.k1}, b={cfg.b}) — rebuild or re-encode"
        )
    kk = k if k is not None else cfg.k

    q_terms = query_terms(queries, stem=cfg.stem)
    joined = index.postings.join(F.broadcast(q_terms), "term", "inner")
    return topk_from_joined(
        joined, index.n_docs, index.avgdl, kk, scoring, cfg.k1, cfg.b, index.block_size,
        prune=prune, codec=index.codec,
    )


def _per_query(joined: DataFrame, codec: str, emit, fields: list) -> DataFrame:
    """(query_id, qtf, <compressed posting row>) rows -> one Arrow group per
    query; ``emit(entries)`` returns its output columns (equal-length, named
    like ``fields``). The caller's query_id type is kept."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    def _group(tbl):
        # useLargeVarTypes sends large var types: _binary_parts reads 32-bit
        # offsets, and the output must match the declared string type
        small = {pa.large_binary(): pa.binary(), pa.large_string(): pa.string()}
        schema = pa.schema([f.with_type(small.get(f.type, f.type)) for f in tbl.schema])
        tbl = tbl.cast(schema) if schema != tbl.schema else tbl
        out = pa.table(emit(_query_entries(tbl, codec)))
        return out.add_column(0, "query_id", pa.repeat(tbl.column("query_id")[0], out.num_rows))

    schema = T.StructType(
        [T.StructField("query_id", joined.schema["query_id"].dataType), *fields]
    )
    return (
        joined.select("query_id", "qtf", *_KERNEL_COLS)
        .groupBy("query_id")
        .applyInArrow(_group, schema=schema)
    )


def wand_kernel_ab(
    index: CompressedIndex,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int | None = None,
    reps: int = 3,
) -> dict:
    """In-process A/B of the pruned vs exhaustive kernel over the SAME
    posting rows: collects each query's joined rows once (bounded — query
    terms only), then times ``maxscore_topk`` with and without pruning on
    the driver, asserting identical (doc, score) output. Returns
    ``{prune_ms, full_ms, blocks_total, blocks_decoded}`` (medians of
    ``reps`` per query, summed over queries). This isolates the kernel —
    the number a serving node pays per query — from the Spark job-dispatch
    floor that dominates a 10-query batch at bench scale."""
    import statistics  # noqa: PLC0415
    import time  # noqa: PLC0415

    kk = k if k is not None else cfg.k
    q_terms = query_terms(queries, stem=cfg.stem)
    joined = index.postings.join(F.broadcast(q_terms), "term", "inner")
    tbl = joined.select("query_id", "qtf", *_KERNEL_COLS).toArrow().sort_by("query_id")
    codes = tbl.column("query_id").combine_chunks().dictionary_encode().indices.to_numpy()
    starts = np.flatnonzero(np.diff(codes, prepend=-1))  # one per query
    out = {"prune_ms": 0.0, "full_ms": 0.0, "blocks_total": 0, "blocks_decoded": 0}
    for s, e in zip(starts, np.append(starts[1:], codes.size)):
        terms = _query_entries(tbl.slice(s, e - s), index.codec)
        args = (terms, index.n_docs, index.avgdl, kk)
        kw = dict(k1=index.k1, b=index.b, block_size=index.block_size)
        maxscore_topk(*args, **kw)  # warm
        tp, tf_ = [], []
        st: dict = {}
        for _ in range(reps):
            t0 = time.perf_counter()
            d1, s1 = maxscore_topk(*args, stats=st, **kw)
            tp.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            d2, s2 = maxscore_topk(*args, prune=False, **kw)
            tf_.append(time.perf_counter() - t0)
        # explicit raise, not assert: `python -O` strips asserts and would
        # silently time a kernel whose correctness was never checked
        if not (np.array_equal(d1, d2) and np.array_equal(s1, s2)):
            raise RuntimeError(
                f"wand_kernel_ab: pruned and exhaustive top-k diverged for "
                f"query {tbl.column('query_id')[s].as_py()!r}"
            )
        out["prune_ms"] += statistics.median(tp) * 1000.0
        out["full_ms"] += statistics.median(tf_) * 1000.0
        out["blocks_total"] += int(st["blocks_total"])
        out["blocks_decoded"] += int(st["blocks_decoded"])
    out["prune_ms"] = round(out["prune_ms"], 2)
    out["full_ms"] = round(out["full_ms"], 2)
    return out


def topk_from_joined(
    joined: DataFrame,
    n_docs: int,
    avgdl: float,
    kk: int,
    scoring: str,
    k1: float,
    b: float,
    block_size: int,
    prune: bool = True,
    codec: str = "varint",
) -> DataFrame:
    """Shared kernel application: (query_id, qtf, <compressed posting row>)
    rows -> per-query top-k via :func:`maxscore_topk` (one Arrow group per
    query, entries from :func:`kernel_entries`). Used by :func:`search_wand`
    and the Spark serving path (:mod:`fulltextsearch_spark.operators.serving`)."""
    from pyspark.sql import types as T  # noqa: PLC0415

    def _topk(entries: list[dict]) -> dict:
        doc_ids, scores = maxscore_topk(
            entries, n_docs, avgdl, kk, scoring=scoring, k1=k1, b=b,
            block_size=block_size, prune=prune,
        )
        return {
            "rank": np.arange(1, doc_ids.size + 1, dtype=np.int64),
            "doc_id": doc_ids,
            "score": scores,
        }

    return _per_query(
        joined,
        codec,
        _topk,
        [
            T.StructField("rank", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ],
    )


def wand_pruning_stats(
    index: CompressedIndex,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int | None = None,
    scoring: str = "bm25",
) -> DataFrame:
    """Per-query pruning counters for the block-max MaxScore kernel:
    ``(query_id, terms, blocks_total, blocks_decoded)``. Same broadcast
    probe join and per-query kernel as :func:`search_wand`, but the kernel
    runs with its ``stats`` hook attached and the counters — not the top-k —
    come back. Used by bench.py to log the measured skip rate to lineage
    (the evidence that pruning actually skips block decodes at scale; the
    reference has no analogue because it always decodes everything,
    inverted_index_engine.cpp:119-135)."""
    from pyspark.sql import types as T  # noqa: PLC0415

    kk = k if k is not None else cfg.k
    q_terms = query_terms(queries, stem=cfg.stem)
    joined = index.postings.join(F.broadcast(q_terms), "term", "inner")
    n_docs, avgdl, block_size = index.n_docs, index.avgdl, index.block_size
    k1, b = index.k1, index.b
    counters = ("terms", "blocks_total", "blocks_decoded")

    def _stats(entries: list[dict]) -> dict:
        stats: dict = {}
        maxscore_topk(
            entries, n_docs, avgdl, kk, scoring=scoring, k1=k1, b=b,
            block_size=block_size, stats=stats,
        )
        return {c: [int(stats[c])] for c in counters}

    return _per_query(
        joined, index.codec, _stats, [T.StructField(c, T.LongType()) for c in counters]
    )

"""Property-based tests (hypothesis) for the compression codec, plus
coverage for the spread_for_python_kernel parallelism guard.

The codec invariants mirror the reference's index round-trip guarantees
(store/load parity, /root/reference/src/algorithms/inverted/
inverted_index_engine.cpp:190-246) but over OUR delta+varint physical
layout, where a bad byte-offset or cumsum-restart bug silently corrupts
rankings rather than crashing — exactly the class of defect example-based
tests miss.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from fulltextsearch_spark.operators.compression import (
    CODECS,
    varint_decode,
    varint_encode,
)
from fulltextsearch_spark.operators.wand import _decode_blocks, decode_term_streams
from tests.postings import term_entry

# u64 edge cases the shift-loop length scan must survive: 0, 7-bit
# boundaries, and the top of the int64 range (doc_ids/tfs are int64).
_VALS = st.integers(min_value=0, max_value=2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(_VALS, max_size=200))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = varint_encode(arr)
    out = varint_decode(buf, len(vals))
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, arr)


_POSTING_LISTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10_000),  # doc_id delta (>0: strict asc)
        st.integers(min_value=1, max_value=1_000),  # tf
        st.integers(min_value=1, max_value=100_000),  # dl
    ),
    min_size=1,
    max_size=300,
)
_BLOCK_SIZES = st.sampled_from([1, 2, 3, 7, 128])
_CODECS = st.sampled_from(CODECS)


@settings(max_examples=100, deadline=None)
@given(_POSTING_LISTS, _BLOCK_SIZES, _CODECS)
def test_postings_roundtrip(rows, block_size, codec):
    deltas = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    enc = term_entry(doc_ids, tfs, dls, block_size=block_size, avgdl=50.0, codec=codec)
    out_doc, out_tf, out_dl = decode_term_streams(enc, block_size)
    np.testing.assert_array_equal(out_doc, doc_ids)
    np.testing.assert_array_equal(out_tf, tfs)
    np.testing.assert_array_equal(out_dl, dls)


@settings(max_examples=100, deadline=None)
@given(_POSTING_LISTS, _BLOCK_SIZES, _CODECS)
def test_block_decode_matches_full_decode(rows, block_size, codec):
    """Every block decoded independently == the slice of the full decode
    (the skip path WAND takes must agree with the exhaustive path)."""
    deltas = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    enc = term_entry(doc_ids, tfs, dls, block_size=block_size, avgdl=50.0, codec=codec)
    nblocks = len(enc["block_first_doc"])
    assert nblocks == -(-len(rows) // block_size)
    for bi in range(nblocks):
        s, e = bi * block_size, min((bi + 1) * block_size, len(rows))
        bd, bt, bl = _decode_blocks(enc, np.array([bi]), block_size)
        np.testing.assert_array_equal(bd, doc_ids[s:e])
        np.testing.assert_array_equal(bt, tfs[s:e])
        np.testing.assert_array_equal(bl, dls[s:e])


@settings(max_examples=100, deadline=None)
@given(_POSTING_LISTS, _BLOCK_SIZES)
def test_block_max_bounds_are_tight_and_safe(rows, block_size):
    """block_max_tf equals the true per-block max (tight), and
    block_max_tfpart upper-bounds every in-block BM25 tf-part (safe for
    WAND pruning — an under-estimate would silently drop true top-k docs)."""
    k1, b, avgdl = 1.2, 0.75, 50.0
    deltas = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    enc = term_entry(doc_ids, tfs, dls, block_size=block_size, k1=k1, b=b, avgdl=avgdl)
    tfpart = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * (dls / avgdl)))
    for bi in range(len(enc["block_first_doc"])):
        s, e = bi * block_size, min((bi + 1) * block_size, len(rows))
        assert enc["block_max_tf"][bi] == tfs[s:e].max()
        assert enc["block_first_doc"][bi] == doc_ids[s]
        assert enc["block_max_tfpart"][bi] >= tfpart[s:e].max() - 1e-12
        assert enc["block_max_tfpart"][bi] <= tfpart[s:e].max() + 1e-12


@settings(max_examples=50, deadline=None)
@given(_POSTING_LISTS)
def test_block_columns_consistent(rows):
    deltas = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    enc = term_entry(doc_ids, tfs, dls, block_size=128, avgdl=50.0)
    assert enc["count"] == len(rows)
    n_blocks = len(enc["block_first_doc"])
    for name in ("block_off_doc", "block_off_tf", "block_off_dl", "block_max_tfpart"):
        assert len(enc[name]) == n_blocks


def test_spread_for_python_kernel(spark):
    from fulltextsearch_spark.operators.util import spread_for_python_kernel

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    spread = spread_for_python_kernel(narrow)
    assert spread.rdd.getNumPartitions() == par
    # never reduces parallelism: an already-wide frame passes through as-is
    wide = spark.range(1000).repartition(par * 2)
    assert spread_for_python_kernel(wide) is wide
    # rows are preserved either way
    assert spread.count() == 100


# ---------------------------------------------------------------------------
# Fused Arrow tokenizer vs the per-doc Python spec (the byte-identical
# per-url invariant rides on these agreeing for ANY input, not just fixtures)
# ---------------------------------------------------------------------------

_TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ019$%&+@ \t\n.,;!?-_/\\\"'()<>")
        + ["é", "ß", "中", "🙂", "\x00", "\x7f"]
    ),
    max_size=80,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12), st.booleans())
def test_term_counts_flat_matches_python_tokenizer(texts, do_stem):
    import pyarrow as pa
    from collections import Counter

    from fulltextsearch_spark.functions.tokenizer import (
        term_counts_flat,
        tokenize,
    )

    dl, sorted_terms, ud, uc, cnt = term_counts_flat(pa.array(texts), do_stem)
    vocab = sorted_terms.to_pylist()
    got: dict[int, Counter] = {}
    for d, c, n in zip(ud, uc, cnt):
        got.setdefault(int(d), Counter())[vocab[int(c)]] = int(n)
    for i, text in enumerate(texts):
        want = Counter(tokenize(text, do_stem))
        assert int(dl[i]) == sum(want.values()), (i, text)
        assert got.get(i, Counter()) == want, (i, text)


@settings(max_examples=100, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12), st.booleans())
def test_term_counts_batch_matches_python_tokenizer_prop(texts, do_stem):
    import pyarrow as pa
    from collections import Counter

    from fulltextsearch_spark.functions.tokenizer import (
        term_counts_batch,
        tokenize,
    )

    dl, terms, tfs = term_counts_batch(pa.array(texts), do_stem)
    terms_py = terms.to_pylist()
    tfs_py = tfs.to_pylist()
    for i, text in enumerate(texts):
        want = Counter(tokenize(text, do_stem))
        assert int(dl[i]) == sum(want.values())
        assert Counter(dict(zip(terms_py[i], tfs_py[i]))) == want


# ---------------------------------------------------------------------------
# Block-max MaxScore kernel vs exhaustive scoring on random corpora — the
# pruning-safety argument (wand.py module docstring) checked empirically for
# arbitrary posting shapes, block sizes, and query weights.
# ---------------------------------------------------------------------------


@st.composite
def _wand_instance(draw):
    n_docs = draw(st.integers(min_value=1, max_value=60))
    dls = draw(
        st.lists(
            st.integers(min_value=1, max_value=50),
            min_size=n_docs,
            max_size=n_docs,
        )
    )
    n_terms = draw(st.integers(min_value=1, max_value=5))
    terms = []
    for _ in range(n_terms):
        docs = sorted(
            draw(
                st.sets(
                    st.integers(min_value=0, max_value=n_docs - 1),
                    min_size=1,
                    max_size=n_docs,
                )
            )
        )
        tfs = draw(
            st.lists(
                st.integers(min_value=1, max_value=9),
                min_size=len(docs),
                max_size=len(docs),
            )
        )
        qtf = draw(st.integers(min_value=1, max_value=3))
        terms.append((docs, tfs, qtf))
    k = draw(st.integers(min_value=1, max_value=10))
    block_size = draw(st.sampled_from([1, 2, 4, 128]))
    return n_docs, dls, terms, k, block_size


@settings(max_examples=150, deadline=None)
@given(_wand_instance())
def test_maxscore_rank_identical_to_exhaustive(instance):
    from hypothesis import assume

    from fulltextsearch_spark.operators.wand import maxscore_topk

    n_docs, dls_list, raw_terms, k, block_size = instance
    k1, b = 1.2, 0.75
    dls = np.array(dls_list, dtype=np.int64)
    avgdl = float(dls.sum()) / n_docs

    exhaustive = np.zeros(n_docs, dtype=np.float64)
    kernel_terms = []
    for docs, tfs, qtf in raw_terms:
        doc_ids = np.array(docs, dtype=np.int64)
        tf = np.array(tfs, dtype=np.int64)
        dl = dls[doc_ids]
        df = len(docs)
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        tfpart = tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl))
        )
        exhaustive[doc_ids] += qtf * idf * tfpart
        enc = term_entry(doc_ids, tf, dl, block_size=block_size, k1=k1, b=b, avgdl=avgdl)
        kernel_terms.append({**enc, "qtf": qtf, "df": df})

    scored = np.flatnonzero(exhaustive > 0)
    order = np.lexsort((scored, -exhaustive[scored]))
    want_docs = scored[order][:k]
    # skip instances where float summation-order noise could legitimately
    # reorder the boundary: require clear gaps around every returned rank
    want_all = exhaustive[scored[order]]
    gaps = np.abs(np.diff(want_all[: k + 1])) if want_all.size > 1 else np.array([1.0])
    assume((gaps > 1e-9).all())

    got_docs, got_scores = maxscore_topk(
        kernel_terms, n_docs, avgdl, k, "bm25", k1, b, block_size
    )
    np.testing.assert_array_equal(got_docs, want_docs)
    np.testing.assert_allclose(got_scores, exhaustive[want_docs], rtol=1e-9, atol=1e-12)
    # prune=False (the exhaustive-baseline mode) must agree exactly too
    full_docs, full_scores = maxscore_topk(
        kernel_terms, n_docs, avgdl, k, "bm25", k1, b, block_size, prune=False
    )
    np.testing.assert_array_equal(full_docs, want_docs)
    np.testing.assert_allclose(full_scores, exhaustive[want_docs], rtol=1e-9, atol=1e-12)


# ---------------------------------------------------------------------------
# Vectorized trigram parser vs the per-byte C++ transcription oracle
# (tests/trigram_oracle.py) — arbitrary byte strings, not just fixtures.
# ---------------------------------------------------------------------------

_BYTES = st.binary(max_size=120) | st.text(
    alphabet=st.sampled_from(list("abXZ09$%&+@ .,\t\n!") + ["é", "中"]),
    max_size=120,
).map(lambda s: s.encode("utf-8"))


@settings(max_examples=300, deadline=None)
@given(_BYTES)
def test_trigram_parser_matches_byte_oracle(data):
    from fulltextsearch_spark.functions.trigram import trigram_values
    from tests.trigram_oracle import oracle_trigrams

    assert trigram_values(data).tolist() == oracle_trigrams(data)


@settings(max_examples=150, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12), st.booleans())
def test_term_counts_flat_order_term_prop(texts, do_stem):
    """order="term" carries the same (doc, term, tf) triples as order="doc"
    in term-major order — the presorted contract of the posting packers —
    over arbitrary text incl. empties, non-ASCII, and control bytes."""
    import numpy as np
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import term_counts_flat

    dl_a, ta, ud_a, uc_a, cnt_a = term_counts_flat(pa.array(texts), do_stem)
    dl_b, tb, ud_b, uc_b, cnt_b = term_counts_flat(
        pa.array(texts), do_stem, order="term"
    )
    assert np.array_equal(dl_a, dl_b) and ta.equals(tb)
    assert sorted(zip(ud_a.tolist(), uc_a.tolist(), cnt_a.tolist())) == sorted(
        zip(ud_b.tolist(), uc_b.tolist(), cnt_b.tolist())
    )
    key = [(int(c), int(d)) for d, c in zip(ud_b, uc_b)]
    assert key == sorted(key)

"""Tokenizer parity tests — ported from the reference GTest suite
(``/root/reference/test/tokenizer/stemmingtokenizer_tests.cpp``) plus the
byte-semantics pins from SURVEY.md §2.2.
"""

from __future__ import annotations

import pandas as pd

from fulltextsearch_spark.functions.tokenizer import (
    STOP_WORDS,
    ascii_lower,
    tokenize,
    tokenize_series,
)


def test_basic_stemming():
    assert tokenize("running jumped quickly") == ["run", "jump", "quick"]


def test_stop_word_filtering():
    # stemmingtokenizer_tests.cpp:35-50
    assert tokenize("The quick brown fox jumps over the lazy dog") == [
        "quick", "brown", "fox", "jump", "lazi", "dog",
    ]


def test_case_insensitivity():
    assert tokenize("RUNNING Running running") == ["run", "run", "run"]


def test_empty_input():
    assert tokenize("") == []


def test_all_delimiters():
    assert tokenize("!!! ... ,,, ???") == []


def test_only_stop_words():
    assert tokenize("the is at which on") == []


def test_mixed_delimiters():
    # stemmingtokenizer_tests.cpp:115-128
    assert tokenize("token1, token2.token3!token4?token5", do_stem=False) == [
        "token1", "token2", "token3", "token4", "token5",
    ]


def test_non_ascii_bytes_are_delimiters():
    # Pinned to the CODE (tokenizer_rules.hpp:30-53: delims.fill(true)), not
    # the contradictory unit test — non-ASCII splits tokens. The trailing
    # "s" fragment is then dropped by the stop list ("s" is a stop word).
    assert tokenize("résumés", do_stem=False) == ["r", "sum"]
    assert tokenize("naïve", do_stem=False) == ["na", "ve"]


def test_special_word_chars():
    assert tokenize("c++ $100 me&you @user 50%off", do_stem=False) == [
        "c++", "$100", "me&you", "@user", "50%off",
    ]


def test_ascii_only_lowercase():
    # Unicode-aware lower() would map 'É' -> 'é'; bytewise tolower must not.
    assert ascii_lower("ÉABCz") == "ÉABCz".replace("A", "a").replace("B", "b").replace("C", "c")
    assert ascii_lower("HTTP") == "http"
    assert ascii_lower("Straße") == "straße"


def test_stop_words_checked_after_lowercase_before_stem():
    # "Running" lowercases to "running" (not a stop word) then stems;
    # "GOING" lowercases to stop word "going" -> dropped before stemming.
    assert tokenize("GOING Running") == ["run"]
    # exactly the 136-entry list from tokenizer_rules.hpp:12-29
    assert len(STOP_WORDS) == 136


def test_10k_char_token():
    long_tok = "a" * 10_000
    out = tokenize(long_tok, do_stem=False)
    assert out == [long_tok]


def test_duplicates_preserved_in_order():
    assert tokenize("salmon cat salmon") == ["salmon", "cat", "salmon"]


def test_series_vectorized_matches_scalar():
    texts = pd.Series(["The cats RUNNING fast!", "", None, "résumés c++"])
    out = tokenize_series(texts).tolist()
    assert out[0] == tokenize("The cats RUNNING fast!")
    assert out[1] == []
    assert out[2] == []
    assert out[3] == tokenize("résumés c++")


def test_term_counts_batch_matches_python_tokenizer():
    """The vectorized Arrow kernel must agree with the reference-pinned
    per-token tokenizer on counts, dl, and (sorted) term sets — including
    nulls, empties, unicode delimiters, stop words, and special chars."""
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import term_counts_batch, tokenize

    texts = [
        "Hello WORLD hello world",
        None,
        "",
        "   ",
        "the and of",  # stop words only
        "café résumé naïve",  # non-ASCII bytes are delimiters
        "$100 r&d a+b 50% x@y",
        "Running runner RUNS ran",
        "x" * 5000 + " short",
        "ééé",  # delimiters only
        "swimming swimmer swim dup dup dup",
        "A" * 3 + "\t\n\r" + "b" * 2,
    ]
    for do_stem in (True, False):
        dl, terms, tfs = term_counts_batch(pa.array(texts), do_stem)
        terms_py = terms.to_pylist()
        tfs_py = tfs.to_pylist()
        for i, t in enumerate(texts):
            toks = tokenize(t, do_stem, {}) if isinstance(t, str) else []
            want: dict[str, int] = {}
            for tok in toks:
                want[tok] = want.get(tok, 0) + 1
            assert dl[i] == len(toks), (i, t)
            assert dict(zip(terms_py[i], tfs_py[i])) == want, (i, t)
            assert terms_py[i] == sorted(terms_py[i])  # deterministic order


def test_split_tokens_np_buffer_layouts():
    """The byte-table split must be layout-independent: sliced arrays
    (nonzero ``arr.offset``), ``large_string``, chunked input, nulls at the
    slice edge, and an all-empty batch all agree with the per-doc
    tokenizer (raw tokens = tokenize with stemming/stop-wording off, which
    shares no code with the numpy scan)."""
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import _TOKEN_RE, _split_tokens_np

    def raw_tokens(t):
        return _TOKEN_RE.findall(t.lower()) if isinstance(t, str) else []

    base = [
        "Edge START token",
        None,
        "",
        "middle DOC two  spaces",
        "café $5 end+",
        "tail TOKEN!",
        "",
    ]

    def check(arr, texts):
        flat, doc_of = _split_tokens_np(arr)
        got: list[list[str]] = [[] for _ in range(len(texts))]
        for tok, d in zip(flat.to_pylist(), doc_of.tolist()):
            got[d].append(tok)
        assert got == [raw_tokens(t) for t in texts]

    plain = pa.array(base, type=pa.string())
    check(plain, base)
    # sliced: nonzero offset into both the offsets and values buffers
    check(plain.slice(2, 4), base[2:6])
    check(plain.slice(1, 2), base[1:3])  # null at slice start
    check(pa.array(base, type=pa.large_string()).slice(3), base[3:])
    check(pa.array([], type=pa.string()), [])
    check(pa.array(["", "", None], type=pa.string()), ["", "", None])


def test_term_counts_flat_int64_key_path():
    """The doc-major (doc, term) pack sorts as int32 only when n * nt fits
    in 31 bits; the int64 fallback is otherwise exercised only by enormous
    Arrow batches. Synthesize a batch whose key domain genuinely exceeds
    2^31 (33k rows x 66k distinct terms) and check the output against the
    construction: every doc contributes exactly its own two unique terms."""
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import term_counts_flat

    n_docs = 33_000
    big = pa.array(
        [f"u{i}a u{i}b" for i in range(n_docs)], type=pa.string()
    )  # nt = 66k distinct terms -> n * nt ~ 2.2e9 > 2^31
    dl, terms, ud, uc, cnt = term_counts_flat(big, do_stem=False)
    assert dl.sum() == 2 * n_docs
    assert len(terms) == 2 * n_docs  # all distinct
    assert ud.size == 2 * n_docs and (cnt == 1).all()
    for d in (ud, uc, cnt):
        assert str(d.dtype) == "int64"
    # spot-check a doc round-trips through the lex re-rank
    terms_py = terms.to_pylist()
    i = 12_345
    assert sorted(terms_py[j] for j in uc[ud == i]) == [f"u{i}a", f"u{i}b"]


def test_term_counts_flat_order_term_equivalent():
    """order="term" returns the SAME (doc, term, tf) triples as order="doc",
    sorted term-major — the presorted contract the posting packers rely on."""
    import numpy as np

    from fulltextsearch_spark.functions.tokenizer import term_counts_flat

    texts = [
        "the cat sat on the mat",
        "cats CATS cat zebra",
        "",
        "swim swimming swimmer the a an",
    ]
    dl_a, terms_a, ud_a, uc_a, cnt_a = term_counts_flat(texts, True)
    dl_b, terms_b, ud_b, uc_b, cnt_b = term_counts_flat(texts, True, order="term")
    assert np.array_equal(dl_a, dl_b)
    assert terms_a.equals(terms_b)
    trip_a = sorted(zip(ud_a.tolist(), uc_a.tolist(), cnt_a.tolist()))
    trip_b = sorted(zip(ud_b.tolist(), uc_b.tolist(), cnt_b.tolist()))
    assert trip_a == trip_b
    # term-major: uc non-decreasing, doc ascending within a run
    assert all(x <= y for x, y in zip(uc_b.tolist(), uc_b.tolist()[1:]))
    for i in range(1, len(uc_b)):
        if uc_b[i] == uc_b[i - 1]:
            assert ud_b[i] > ud_b[i - 1]


def test_stemming_is_per_token_not_idempotent():
    """Porter2 is not idempotent: stem("significant") is "signific", whose
    own stem is "signif". Each token is stemmed on its own, as the reference
    does, so a stem seen earlier never stands in for a raw token."""
    from fulltextsearch_spark.functions.porter2 import stem

    assert stem("significant") == "signific" and stem("signific") == "signif"
    assert tokenize("significant signific") == ["signific", "signif"]
    assert tokenize("signific") == ["signif"]


def test_tokenize_with_warm_memo_equals_fresh():
    """A memo that has already seen other text changes no answer."""
    text = "signific significant generalization general organ organization"
    memo: dict = {}
    tokenize("significant generalization organization the cats", memo=memo)
    assert tokenize(text, memo=memo) == tokenize(text, memo={})
    for tok, stemmed in memo.items():
        assert tokenize(tok, memo={}) == [stemmed]


def test_term_counts_flat_independent_of_batch_order():
    """Two batches through one stem memo give the same terms whichever
    goes first."""
    from fulltextsearch_spark.functions.tokenizer import term_counts_flat

    a, b = ["significant results"], ["signific result"]

    def terms(first, second):
        memo: dict = {}
        t1 = term_counts_flat(first, True, memo)[1].to_pylist()
        t2 = term_counts_flat(second, True, memo)[1].to_pylist()
        return t1, t2

    a_first, b_second = terms(a, b)
    b_first, a_second = terms(b, a)
    assert a_first == a_second == ["result", "signific"]
    assert b_first == b_second == ["result", "signif"]


def test_varint_nbytes_thresholds():
    """Exact LEB128 widths at every 2^(7k) boundary (the searchsorted bins)."""
    import numpy as np

    from fulltextsearch_spark.operators.compression import varint_nbytes

    vals, want = [], []
    for k in range(1, 10):
        b = 1 << (7 * k)
        vals += [b - 1, b]
        want += [k, k + 1]
    vals += [0, 1, 2**64 - 1]
    want += [1, 1, 10]
    got = varint_nbytes(np.array(vals, dtype=np.uint64)).tolist()
    assert got == want

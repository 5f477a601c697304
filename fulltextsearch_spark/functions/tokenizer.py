"""Tokenizer with the reference engine's exact byte semantics, vectorized.

Semantics pinned against the reference (cited file:line for parity checks):

* A token is a maximal run of bytes in ``[0-9A-Za-z$%&+@]``; every other
  byte — including all non-ASCII bytes — is a delimiter
  (``/root/reference/src/tokenizer/tokenizer_rules.hpp:30-53``).
* Lowercasing is bytewise C-locale ``tolower``: only ``A-Z`` map to
  ``a-z``; nothing else changes
  (``/root/reference/src/tokenizer/stemmingtokenizer.cpp:42-47``). Python's
  Unicode-aware ``str.lower`` must NOT be used.
* Stop words are dropped after lowercasing and before stemming
  (``tokenizer_rules.hpp:12-29``, ``stemmingtokenizer.cpp:49-51``); the
  128-word list below is copied verbatim (it is data, not code).
* Remaining tokens are stemmed with Snowball 2.2.0 English
  (:mod:`fulltextsearch_spark.functions.porter2`).
* Document length ``dl`` = number of surviving (non-stop) tokens
  (``/root/reference/src/algorithms/inverted/inverted_index_engine.cpp:37-51``).

All Spark entry points are Arrow-vectorized ``pandas_udf``s — no per-row
Python UDFs. Stemming is memoized per Arrow batch (Zipf distribution of
tokens makes the hit rate very high).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from fulltextsearch_spark.functions.porter2 import stem

__all__ = [
    "STOP_WORDS",
    "ascii_lower",
    "tokenize",
    "tokenize_series",
    "tokenize_udf",
    "term_counts_udf",
    "term_counts_batch",
    "term_counts_flat",
    "TERM_COUNTS_SCHEMA",
]

# Verbatim stop list from /root/reference/src/tokenizer/tokenizer_rules.hpp:12-29
STOP_WORDS = frozenset(
    """i me my myself we our ours ourselves you your yours yourself yourselves
    he him his himself she her hers herself it its itself they them their
    theirs themselves what which who whom this that these those am is are was
    were be been being have has had having do does did doing a an the and but
    if or because as until while of at by for with about against between into
    through during before after above below to from up down in out on off
    over under again further then once here there when where why how all any
    both each few more most other some such no nor not only own same so than
    too very s t can will just don should now n like good go going get one
    got could""".split()
)

# Token = maximal run of the 67 whitelisted ASCII chars (tokenizer_rules.hpp:11).
_TOKEN_RE = re.compile(r"[0-9a-zA-Z$%&+@]+")

# 256-entry byte tables for the vectorized scan: token-class membership and
# C-locale tolower (only A-Z change — stemmingtokenizer.cpp:42-47). Built
# lazily so importing this module does not require numpy.
_BYTE_TABLES: tuple | None = None


def _byte_tables():
    global _BYTE_TABLES  # noqa: PLW0603
    if _BYTE_TABLES is None:
        import numpy as np  # noqa: PLC0415

        cls = np.zeros(256, dtype=bool)
        cls[list(b"0123456789abcdefghijklmnopqrstuvwxyz"
                 b"ABCDEFGHIJKLMNOPQRSTUVWXYZ$%&+@")] = True
        # lowercasing happens via the masked in-place add in
        # _split_tokens_np, not a 256-entry gather table (see the comment
        # there) — keep exactly one lowercase path
        _BYTE_TABLES = cls
    return _BYTE_TABLES

# ASCII-only lowercase map (A-Z -> a-z, everything else untouched).
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def ascii_lower(text: str) -> str:
    """Bytewise C-locale tolower: only A-Z change (parity with reference)."""
    return text.translate(_ASCII_LOWER)


def tokenize(text: str, do_stem: bool = True, memo: dict | None = None) -> list[str]:
    """Tokenize one document/query string, preserving token order.

    Order preservation matters: query scoring sums over query-token
    occurrences *including duplicates*
    (``inverted_index_engine.cpp:119-135``).
    """
    if memo is None:
        memo = {}
    out = []
    for tok in _TOKEN_RE.findall(text.translate(_ASCII_LOWER)):
        if tok in STOP_WORDS:
            continue
        if do_stem:
            cached = memo.get(tok)
            if cached is None:
                cached = memo[tok] = stem(tok)
            out.append(cached)
        else:
            out.append(tok)
    return out


# Process-global stem memo: python workers are reused across Arrow batches
# and stages, and the Zipf distribution makes the raw-token vocabulary warm
# quickly — a per-batch memo re-pays every batch's cold stems (measured
# ~0.5-1 s/batch on web text). Bounded so a pathological vocabulary cannot
# grow worker memory without limit.
_STEM_MEMO: dict[str, str] = {}
_STEM_MEMO_MAX = 1_000_000


def _shared_memo() -> dict:
    if len(_STEM_MEMO) > _STEM_MEMO_MAX:
        _STEM_MEMO.clear()
    return _STEM_MEMO


def tokenize_series(texts: pd.Series, do_stem: bool = True) -> pd.Series:
    """Vectorized core: Series[str] -> Series[list[str]], shared stem memo."""
    memo = _shared_memo()
    return texts.map(lambda t: tokenize(t, do_stem, memo) if isinstance(t, str) else [])


def tokenize_udf(do_stem: bool = True):
    """Arrow-batched tokenizer: STRING -> ARRAY<STRING> (ordered tokens)."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def _tokenize(texts: pd.Series) -> pd.Series:
        return tokenize_series(texts, do_stem)

    return _tokenize


TERM_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.LongType())),
        T.StructField("dl", T.LongType()),
    ]
)


def term_counts_udf(do_stem: bool = True):
    """Arrow-batched per-doc aggregation: STRING -> (terms[], tfs[], dl).

    Computes the per-document term-frequency map inside the UDF (the
    reference's per-doc ``unordered_map`` at
    ``inverted_index_engine.cpp:37-51``). Doing this map-side shrinks the
    explode volume from one row per token occurrence to one row per distinct
    (doc, term) — a large win before the big term shuffle at scale.
    """

    @pandas_udf(TERM_COUNTS_SCHEMA)
    def _term_counts(texts: pd.Series) -> pd.DataFrame:
        memo = _shared_memo()
        terms_col: list[list[str]] = []
        tfs_col: list[list[int]] = []
        dl_col: list[int] = []
        for t in texts:
            toks = tokenize(t, do_stem, memo) if isinstance(t, str) else []
            counts: dict[str, int] = {}
            for tok in toks:
                counts[tok] = counts.get(tok, 0) + 1
            terms_col.append(list(counts.keys()))
            tfs_col.append(list(counts.values()))
            dl_col.append(len(toks))
        return pd.DataFrame({"terms": terms_col, "tfs": tfs_col, "dl": dl_col})

    return _term_counts


def term_counts_batch(texts, do_stem: bool = True, memo: dict | None = None):
    """Vectorized per-doc term counts over one Arrow batch of texts.

    Returns ``(dl ndarray[int64], terms pa.ListArray<string>,
    tfs pa.ListArray<int64>)`` with per-doc term arrays sorted
    lexicographically (deterministic regardless of Arrow batch boundaries).

    Semantically identical to :func:`tokenize` + per-doc counting (pinned by
    tests/test_tokenizer.py), but the per-TOKEN work runs in C:

    * :func:`_split_tokens_np` = bytewise C-locale tolower + maximal
      whitelist-run split (stemmingtokenizer.cpp:42-47,
      tokenizer_rules.hpp:30-53) as numpy 256-entry table scans;
    * ``dictionary_encode`` collapses the batch to its unique raw tokens, so
      Python (stop-word check + memoized Snowball stem) touches each unique
      token ONCE per batch instead of every occurrence — on Zipf-distributed
      text that is a ~100x reduction of the Python-interpreter hot path;
    * per-(doc, term) counts come from one ``np.sort`` over packed int64
      keys; the output list arrays are rebuilt zero-copy with
      ``pa.ListArray.from_arrays``.
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    dl, sorted_terms, ud, uc, cnt = term_counts_flat(texts, do_stem, memo)
    n = dl.size
    offs = np.searchsorted(ud, np.arange(n + 1, dtype=np.int64))
    terms_arr = pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()),
        sorted_terms.take(pa.array(uc, type=pa.int64())),
    )
    tfs_arr = pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()), pa.array(cnt, type=pa.int64())
    )
    return dl, terms_arr, tfs_arr


def _split_tokens_np(arr):
    """Vectorized tokenize-split: StringArray -> (flat lowercased tokens,
    doc_of_token int64[]).

    A 256-entry byte-class table scan replacing ``pc.ascii_lower`` +
    ``pc.split_pattern_regex`` (measured ~1.6x faster on web text — the RE2
    split plus full-string lowercase copy dominated the kernel). Semantics
    are the reference's byte loop (stemmingtokenizer.cpp:25-61): a token is
    a maximal run of the 67 whitelisted bytes within one document; all
    other bytes — including every non-ASCII byte — delimit; only A-Z
    lowercase. Unlike the regex split this never materializes empty tokens
    at document edges (the downstream stop-word pass dropped them anyway).
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    cls_tbl = _byte_tables()
    if arr.null_count:
        arr = arr.fill_null("")
    bufs = arr.buffers()
    n = len(arr)
    if pa.types.is_large_string(arr.type):
        off = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1, offset=arr.offset * 8)
    else:
        off = np.frombuffer(
            bufs[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4
        ).astype(np.int64)
    if bufs[2] is not None:
        data = np.frombuffer(bufs[2], dtype=np.uint8)
    else:
        data = np.empty(0, dtype=np.uint8)
    lo = int(off[0])
    buf = data[lo : int(off[-1])]
    doc_off = off - lo  # doc i spans buf[doc_off[i]:doc_off[i+1]]
    m = buf.size
    mask = cls_tbl[buf]
    # run starts = token byte whose predecessor is not one; document starts
    # force a break so runs never span documents
    prev = np.empty(m, dtype=bool)
    nxt = np.empty(m, dtype=bool)
    if m:
        prev[0] = False
        prev[1:] = mask[:-1]
        ds = doc_off[:-1]
        prev[ds[ds < m]] = False
        nxt[-1] = False
        nxt[:-1] = mask[1:]
        de = doc_off[1:] - 1
        nxt[de[(de >= 0) & (de < m)]] = False
    s = np.flatnonzero(mask & ~prev)
    lens = (np.flatnonzero(mask & ~nxt) + 1) - s
    # doc of each token, INVERTED: n doc-boundary searches into the sorted
    # start array + one repeat, instead of one search per token (measured
    # 8.8 -> 1.2 ms on a 778k-token batch; token starts are non-decreasing
    # and runs never span documents, so the two are identical)
    cum = np.searchsorted(s, doc_off[1:], side="left")
    doc_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(cum, prepend=0))
    # compact values buffer: token bytes in order, lowercased (compress
    # beats boolean fancy-indexing ~15% on this host; the masked in-place
    # add beats a 256-entry table gather ~1.6x — the gather is random-access
    # over the compacted megabytes, the add is two sequential passes)
    tokbytes = np.compress(mask, buf)
    np.add(
        tokbytes, 32, out=tokbytes, where=(tokbytes >= 65) & (tokbytes <= 90)
    )
    toff = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=toff[1:])
    flat = pa.Array.from_buffers(
        pa.large_utf8(),
        lens.size,
        [None, pa.py_buffer(toff), pa.py_buffer(np.ascontiguousarray(tokbytes))],
    )
    return flat, doc_of


def term_counts_flat(
    texts, do_stem: bool = True, memo: dict | None = None, order: str = "doc"
):
    """Flat variant of :func:`term_counts_batch` for fused consumers.

    Returns ``(dl ndarray, sorted_terms pa.StringArray, ud ndarray,
    uc ndarray, cnt ndarray)`` where ``(ud[i], uc[i], cnt[i])`` is one
    distinct (doc row index, term rank, term frequency) triple, sorted
    doc-major then term-rank (``order="doc"``, the ListArray consumers) or
    term-rank-major then doc (``order="term"``, the posting packers — saves
    their per-buffer lexsort); ``sorted_terms`` is the batch vocabulary in
    lexicographic order (``uc`` indexes into it).
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    if memo is None:
        memo = _shared_memo() if do_stem else {}
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if not isinstance(texts, pa.Array):
        texts = pa.array(texts, type=pa.string())
    n = len(texts)

    flat, doc_idx = _split_tokens_np(texts)
    denc = pc.dictionary_encode(flat)
    uniq = denc.dictionary.to_pylist()
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)

    # python only over the batch's UNIQUE raw tokens
    # -1-filled: with zero tokens in the batch the loop below never runs
    # (the old regex split always yielded at least an empty-string token)
    mapped = np.full(max(len(uniq), 1), -1, dtype=np.int64)
    out_terms: list[str] = []
    tid: dict[str, int] = {}
    for i, t in enumerate(uniq):
        if not t or t in STOP_WORDS:
            mapped[i] = -1
            continue
        if do_stem:
            s = memo.get(t)
            if s is None:
                s = memo[t] = stem(t)
        else:
            s = t
        j = tid.get(s)
        if j is None:
            j = tid[s] = len(out_terms)
            out_terms.append(s)
        mapped[i] = j

    # re-rank codes lexicographically so per-doc output order is a pure
    # function of the doc's content, not of batch composition
    nt = max(len(out_terms), 1)
    rank = np.empty(nt, dtype=np.int64)
    lex = np.argsort(np.asarray(out_terms or [""], dtype=object))
    rank[lex] = np.arange(nt, dtype=np.int64)
    sorted_terms = pa.array(
        [out_terms[j] for j in lex] if out_terms else [], type=pa.string()
    )

    # compose the lex re-rank into the unique-token map (tiny domain) so the
    # big gather below lands directly in rank space — one 8B/token gather
    # instead of two
    mapped_rank = np.where(mapped >= 0, rank[np.maximum(mapped, 0)], -1)
    fr = mapped_rank[codes]
    keep = fr >= 0
    d = np.compress(keep, doc_idx)
    c = np.compress(keep, fr)
    # d is sorted (doc_idx is non-decreasing), so per-doc token counts are
    # boundary differences — ~2x cheaper than bincount on this host
    dl = np.diff(np.searchsorted(d, np.arange(n + 1, dtype=np.int64)))

    # packed-key sort; int32 when the key domain allows it (sort is memory-
    # bandwidth-bound: 32-bit keys sort ~1.6x faster) — n and nt are batch-
    # local so the narrow path covers every realistic Arrow batch.
    # order="doc" keys doc-major (the ListArray consumers); order="term"
    # keys term-major — (term-rank, doc) ascending — which is EXACTLY the
    # (term, doc) order the posting packer needs, so the fused index builds
    # skip their per-buffer lexsort entirely.
    if order == "term":
        if n * nt < 2**31:
            key = c.astype(np.int32)
            key *= np.int32(n)
            key += d.astype(np.int32)
        else:
            key = c
            key *= n
            key += d
    elif n * nt < 2**31:
        key = d.astype(np.int32)
        key *= np.int32(nt)
        key += c.astype(np.int32)
    else:
        key = d
        key *= nt
        key += c
    # in-place: key is a fresh temporary, and for order="doc" it is already
    # doc-major (doc_idx is non-decreasing) so the sort itself is near-
    # linear; the copy np.sort() would make costs more than the sort
    key.sort()
    sk = key
    if sk.size:
        bnd = np.flatnonzero(sk[1:] != sk[:-1]) + 1
        starts = np.concatenate(([0], bnd))
        cnts = np.diff(np.concatenate((starts, [sk.size])))
        ukey = sk[starts].astype(np.int64)
    else:
        ukey = sk.astype(np.int64)
        cnts = sk.astype(np.int64)
    if order == "term":
        uc = ukey // n
        ud = ukey % n
    else:
        ud = ukey // nt
        uc = ukey % nt
    return dl, sorted_terms, ud, uc, cnts


def tokenized_docs(df, text_col: str = "text", do_stem: bool = True):
    """doc DataFrame -> (doc_id, term, tf, dl) exploded term-frequency rows.

    Narrow (no shuffle): tokenization + per-doc tf happen map-side in one
    Arrow pass; ``explode`` stays in the same stage.
    """
    tc = term_counts_udf(do_stem)
    with_tc = df.withColumn("_tc", tc(F.col(text_col)))
    return (
        with_tc.select(
            "doc_id",
            F.col("_tc.dl").alias("dl"),
            F.explode(F.arrays_zip(F.col("_tc.terms"), F.col("_tc.tfs"))).alias("_z"),
        )
        .select(
            "doc_id",
            F.col("_z.terms").alias("term"),
            F.col("_z.tfs").cast("long").alias("tf"),
            "dl",
        )
    )

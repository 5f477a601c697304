"""Low-latency query serving over a persisted compressed index.

:func:`fulltextsearch_spark.operators.wand.search_wand` tokenizes queries in
a Spark job and joins the live postings lineage — the right shape for large
offline query batches. At *serving* time (a handful of queries against a hot
on-disk index, the reference's interactive loop
``/root/reference/src/queries/query_iterator.cpp:34-51`` +
``src/main.cpp:64-86``) the fixed per-job overhead dominates. This module is
the serving path:

* queries tokenize on the DRIVER — a query is tiny by definition (the
  reference reads one line at a time), so this is not a collect-style
  anti-pattern; it is what turns the term set into a *static* predicate;
* the needed terms become a ``term IN (...)`` filter that *pushes into the
  parquet scan*. ``save_compressed_index`` writes the postings globally
  sorted by term in ~512 KB row groups (``util.write_clustered``), so the
  footers' term [min, max] ranges are disjoint, and min/max statistics
  skip every row group but the one that can hold each term. The
  scan reads O(query terms) row groups out of the whole index. A hash
  layout would put every term range in every file and prune nothing;
* one job broadcast-joins the tiny (query_id, term, qtf) frame and runs the
  same block-max MaxScore kernel — results are byte-identical to
  ``search_wand`` (pinned by tests/test_serving.py).

At 100 TB the index is TBs of parquet; this plan still reads only the row
groups containing the queried terms, which is why serving latency is
independent of corpus size (modulo posting-list length).

:meth:`QueryServer.search_local` is the interactive fast path: the SAME
footer-statistics pruning and MaxScore kernel, but executed in-process with
pyarrow — no Spark job at all, so the per-job scheduler overhead (the whole
residual latency once the scan reads O(query terms) row groups) disappears.
This is the standard serving architecture for a Spark-built index: the
cluster builds and maintains the artifact; a serving tier memory-maps /
range-reads it directly. Results are rank- and score-identical to
``search()``/``search_wand`` (pinned by tests). Local/NFS index roots only —
the Spark path stays the answer for object stores and huge query batches.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fulltextsearch_spark.config import DEFAULT_CONFIG, EngineConfig
from fulltextsearch_spark.functions.tokenizer import _shared_memo, tokenize
from fulltextsearch_spark.operators.compressed_index import _binary_parts, _read_corpus_stats
from fulltextsearch_spark.operators.wand import (
    _BLOCK_COLS,
    _ENC_COLS,
    _KERNEL_COLS,
    kernel_entries,
    maxscore_topk,
    topk_from_joined,
)

__all__ = ["QueryServer"]

# a row-cache entry is one tuple of these fields, in this order: codec, df,
# count, then every enc cell and block array as owned bytes (block arrays
# as _BLOCK_DTYPES). _entry() builds the kernel's entry dict from it on use.
# Cold traffic leaves every fetched term cached, so entry size sets RSS
# growth: a 12-key dict costs 464 B, and a 1-element array about three
# times its bytes.
_PLAIN_KEYS = ("codec", "df", "count", *_ENC_COLS)  # dict values as stored
_ENTRY_KEYS = (*_PLAIN_KEYS, *_BLOCK_COLS)
_BLOCK_DTYPES = tuple(np.float64 if c.startswith("block_max") else np.int64 for c in _BLOCK_COLS)


def _cached(ent: dict) -> tuple:
    """A :func:`kernel_entries` dict -> its row-cache tuple. Every cell is
    copied out: a view would pin the whole fetched row group."""
    return (
        ent["codec"],
        ent["df"],
        ent["count"],
        *(ent[c].tobytes() for c in _ENC_COLS),
        *(ent[c].astype(dt, copy=False).tobytes() for c, dt in zip(_BLOCK_COLS, _BLOCK_DTYPES)),
    )


def _entry(base: tuple) -> dict:
    """A row-cache tuple -> a fresh qtf-free kernel entry dict; the block
    arrays are read-only views over the cached bytes."""
    ent = dict(zip(_PLAIN_KEYS, base))
    for c, dt, cell in zip(_BLOCK_COLS, _BLOCK_DTYPES, base[len(_PLAIN_KEYS) :]):
        ent[c] = np.frombuffer(cell, dt)
    return ent


def _sorted_term_column(col) -> bool:
    """True when a row group's term column is a null-free string column in
    ascending UTF-8 byte order (Arrow compares strings bytewise), so that
    :func:`_term_slices` may bisect it."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    if not pa.types.is_string(col.type) or col.null_count:
        return False
    return len(col) < 2 or pc.all(pc.less_equal(col[:-1], col[1:])).as_py()


def _term_slices(tbl, terms: list[str]) -> list:
    """Row slices of ``tbl``, whose term column is sorted (see
    :func:`_sorted_term_column`), holding exactly the rows of ``terms``
    (sorted), in row order. Bisects the column's UTF-8 bytes through its
    offsets: Unicode code-point order is UTF-8 byte order, so Python's
    ``str`` order agrees with the writer's sort."""
    import bisect  # noqa: PLC0415

    col = tbl.column("term")
    off, data = _binary_parts(col.chunk(0) if col.num_chunks == 1 else col.combine_chunks())
    off = memoryview(off)  # Python ints per index, no per-row conversion
    data = data.tobytes()
    rows = range(len(tbl))

    def key(i: int) -> bytes:
        return data[off[i] : off[i + 1]]

    out = []
    lo = 0
    for t in terms:
        tb = t.encode()
        lo = bisect.bisect_left(rows, tb, lo, key=key)
        hi = bisect.bisect_right(rows, tb, lo, key=key)
        if hi > lo:
            out.append(tbl.slice(lo, hi - lo))
        lo = hi
    return out


@dataclass
class QueryServer:
    """Hot handle on a saved index (``save_compressed_index`` layout)."""

    spark: SparkSession
    root: str
    n_docs: int
    avgdl: float
    block_size: int
    k1: float
    b: float
    codec: str = "varint"
    # decoded-postings cache budget for search_local (MB of int64 arrays).
    # The reference serves from permanently-uncompressed in-RAM postings
    # (hash_index.hpp); this LRU is the bounded equivalent for a serving
    # node: a term's streams are decoded once on its SECOND appearance
    # (first sight keeps the pruned-decode fast path — one-off queries
    # never pay a full decode) and attached to the kernel entries, where
    # block "decode" becomes slicing so block-max pruning keeps skipping.
    decoded_cache_mb: int = 256
    # lazy fast-path state: per-row-group [path, rg, term_min, term_max,
    # kernel-column bytes, term column sorted] manifest from the parquet
    # footers (sortedness is None until the row group's first read) +
    # memory-mapped file handles
    _rg_manifest: list | None = field(default=None, repr=False)
    _pf_cache: dict = field(default_factory=dict, repr=False)
    # search_local fetch counters (read-only for callers): row groups read /
    # skipped by the manifest, compressed bytes of the columns read (footer
    # column-chunk sizes), and fetches of terms too big to ever be cached
    counters: dict = field(
        init=False,
        repr=False,
        compare=False,
        default_factory=lambda: dict.fromkeys(
            ("row_groups_read", "row_groups_pruned", "bytes_read", "row_cache_oversize"),
            0,
        ),
    )
    _dec_cache: dict = field(default_factory=dict, repr=False)  # key -> (d,t,l,nbytes)
    _dec_seen: dict = field(default_factory=dict, repr=False)
    _dec_bytes: int = field(default=0, repr=False)
    # kernel-ready matched-rows cache for search_local: term -> list of
    # per-shard base entries, each one compact _ENTRY_KEYS tuple of owned
    # bytes (see _cached; [] for a term the index lacks). Without it every
    # WARM batch re-reads the term's row groups and rebuilds its entries.
    # LRU-bounded like _dec_cache; the ledger counts a 512 B floor plus the
    # entries' array bytes per term, about a quarter of a cached term's RSS.
    row_cache_mb: int = 256
    _row_cache: dict = field(default_factory=dict, repr=False)  # term -> (rows, nbytes)
    _row_bytes: int = field(default=0, repr=False)

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "QueryServer":
        return cls(spark=spark, root=root, **_read_corpus_stats(spark, root))

    def search(
        self,
        queries: list[tuple[str, str]],
        cfg: EngineConfig = DEFAULT_CONFIG,
        scoring: str = "bm25",
        k: int | None = None,
    ) -> DataFrame:
        """[(query_id, content)] -> (query_id, rank, doc_id, score).

        Rank-identical to ``search_wand`` over the loaded index.
        """
        if scoring == "bm25" and (cfg.k1 != self.k1 or cfg.b != self.b):
            raise ValueError(
                f"index built with (k1={self.k1}, b={self.b}); query config "
                f"has (k1={cfg.k1}, b={cfg.b}) — rebuild or re-encode"
            )
        rows = []
        memo = _shared_memo()
        for qid, content in queries:
            for term, qtf in Counter(tokenize(content, cfg.stem, memo)).items():
                rows.append((qid, term, qtf))
        terms = sorted({t for _, t, _ in rows})
        q_df = self.spark.createDataFrame(
            rows or [("", "", 0)], "query_id STRING, term STRING, qtf LONG"
        )
        if not rows:
            q_df = q_df.limit(0)
        # the static IN-filter is what reaches the parquet footers; the join
        # alone would not prune the scan
        postings = self.spark.read.parquet(f"{self.root}/postings").where(
            F.col("term").isin(terms) if terms else F.lit(False)
        )
        joined = postings.join(F.broadcast(q_df), "term", "inner")
        return topk_from_joined(
            joined,
            self.n_docs,
            self.avgdl,
            k if k is not None else cfg.k,
            scoring,
            cfg.k1,
            cfg.b,
            self.block_size,
            codec=self.codec,
        )

    # ------------------------------------------------------------------ #
    # in-process fast path (no Spark job)                                 #
    # ------------------------------------------------------------------ #

    def _local_postings_dir(self) -> str:
        root = self.root
        if "://" in root and not root.startswith("file://"):
            raise ValueError(
                f"search_local needs a local/NFS index root, got {root!r}; "
                "use search() (the Spark path) for object stores"
            )
        return root.removeprefix("file://") + "/postings"

    def _ensure_manifest(self) -> None:
        """One footer-metadata pass over the postings files, opened
        memory-mapped so a row-group read decodes straight from the page
        cache. Per row group, record the term column's min/max statistics
        and the compressed bytes of the kernel columns. The writer sorts
        the whole table by term in small row groups, so the ranges are
        disjoint and each term falls in one of them (or two, when a sharded
        term's rows straddle a boundary); they prune exactly like the Spark
        scan's PushedFilters do. A hash-partitioned index (older writers) still
        serves correctly, its overlapping ranges just prune little. O(row groups)
        driver memory — a few dozen bytes per ~512 KB of index."""
        if self._rg_manifest is not None:
            return
        import os  # noqa: PLC0415

        import pyarrow.parquet as pq  # noqa: PLC0415

        pdir = self._local_postings_dir()
        kernel_cols = set(_KERNEL_COLS)
        manifest: list[list] = []
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(pdir, fn)
            pf = pq.ParquetFile(path, memory_map=True)
            self._pf_cache[path] = pf
            # physical (leaf) column index of 'term' — list columns flatten
            # into multiple leaves, so match on the dotted path
            pschema = pf.metadata.schema
            term_idx = next(
                i for i in range(len(pschema)) if pschema.column(i).path == "term"
            )
            for rg in range(pf.metadata.num_row_groups):
                md = pf.metadata.row_group(rg)
                st = md.column(term_idx).statistics
                mn = st.min if st is not None and st.has_min_max else None
                mx = st.max if st is not None and st.has_min_max else None
                nbytes = sum(
                    md.column(c).total_compressed_size
                    for c in range(md.num_columns)
                    if md.column(c).path_in_schema.split(".")[0] in kernel_cols
                )
                manifest.append([path, rg, mn, mx, nbytes, None])
        self._rg_manifest = manifest

    def _matched_rows(self, terms: list[str]) -> dict[str, list[tuple]]:
        """Kernel-ready base entries (qtf-free :data:`_ENTRY_KEYS` tuples)
        for the given terms, grouped by term; ``terms`` must be sorted. Warm
        terms come straight from the LRU row cache; only the misses pay a
        parquet pass — read ONLY the row groups whose [min, max] term range
        can contain a missing term, cut each term's rows out of them, build
        their entries with one :func:`kernel_entries` call, cache. A row
        group whose term column is sorted (checked on its first read, every
        ``save_compressed_index`` row group is) gives each term's rows as
        one bisected ``Table.slice``, with no pass over its other rows; any
        other row group is hash-filtered (``pc.is_in``). Updates
        :attr:`counters`."""
        import bisect  # noqa: PLC0415

        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        by_term: dict[str, list[tuple]] = {}
        missing: list[str] = []
        for t in terms:
            hit = self._row_cache.get(t)
            if hit is not None:
                self._row_cache[t] = self._row_cache.pop(t)  # LRU touch
                by_term[t] = hit[0]
            else:
                missing.append(t)
        if not missing:
            return by_term

        counters = self.counters
        parts = []
        for entry in self._rg_manifest:
            path, rg, mn, mx, nbytes, is_sorted = entry
            in_range = missing
            if mn is not None and mx is not None:
                i = bisect.bisect_left(missing, mn)
                j = bisect.bisect_right(missing, mx, i)
                if i == j:
                    counters["row_groups_pruned"] += 1
                    continue  # no missing term inside this row group's range
                in_range = missing[i:j]
            counters["row_groups_read"] += 1
            counters["bytes_read"] += nbytes
            tbl = self._pf_cache[path].read_row_group(rg, columns=_KERNEL_COLS)
            if is_sorted is None:
                is_sorted = entry[5] = _sorted_term_column(tbl.column("term"))
            if is_sorted:
                # several slices: one copy now, so that a call fetching many
                # row groups (prewarm) does not hold every one of them
                if slices := _term_slices(tbl, in_range):
                    parts.append(pa.concat_tables(slices).combine_chunks())
            else:
                keep = pc.is_in(tbl.column("term"), value_set=pa.array(in_range, pa.string()))
                parts.append(tbl.filter(keep))
        fetched: dict[str, list[dict]] = {}
        if parts:
            # one chunk: kernel_entries' per-batch setup costs more than
            # copying a few small slices (measured 2.4x on 4-slice calls)
            tbl = pa.concat_tables(parts).combine_chunks()
            for t, ent in zip(
                tbl.column("term").to_numpy(), kernel_entries(tbl, self.codec)
            ):
                fetched.setdefault(t, []).append(ent)
        budget = self.row_cache_mb * (1 << 20)
        for t in missing:
            ents = fetched.get(t, [])
            # 512 B/term floor: dict+key overhead, and it makes NEGATIVE
            # entries (queried-but-absent terms — the typo/rare heavy tail)
            # count toward the budget so the LRU eviction bounds them too
            nb = 512 + sum(
                v.nbytes for ent in ents for v in ent.values() if isinstance(v, np.ndarray)
            )
            rows = by_term[t] = [_cached(ent) for ent in ents]
            if nb > budget:
                counters["row_cache_oversize"] += 1
                continue
            while self._row_bytes + nb > budget and self._row_cache:
                oldest = next(iter(self._row_cache))
                self._row_bytes -= self._row_cache.pop(oldest)[1]
            self._row_cache[t] = (rows, nb)
            self._row_bytes += nb
        return by_term

    def _attach_decoded(self, term: str, shard: int, ent: dict) -> None:
        """Decoded-postings LRU (see ``decoded_cache_mb``): attach cached
        (docs, tfs, dls) arrays to a kernel entry, populating the cache on
        a term-shard's SECOND appearance so one-off queries keep the
        pruned-decode path and repeated workload terms serve from RAM like
        the reference's uncompressed postings."""
        ckey = (term, shard)
        cached = self._dec_cache.get(ckey)
        if cached is not None:
            self._dec_cache[ckey] = self._dec_cache.pop(ckey)  # LRU touch
            ent["docs"], ent["tfs"], ent["dls"] = cached[0], cached[1], cached[2]
            ent["tfpart"] = cached[4]
            return
        # bound the first-sighting ledger: a heavy-tail query vocabulary
        # would otherwise grow it one entry per distinct (term, shard)
        # forever; LRU-evict the stalest sightings at a cap well above the
        # cache's own key count so warm terms never lose their streak
        seen = self._dec_seen.pop(ckey, 0) + 1
        while len(self._dec_seen) >= 64 * 1024:
            self._dec_seen.pop(next(iter(self._dec_seen)))
        self._dec_seen[ckey] = seen
        if seen < 2:
            return
        nb = 32 * int(ent["count"])  # three int64 streams + float64 tf part
        budget = self.decoded_cache_mb * (1 << 20)
        if nb > budget:
            return
        from fulltextsearch_spark.operators.wand import (  # noqa: PLC0415
            _tf_component,
            decode_term_streams,
        )

        d_, t_, l_ = decode_term_streams(ent, self.block_size)
        # the per-posting BM25 tf component is query-independent (only
        # k1/b/avgdl, which search_local pins to the index's values) — cache
        # it alongside the streams so warm terms skip that compute entirely;
        # produced by the SAME kernel function, so scores stay bit-identical
        part = _tf_component(t_, l_, "bm25", self.k1, self.b, self.avgdl)
        while self._dec_bytes + nb > budget and self._dec_cache:
            oldest = next(iter(self._dec_cache))
            self._dec_bytes -= self._dec_cache.pop(oldest)[3]
        self._dec_cache[ckey] = (d_, t_, l_, nb, part)
        self._dec_bytes += nb
        ent["docs"], ent["tfs"], ent["dls"] = d_, t_, l_
        ent["tfpart"] = part

    def prewarm(
        self,
        queries_or_terms: list[tuple[str, str]] | list[str],
        cfg: EngineConfig = DEFAULT_CONFIG,
    ) -> int:
        """Explicit serving-node warmup: pre-populate the matched-rows AND
        decoded-postings caches for the given queries (``(id, content)``
        tuples, tokenized like search_local) or raw index terms. Unlike
        organic traffic, warmup skips the populate-on-second-sight rule —
        the operator asked for these terms to be hot. Returns the number
        of terms whose rows are now cached. First-batch latency for a
        prewarmed workload drops to the warm-path number; everything stays
        LRU-bounded by the same byte budgets."""
        self._ensure_manifest()
        if queries_or_terms and isinstance(queries_or_terms[0], tuple):
            memo = _shared_memo()
            terms = sorted(
                {t for _, content in queries_or_terms for t in tokenize(content, cfg.stem, memo)}
            )
        else:
            terms = sorted(set(queries_or_terms))
        if not terms:
            return 0
        by_term = self._matched_rows(terms)
        for term, trows in by_term.items():
            for ri, base in enumerate(trows):
                self._dec_seen[(term, ri)] = 1  # next sight is "second"
                self._attach_decoded(term, ri, _entry(base))
        return sum(1 for t in terms if t in self._row_cache)

    def search_local(
        self,
        queries: list[tuple[str, str]],
        cfg: EngineConfig = DEFAULT_CONFIG,
        scoring: str = "bm25",
        k: int | None = None,
        workers: int | None = None,
    ) -> list[tuple[str, int, int, float]]:
        """[(query_id, content)] -> [(query_id, rank, doc_id, score)] rows,
        entirely in-process (pyarrow reads + the numpy MaxScore kernel) —
        rank- and score-identical to :meth:`search` without the per-job
        scheduler overhead. ``queries`` order is preserved; queries with no
        matching terms contribute no rows (same as the Spark path).

        ``workers > 1`` scores the batch's queries concurrently in a
        thread pool: cache/IO work stays serial (phase 1), then the pure
        kernels — big numpy ops that release the GIL — run in parallel
        over shared read-only buffers (each query holds its own entry-dict
        copies, so kernel-side mutation never crosses queries). Results
        are identical to the serial path in the same order; the default
        stays serial so latency numbers remain comparable to the
        reference's serial loop."""
        if scoring == "bm25" and (cfg.k1 != self.k1 or cfg.b != self.b):
            raise ValueError(
                f"index built with (k1={self.k1}, b={self.b}); query config "
                f"has (k1={cfg.k1}, b={cfg.b}) — rebuild or re-encode"
            )
        self._ensure_manifest()
        memo = _shared_memo()
        parsed = [
            (qid, Counter(tokenize(content, cfg.stem, memo))) for qid, content in queries
        ]
        terms = sorted({t for _, c in parsed for t in c})
        if not terms:
            return []
        by_term = self._matched_rows(terms)

        kk = k if k is not None else cfg.k
        # phase 1 (serial): per-query kernel entry lists + cache attachment
        jobs: list[tuple[str, list[dict]]] = []
        for qid, counts in parsed:
            entries = []
            for term, qtf in counts.items():
                trows = by_term.get(term)
                if not trows:
                    continue  # find() miss — term drops out
                for ri, base in enumerate(trows):  # one entry per shard row
                    # a fresh dict over the cached kernel-ready base: the
                    # encoded bytes / block arrays are shared (read-only in
                    # the kernel), only qtf and the attached decode differ
                    ent = _entry(base)
                    ent["qtf"] = int(qtf)
                    entries.append(ent)
                    self._attach_decoded(term, ri, ent)
            jobs.append((qid, entries))

        def _run(job: tuple[str, list[dict]]):
            qid, entries = job
            doc_ids, scores = maxscore_topk(
                entries,
                self.n_docs,
                self.avgdl,
                kk,
                scoring=scoring,
                k1=cfg.k1,
                b=cfg.b,
                block_size=self.block_size,
            )
            return qid, doc_ids, scores

        # phase 2: kernels — serial by default, pooled when asked
        if workers and workers > 1 and len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

            with ThreadPoolExecutor(max_workers=min(workers, len(jobs))) as ex:
                results = list(ex.map(_run, jobs))  # input order preserved
        else:
            results = [_run(j) for j in jobs]

        out: list[tuple[str, int, int, float]] = []
        for qid, doc_ids, scores in results:
            out.extend(
                (qid, rank + 1, int(d), float(s))
                for rank, (d, s) in enumerate(zip(doc_ids, scores))
            )
        return out

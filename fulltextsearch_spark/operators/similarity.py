"""Similarity search over embedding columns (ARRAY<FLOAT>).

Training-pipeline operators, Spark-first:

* :func:`brute_cosine_topk` — exact top-k: the query matrix broadcasts, each
  partition does one numpy matmul + partial top-k inside ``mapInPandas``,
  then a tiny global window finishes. This is the exact baseline and already
  the right distributed shape (no crossJoin row explosion: candidates leaving
  each partition are k per query, not n).
* :func:`hyperplane_lsh_buckets` / :func:`lsh_cosine_topk` — random-
  hyperplane signatures (seeded, deterministic); queries probe their own
  bucket plus all hamming-1 neighbors (multiprobe). Approximate: recall
  measured in tests; the scale path when one partition can't see all vectors.
* :func:`ivf_assign` / :func:`ivf_cosine_topk` — IVF: k-means centroids
  (numpy Lloyd iterations on a driver sample — the standard practice; the
  assignment pass is distributed), vectors partitioned by nearest centroid,
  queries probe the ``nprobe`` nearest lists.
* :func:`embedding_neardup_exact` — all-pairs cosine >= threshold (oracle
  for near-dup); scale variant composes hyperplane buckets + verify.
* :func:`semdedup_keep` — SemDeDup semantic dedup: within-k-means-cluster
  cosine pair test, keep-first by id; the pair join is per-cluster only.
* :func:`build_pq` / :func:`pq_adc_topk` — product quantization: per-
  subspace codebooks, vectors as m code ints, ADC cosine serving from
  per-query lookup tables (the scan never touches raw vectors).
* :func:`build_ivfpq` / :func:`ivfpq_adc_topk` — IVF-PQ: residual PQ
  under the coarse quantizer; inverted lists bound what a query touches,
  codes bound what it reads — the billion-vector serving layout.

Everything numerical is numpy over Arrow batches; bucket routing is JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fulltextsearch_spark.operators.util import spread_for_python_kernel

__all__ = [
    "brute_cosine_topk",
    "hyperplane_lsh_buckets",
    "lsh_cosine_topk",
    "ivf_assign",
    "IVFIndex",
    "build_ivf",
    "ivf_cosine_topk",
    "embedding_neardup_exact",
    "semdedup_keep",
    "PQIndex",
    "build_pq",
    "pq_adc_topk",
    "IVFPQIndex",
    "build_ivfpq",
    "ivfpq_adc_topk",
    "save_ivfpq_index",
    "load_ivfpq_index",
    "SavedIVFIndex",
    "save_ivf_index",
    "load_ivf_index",
    "ivf_topk_served",
    "SavedLSHIndex",
    "save_lsh_index",
    "load_lsh_index",
    "lsh_topk_served",
    "SQIndex",
    "build_sq",
    "sq_cosine_topk",
    "ivf_knn_join",
    "dim_truncation_recall",
    "filtered_cosine_topk",
]


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    rows = queries.select(id_col, vec_col).collect()
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, 0), dtype=np.float64)
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qm = np.array([r[1] for r in rows], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
    return qids, qm


def brute_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """-> (query_id, rank, vec_id, sim): exact cosine top-k per query.

    Per-partition matmul + partial top-k (the distributed min-heap), then a
    global per-query window over k * num_partitions candidate rows.
    """
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    qm_t = qm.T  # dim x nq

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            sims = m @ qm_t  # n x nq
            take = min(k, ids.size)
            # per query: partial top-k by (sim desc, id asc)
            out_q, out_id, out_sim = [], [], []
            for j in range(qids.size):
                s = sims[:, j]
                idx = np.lexsort((ids, -s))[:take]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_id.append(ids[idx])
                out_sim.append(s[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_id),
                    "sim": np.concatenate(out_sim),
                }
            )

    partial = spread_for_python_kernel(embeddings).mapInPandas(
        _partial, schema="query_id LONG, vec_id LONG, sim DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
    )


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_tables, n_planes, dim))


def _sign_buckets(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """n x n_tables bucket codes; planes is (n_tables, n_planes, dim)."""
    bits = np.einsum("nd,tpd->ntp", m, planes) > 0
    weights = (1 << np.arange(planes.shape[1], dtype=np.int64))[None, None, :]
    return (bits.astype(np.int64) * weights).sum(axis=2)


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, table, bucket) — multi-table sign-LSH assignment.

    L independent tables of p hyperplanes each: a true neighbor missed by one
    table's split is caught by another — the standard recall lever (recall
    grows with L at linear candidate cost, vs. exponential for probing wider
    hamming balls in a single table).
    """
    planes = _hyperplanes(dim, n_planes, n_tables, seed)

    def _bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = _sign_buckets(m, planes)  # n x L
            n, L = codes.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), L),
                    "table": np.tile(np.arange(L, dtype=np.int64), n),
                    "bucket": codes.ravel(),
                }
            )

    return spread_for_python_kernel(embeddings).mapInPandas(
        _bucket, schema="vec_id LONG, table LONG, bucket LONG"
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Approximate cosine top-k: per table probe own bucket + hamming-1."""
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    buckets = hyperplane_lsh_buckets(
        embeddings, dim, n_planes, n_tables, seed, id_col, vec_col
    )
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    qb = _sign_buckets(qm, planes)  # nq x L
    probes = _lsh_probe_rows(qids, qb, n_planes, n_tables)
    spark = embeddings.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id LONG, table LONG, bucket LONG")

    cand = (
        buckets.join(F.broadcast(probe_df), ["table", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
    )
    cand_vecs = cand.join(embeddings.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id")
    qmap = {int(q): qm[i] for i, q in enumerate(qids)}
    return _cosine_score_topk(cand_vecs, qmap, k, vec_col)


def _lsh_probe_rows(
    qids: np.ndarray, qb: np.ndarray, n_planes: int, n_tables: int
) -> list[tuple[int, int, int]]:
    """(query_id, table, bucket) probe rows: own bucket + hamming-1 ring —
    the one probe policy shared by the live and served LSH paths."""
    probes = []
    for qi, qid in enumerate(qids):
        for t in range(n_tables):
            base = int(qb[qi, t])
            probes.append((int(qid), t, base))
            for bit in range(n_planes):
                probes.append((int(qid), t, base ^ (1 << bit)))
    return probes


@dataclass
class SavedLSHIndex:
    """Handle to an on-disk multi-table LSH index: the ``vectors`` table
    under ``root`` holds (tb, vec_id, embedding) clustered by the fused
    ``tb = table * 2^n_planes + bucket`` key; the hyperplanes regenerate
    deterministically from the stored params."""

    root: str
    dim: int
    n_planes: int
    n_tables: int
    seed: int


def save_lsh_index(
    embeddings: DataFrame,
    root: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SavedLSHIndex:
    """Persist the LSH index for the SERVED query path: each vector is
    written once per table next to its bucket assignment, clustered by the
    fused (table, bucket) key so a query's probe set resolves to parquet
    row groups via footer min/max. Storage is n_tables x the vector bytes
    — the standard multi-table LSH trade (recall grows with L); params are
    a one-row table so load regenerates the identical hyperplanes."""
    from fulltextsearch_spark.operators.util import record_footprint  # noqa: PLC0415

    buckets = hyperplane_lsh_buckets(
        embeddings, dim, n_planes, n_tables, seed, id_col, vec_col
    )
    vecs = buckets.join(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        "vec_id",
    ).select(
        (F.col("table") * (1 << n_planes) + F.col("bucket")).alias("tb"),
        "vec_id",
        "embedding",
    )
    vecs.repartition(F.col("tb")).sortWithinPartitions("tb").write.mode(
        "overwrite"
    ).parquet(f"{root}/vectors")
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(dim, n_planes, n_tables, seed)],
        "dim LONG, n_planes LONG, n_tables LONG, seed LONG",
    ).write.mode("overwrite").parquet(f"{root}/params")
    record_footprint(
        root, {"vectors": f"{root}/vectors", "params": f"{root}/params"}
    )
    return SavedLSHIndex(root, dim, n_planes, n_tables, seed)


def load_lsh_index(spark, root: str) -> SavedLSHIndex:
    p = spark.read.parquet(f"{root}/params").collect()[0]
    return SavedLSHIndex(
        root, int(p["dim"]), int(p["n_planes"]), int(p["n_tables"]), int(p["seed"])
    )


def lsh_topk_served(
    spark,
    index: SavedLSHIndex,
    queries: DataFrame,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Served LSH query over a :func:`save_lsh_index` artifact: the probe
    set (own bucket + hamming-1 per table) becomes a literal ``tb IN``
    filter on the clustered vectors table (footer pruning), candidates
    dedup across tables, then the shared exact-cosine top-k. Result-
    identical to :func:`lsh_cosine_topk` with the same params (same
    planes from the stored seed, same probe policy, same kernel)."""
    planes = _hyperplanes(index.dim, index.n_planes, index.n_tables, index.seed)
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return spark.createDataFrame([], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE")
    qb = _sign_buckets(qm, planes)
    probes = _lsh_probe_rows(qids, qb, index.n_planes, index.n_tables)
    shift = 1 << index.n_planes
    probe_df = spark.createDataFrame(
        [(q, t * shift + b) for q, t, b in probes], "query_id LONG, tb LONG"
    )
    tb_set = sorted({t * shift + b for _, t, b in probes})
    vecs = spark.read.parquet(f"{index.root}/vectors").where(F.col("tb").isin(tb_set))
    cand_vecs = (
        vecs.join(F.broadcast(probe_df), "tb")
        .select("query_id", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    qmap = {int(q): qm[i] for i, q in enumerate(qids)}
    return _cosine_score_topk(cand_vecs, qmap, k, "embedding")


def _sqdist_argmin(m: np.ndarray, cent: np.ndarray, chunk: int = 256) -> np.ndarray:
    """argmin_c ||m_i - cent_c||^2 per row, computed in row chunks so the
    (chunk, k, dim) temporary stays cache-resident (a monolithic
    (n, k, dim) temporary is tens of MB and falls off the shared-host
    memory cliff). Bit-identical to the monolithic form — same elementwise
    ops, no reassociation."""
    out = np.empty(m.shape[0], dtype=np.int64)
    for i in range(0, m.shape[0], chunk):
        blk = m[i : i + chunk]
        d = ((blk[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        out[i : i + chunk] = d.argmin(axis=1)
    return out


def _kmeans(sample: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(sample.shape[0], size=n_centroids, replace=False)].copy()
    for _ in range(iters):
        assign = _sqdist_argmin(sample, cent)
        for c in range(n_centroids):
            pts = sample[assign == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    return cent


def _bounded_sample(
    embeddings: DataFrame, vec_col: str, max_rows: int, seed: int, id_col: str = "vec_id"
) -> np.ndarray:
    """Driver-side training sample, HARD-bounded to ``max_rows`` rows, in ONE
    job (no ``count()`` pre-pass), UNBIASED by physical row order.

    The ``max_rows`` smallest values of ``xxhash64(id, seed)`` are a uniform
    deterministic sample of the whole table no matter how the files are laid
    out — a plain ``limit()`` would collect the FRONT of the scan, and a
    table physically ordered by a content-correlated key (sorted by
    domain/source/cluster, the common case after a partitioned write) would
    train the quantizer on one region of the distribution. Spark executes
    the ``orderBy + limit`` as TakeOrderedAndProject: each partition keeps a
    local top-``max_rows`` heap and the driver merges — bounded memory
    everywhere, one pass. The build's assignment pass scans the full table
    right after this anyway, so the sample scan does not change the build's
    asymptotic IO.

    The returned rows are CANONICALLY ordered by ``id_col`` so the k-means
    initialization (which draws indices into this array) is a pure function
    of the sampled id set — independent of scan order, partitioning, and
    merge order.
    """
    rows = (
        embeddings.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
        )
        .orderBy("_h")
        .limit(max_rows)
        .collect()
    )
    rows.sort(key=lambda r: r["i"])
    return np.array([r["v"] for r in rows], dtype=np.float64)


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """-> ((vec_id, list_id), centroids): IVF coarse quantizer.

    Centroids from numpy Lloyd iterations on a BOUNDED driver-side sample
    (default ~1000 training vectors per centroid — the standard k-means
    sizing; never a full-table collect, which would OOM the driver at any
    real corpus size); list assignment is a distributed Arrow pass that
    scans everything.
    """
    if max_sample_rows is None:
        max_sample_rows = max(n_centroids * 1000, 10_000)
    sample = _bounded_sample(embeddings, vec_col, max_sample_rows, seed, id_col=id_col)
    n_centroids = min(n_centroids, sample.shape[0])
    cent = _kmeans(sample, n_centroids, iters, seed)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "list_id": _sqdist_argmin(m, cent),
                }
            )

    return (
        spread_for_python_kernel(embeddings).mapInPandas(
            _assign, schema="vec_id LONG, list_id LONG"
        ),
        cent,
    )


@dataclass
class IVFIndex:
    """IVF build artifacts: the distributed list assignment + the trained
    coarse-quantizer centroids. Mirrors :class:`~.vsm.VSMIndex` — train ONCE
    at build time, reuse across every query batch (re-training k-means per
    call wastes a sample collect + a full assignment pass each time)."""

    assigned: DataFrame  # (vec_id, list_id)
    centroids: np.ndarray  # (n_centroids, dim)


def build_ivf(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
) -> IVFIndex:
    """Materialize the IVF build artifacts once (persisted assignment +
    centroids), the artifact-reuse analogue of :func:`~.vsm.build_vsm`."""
    assigned, cent = ivf_assign(
        embeddings, n_centroids, max_sample_rows, iters, seed, id_col, vec_col
    )
    if persist:
        from pyspark.storagelevel import StorageLevel  # noqa: PLC0415

        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    return IVFIndex(assigned=assigned, centroids=cent)


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
    ivf: IVFIndex | None = None,
) -> DataFrame:
    """Approximate top-k probing the nprobe nearest inverted lists.

    Pass a prebuilt :class:`IVFIndex` (from :func:`build_ivf`) to reuse the
    trained quantizer; otherwise one is trained inline for this call.
    """
    if ivf is not None:
        assigned, cent = ivf.assigned, ivf.centroids
    else:
        assigned, cent = ivf_assign(
            embeddings, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    d = ((qm[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probe_lists = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
    probes = [
        (int(q), int(l)) for q, row in zip(qids, probe_lists) for l in row
    ]
    spark = embeddings.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id LONG, list_id LONG")
    cand = assigned.join(F.broadcast(probe_df), "list_id").select("query_id", "vec_id")
    cand_vecs = cand.join(embeddings.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id")
    qmap = {int(q): qm[i] for i, q in enumerate(qids)}
    return _cosine_score_topk(cand_vecs, qmap, k, vec_col)


def _cosine_score_topk(cand_vecs: DataFrame, qmap: dict, k: int, vec_col: str) -> DataFrame:
    """Shared IVF back half: ``(query_id, vec_id, <vec_col>)`` candidate
    rows -> ``(query_id, rank, vec_id, sim)`` via one Arrow-batched cosine
    pass (candidate vectors normalized; per-query ranking is invariant to
    the query norm) and the deterministic (sim DESC, vec_id ASC) top-k
    window. Used by both the live probe (:func:`ivf_cosine_topk`) and the
    persisted serving path (:func:`ivf_topk_served`) — one kernel, so the
    two stay result-identical by construction."""

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            qarr = np.array([qmap[int(q)] for q in pdf["query_id"]])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "sim": (m * qarr).sum(axis=1),
                }
            )

    scored = cand_vecs.mapInPandas(_score, schema="query_id LONG, vec_id LONG, sim DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
    )


def embedding_neardup_exact(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id_a, vec_id_b, sim) all pairs with cosine >= threshold (exact
    oracle; compose hyperplane buckets + this verify step at scale)."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    e = embeddings.select(
        F.col(id_col).cast("long").alias("id"), v.alias("v"), norm.alias("n")
    )
    a = e.select(F.col("id").alias("vec_id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = e.select(F.col("id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", (dot / (F.col("na") * F.col("nb"))).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semdedup_keep(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic deduplication by k-means
    clustering + within-cluster cosine pruning.

    Every embedding is assigned to a k-means cluster (the IVF coarse
    quantizer, reused); within each cluster a point is a DUPLICATE when
    some other cluster member with a SMALLER id has cosine similarity
    above ``threshold`` — the paper's lower-triangular max-similarity
    test with a deterministic (id-ascending) ordering, so the survivor
    set is a pure function of the data and exactly SQL-replayable.
    Returns ``(vec_id, list_id, kept)`` for every input row.

    Scale shape: this is the SemDeDup design point — the O(n^2) similarity
    matrix is never global, only per-cluster (the paper sizes k so
    clusters fit a GPU; here so a cluster's pair join fits a task). The
    join key is ``list_id``; pair volume is sum over clusters of c_i^2.
    Skew guard at extreme scale: split oversized clusters by a secondary
    k-means (the paper's own remedy) before the pair join.
    """
    assigned, _cent = ivf_assign(
        embeddings, n_centroids, None, iters, seed, id_col, vec_col
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # zero-norm guard (failed/padded embeddings): without it nv is NaN and
    # Spark's NaN > threshold is TRUE, silently dropping innocent cluster-mates
    norm = F.greatest(
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
        F.lit(1e-30),
    )
    # ivf_assign's output columns are always (vec_id, list_id) regardless of id_col
    pts = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(v, lambda x: x / norm).alias("nv"),
    ).join(assigned.select("vec_id", "list_id"), "vec_id")

    a = pts.alias("a")
    b = pts.alias("b")
    cos = F.aggregate(
        F.zip_with(F.col("a.nv"), F.col("b.nv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dups = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos > F.lit(threshold))
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return pts.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        (~F.coalesce("_dup", F.lit(False))).alias("kept"),
    )


@dataclass
class PQIndex:
    """Product-quantization build artifacts: per-vector codes (the
    compressed representation — ``m`` small ints instead of ``dim``
    floats) plus the trained per-subspace codebooks. Train ONCE at build
    time, exactly like :class:`IVFIndex`."""

    codes: DataFrame  # (vec_id, codes: array<int>), one code per subspace
    codebooks: np.ndarray  # (m, n_codes, dim/m)


def build_pq(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    max_sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQIndex:
    """Product quantization (Jegou et al., TPAMI 2011): split each vector
    into ``m`` contiguous subspaces and k-means each subspace independently
    (``n_codes`` centroids, deterministic seed per subspace); every vector
    compresses to ``m`` code ints.

    Scale shape: the codebooks train on the same HARD-bounded driver sample
    the IVF quantizer uses (:func:`_bounded_sample` — one job, order-
    unbiased, never a full collect); encoding is a distributed Arrow pass.
    At 100 TB this is the memory play that makes ANN feasible at all: a
    64-dim float32 vector is 256 bytes, its PQ-16x4 code is 4 — a 64x
    shrink, so the scan side of query serving reads codes, not vectors,
    and a billion vectors fit where 16M raw ones did.
    """
    if max_sample_rows is None:
        max_sample_rows = max(n_codes * 1000, 10_000)
    sample = _bounded_sample(embeddings, vec_col, max_sample_rows, seed, id_col=id_col)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    n_codes = min(n_codes, sample.shape[0])
    books = np.stack(
        [
            _kmeans(
                np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub]),
                n_codes,
                iters,
                seed + j,
            )
            for j in range(m)
        ]
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = _sqdist_argmin(
                    mat[:, j * dsub : (j + 1) * dsub], books[j]
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    codes_df = spread_for_python_kernel(embeddings).mapInPandas(
        _encode, schema="vec_id LONG, codes ARRAY<INT>"
    )
    return PQIndex(codes=codes_df, codebooks=books)


def pq_adc_topk(
    index: PQIndex,
    queries: DataFrame,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """-> (query_id, rank, vec_id, sim): asymmetric-distance (ADC) cosine
    top-k over PQ codes — the query stays exact, documents are their
    reconstructions, sim = dot(q, x_hat) / |x_hat| with |q| normalized out.

    The per-query lookup tables (m x n_codes subspace dot products, plus
    the query-independent per-code norm parts) are tiny and broadcast with
    the kernel closure; each partition's scan is pure integer gathers +
    one add per (vector, subspace) — never touching the original vectors —
    followed by the same partial-top-k / global-window finish as
    :func:`brute_cosine_topk`, so candidate rows leaving a partition are
    k per query, not n.
    """
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return index.codes.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    books = index.codebooks
    m_sub, n_codes, dsub = books.shape
    # dot_lut[q, j, c] = <q_sub_j, book[j, c]>; n2_lut[j, c] = |book[j, c]|^2
    dot_lut = np.einsum("qjd,jcd->qjc", qm.reshape(qids.size, m_sub, dsub), books)
    n2_lut = (books**2).sum(axis=2)
    sub_ix = np.arange(m_sub)[None, :]

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # n x m
            recon_norm = np.sqrt(np.maximum(n2_lut[sub_ix, codes].sum(axis=1), 1e-30))
            take = min(k, ids.size)
            out_q, out_id, out_sim = [], [], []
            for j in range(qids.size):
                sims = dot_lut[j][sub_ix, codes].sum(axis=1) / recon_norm
                idx = np.lexsort((ids, -sims))[:take]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_id.append(ids[idx])
                out_sim.append(sims[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_id),
                    "sim": np.concatenate(out_sim),
                }
            )

    partial = index.codes.mapInPandas(_score, schema="query_id LONG, vec_id LONG, sim DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
    )


@dataclass
class IVFPQIndex:
    """IVF-PQ build artifacts: per-vector (inverted list, residual PQ codes)
    plus the coarse centroids and residual codebooks. The FAISS IVFPQ design
    point — the serving scan reads (list_id, m code ints) only."""

    assigned_codes: DataFrame  # (vec_id, list_id, codes: array<int>)
    centroids: np.ndarray  # (n_centroids, dim)
    codebooks: np.ndarray  # (m, n_codes, dim/m) — trained on RESIDUALS


def build_ivfpq(
    embeddings: DataFrame,
    n_centroids: int = 10,
    m: int = 4,
    n_codes: int = 16,
    max_sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
) -> IVFPQIndex:
    """IVF-PQ (Jegou et al. 2011 §IV): coarse k-means quantizer + product
    quantization of the RESIDUAL (vector minus its centroid) — residuals
    are smaller and better centered than raw vectors, so the same code
    budget quantizes them more accurately.

    One bounded driver sample trains both stages (coarse centroids, then
    per-subspace residual codebooks); the encode pass is a single
    distributed Arrow scan emitting (vec_id, list_id, codes). At 100 TB
    this is the standard billion-vector serving layout: the inverted
    lists bound what a query touches, the codes bound what it reads.
    """
    if max_sample_rows is None:
        max_sample_rows = max(max(n_centroids, n_codes) * 1000, 10_000)
    sample = _bounded_sample(embeddings, vec_col, max_sample_rows, seed, id_col=id_col)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    n_centroids = min(n_centroids, sample.shape[0])
    n_codes = min(n_codes, sample.shape[0])
    cent = _kmeans(sample, n_centroids, iters, seed)
    resid = sample - cent[_sqdist_argmin(sample, cent)]
    books = np.stack(
        [
            _kmeans(
                np.ascontiguousarray(resid[:, j * dsub : (j + 1) * dsub]),
                n_codes,
                iters,
                seed + 101 + j,
            )
            for j in range(m)
        ]
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            lists = _sqdist_argmin(mat, cent)
            r = mat - cent[lists]
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = _sqdist_argmin(r[:, j * dsub : (j + 1) * dsub], books[j])
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "list_id": lists,
                    "codes": list(codes),
                }
            )

    df = spread_for_python_kernel(embeddings).mapInPandas(
        _encode, schema="vec_id LONG, list_id LONG, codes ARRAY<INT>"
    )
    if persist:
        from pyspark.storagelevel import StorageLevel  # noqa: PLC0415

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return IVFPQIndex(assigned_codes=df, centroids=cent, codebooks=books)


def ivfpq_adc_topk(
    index: IVFPQIndex,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """-> (query_id, rank, vec_id, sim): probe the nprobe nearest inverted
    lists, score candidates by ADC cosine against the reconstruction
    x_hat = centroid + decoded residual — entirely from (list_id, codes):

        sim = (<q, c_l> + sum_j <q_j, b_j[code_j]>)
              / sqrt(|c_l|^2 + 2 sum_j <c_l_j, b_j[code_j]> + sum_j |b_j[code_j]|^2)

    Every term is a lookup: the per-query LUTs (<q, c_l>, subspace dots)
    and the query-independent LUTs (centroid/code cross terms, code norms)
    are tiny and ride the kernel closure; candidates come from one
    broadcast-probe join, and raw vectors are never read at query time.
    """
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return index.assigned_codes.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    cent, books = index.centroids, index.codebooks
    m_sub, n_codes, dsub = books.shape
    nlist = cent.shape[0]
    d = ((qm[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probe_lists = np.argsort(d, axis=1, kind="stable")[:, : min(nprobe, nlist)]
    spark = index.assigned_codes.sparkSession
    probe_df = spark.createDataFrame(
        [(int(q), int(l)) for q, row in zip(qids, probe_lists) for l in row],
        "query_id LONG, list_id LONG",
    )
    cand = index.assigned_codes.join(F.broadcast(probe_df), "list_id")

    q_ix_of = {int(q): i for i, q in enumerate(qids)}
    qc_dot = qm @ cent.T  # nq x nlist
    dt_lut = np.einsum("qjd,jcd->qjc", qm.reshape(qids.size, m_sub, dsub), books)
    cross_lut = np.einsum(
        "ljd,jcd->ljc", cent.reshape(nlist, m_sub, dsub), books
    )  # nlist x m x n_codes
    n2_lut = (books**2).sum(axis=2)
    c2 = (cent**2).sum(axis=1)
    sub_ix = np.arange(m_sub)[None, :]

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            lists = pdf["list_id"].to_numpy(dtype=np.int64)
            qix = np.array([q_ix_of[int(q)] for q in pdf["query_id"]], dtype=np.int64)
            num = qc_dot[qix, lists] + dt_lut[qix[:, None], sub_ix, codes].sum(axis=1)
            den = np.sqrt(
                np.maximum(
                    c2[lists]
                    + 2.0 * cross_lut[lists[:, None], sub_ix, codes].sum(axis=1)
                    + n2_lut[sub_ix, codes].sum(axis=1),
                    1e-30,
                )
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "sim": num / den,
                }
            )

    scored = cand.mapInPandas(_score, schema="query_id LONG, vec_id LONG, sim DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
    )


def save_ivfpq_index(index: IVFPQIndex, root: str) -> None:
    """Persist the IVF-PQ index under ``root`` as parquet tables.

    Codes are written clustered by ``list_id`` so a query's nprobe lists
    map to a handful of row groups selected by parquet footer min/max —
    the on-disk analogue of contiguous inverted lists; the quantizer
    stages (coarse centroids, residual codebooks) are tiny row tables.
    Appends a footprint line to ``{root}/_lineage.jsonl`` like every
    other saved index (reference fts_engine.hpp:50-60).
    """
    from fulltextsearch_spark.operators.util import record_footprint  # noqa: PLC0415

    index.assigned_codes.repartition(F.col("list_id")).sortWithinPartitions(
        "list_id"
    ).write.mode("overwrite").parquet(f"{root}/codes")
    spark = index.assigned_codes.sparkSession
    nlist = index.centroids.shape[0]
    spark.createDataFrame(
        [(i, [float(v) for v in index.centroids[i]]) for i in range(nlist)],
        "list_id LONG, cv ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(f"{root}/centroids")
    m_sub, n_codes, _ = index.codebooks.shape
    spark.createDataFrame(
        [
            (j, c, [float(v) for v in index.codebooks[j, c]])
            for j in range(m_sub)
            for c in range(n_codes)
        ],
        "sub LONG, code LONG, bv ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(f"{root}/codebooks")
    record_footprint(
        root,
        {
            "codes": f"{root}/codes",
            "centroids": f"{root}/centroids",
            "codebooks": f"{root}/codebooks",
        },
    )


def load_ivfpq_index(spark, root: str) -> IVFPQIndex:
    """Inverse of :func:`save_ivfpq_index`; the round-trip is lossless
    (float64 arrays survive parquet DOUBLE exactly)."""
    cent_rows = sorted(
        spark.read.parquet(f"{root}/centroids").collect(), key=lambda r: r["list_id"]
    )
    cent = np.array([r["cv"] for r in cent_rows], dtype=np.float64)
    book_rows = sorted(
        spark.read.parquet(f"{root}/codebooks").collect(),
        key=lambda r: (r["sub"], r["code"]),
    )
    m_sub = book_rows[-1]["sub"] + 1
    n_codes = book_rows[-1]["code"] + 1
    books = np.array([r["bv"] for r in book_rows], dtype=np.float64).reshape(
        m_sub, n_codes, -1
    )
    return IVFPQIndex(
        assigned_codes=spark.read.parquet(f"{root}/codes"),
        centroids=cent,
        codebooks=books,
    )


def ivfpq_topk_served(
    spark,
    root: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Served IVF-PQ query over a :func:`save_ivfpq_index` artifact — the
    PQ analogue of :func:`ivf_topk_served`: the union of the queries' probe
    lists becomes a literal ``list_id IN (...)`` filter pushed into the
    clustered codes scan (parquet footer min/max prunes to the probed
    lists' row groups), then the exact same ADC kernel as
    :func:`ivfpq_adc_topk` runs over the pruned scan. Result-identical to
    ``ivfpq_adc_topk`` on the loaded index with the same parameters (the
    per-query probe join inside the kernel re-selects the same lists
    deterministically), so it shares its oracle.

    ``queries`` is collected ONCE and re-materialized as a local frame
    before being handed to the kernel — a nondeterministic queries plan
    (unseeded sample, unordered limit) must not be able to produce probe
    lists that disagree with the outer IN-filter. Query ids keep their
    type: the kernel sees each query by its position, and the caller's id
    is joined back onto its hits."""
    idx = load_ivfpq_index(spark, root)
    id_type = queries.schema[q_id_col].dataType.simpleString()
    raw = queries.select(q_id_col, q_vec_col).collect()  # single evaluation
    if not raw:
        return spark.createDataFrame(
            [], f"query_id {id_type}, rank LONG, vec_id LONG, sim DOUBLE"
        )
    qm = np.array([r[1] for r in raw], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
    cent = idx.centroids
    nlist = cent.shape[0]
    d = ((qm[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probe_lists = np.argsort(d, axis=1, kind="stable")[:, : min(nprobe, nlist)]
    probe_set = sorted({int(l) for row in probe_lists for l in row})
    pruned = IVFPQIndex(
        assigned_codes=idx.assigned_codes.where(F.col("list_id").isin(probe_set)),
        centroids=idx.centroids,
        codebooks=idx.codebooks,
    )
    # re-materialize the RAW vectors so the kernel normalizes/assigns from
    # byte-identical inputs (float64 survives the local round-trip exactly)
    stable_q = spark.createDataFrame(
        [(i, [float(v) for v in r[1]]) for i, r in enumerate(raw)],
        "query_id LONG, qvec ARRAY<DOUBLE>",
    )
    ids = spark.createDataFrame(
        [(i, r[0]) for i, r in enumerate(raw)], f"_pos LONG, query_id {id_type}"
    )
    hits = ivfpq_adc_topk(pruned, stable_q, nprobe=nprobe, k=k)
    return (
        hits.withColumnRenamed("query_id", "_pos")
        .join(F.broadcast(ids), "_pos")
        .select("query_id", "rank", "vec_id", "sim")
    )


@dataclass
class SavedIVFIndex:
    """Handle to an on-disk (non-PQ) IVF index: the ``vectors`` table under
    ``root`` holds (vec_id, list_id, embedding) clustered by ``list_id``;
    ``centroids`` is the trained coarse quantizer."""

    root: str
    centroids: np.ndarray


def save_ivf_index(
    embeddings: DataFrame,
    root: str,
    n_centroids: int = 16,
    max_sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf: IVFIndex | None = None,
) -> SavedIVFIndex:
    """Persist a full (non-PQ) IVF index for the SERVED query path: raw
    vectors are written alongside their list assignment, repartitioned and
    sorted by ``list_id``, so a query's nprobe lists resolve to a handful
    of parquet row groups via footer min/max — candidate selection at
    query time is a static filter pushed into the scan, never a join
    against the base table. Centroids are a tiny row table. Appends a
    footprint line like every other saved index (reference
    fts_engine.hpp:50-60)."""
    from fulltextsearch_spark.operators.util import record_footprint  # noqa: PLC0415

    if ivf is None:
        ivf = build_ivf(
            embeddings, n_centroids, max_sample_rows, iters, seed,
            id_col, vec_col, persist=False,
        )
    vecs = ivf.assigned.join(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        "vec_id",
    ).select("vec_id", "list_id", "embedding")
    vecs.repartition(F.col("list_id")).sortWithinPartitions("list_id").write.mode(
        "overwrite"
    ).parquet(f"{root}/vectors")
    spark = embeddings.sparkSession
    nlist = ivf.centroids.shape[0]
    spark.createDataFrame(
        [(i, [float(v) for v in ivf.centroids[i]]) for i in range(nlist)],
        "list_id LONG, cv ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(f"{root}/centroids")
    record_footprint(
        root, {"vectors": f"{root}/vectors", "centroids": f"{root}/centroids"}
    )
    return SavedIVFIndex(root=root, centroids=ivf.centroids)


def load_ivf_index(spark, root: str) -> SavedIVFIndex:
    """Inverse of :func:`save_ivf_index` (centroids survive parquet DOUBLE
    exactly; vectors stay on disk until a query probes them)."""
    cent_rows = sorted(
        spark.read.parquet(f"{root}/centroids").collect(), key=lambda r: r["list_id"]
    )
    return SavedIVFIndex(
        root=root, centroids=np.array([r["cv"] for r in cent_rows], dtype=np.float64)
    )


def ivf_topk_served(
    spark,
    index: SavedIVFIndex,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Served IVF query over a :func:`save_ivf_index` artifact — the vector
    analogue of the text engine's persisted-index serving path: the probe
    set becomes a literal ``list_id IN (...)`` filter on the clustered
    vectors table (parquet footer pruning reads only the probed lists'
    row groups), then one Arrow-batched cosine pass and the usual
    deterministic top-k window. Result-identical to :func:`ivf_cosine_topk`
    with the same quantizer (same lists probed, same exact scoring).
    """
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return spark.createDataFrame([], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE")
    cent = index.centroids
    d = ((qm[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probe_lists = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
    probes = [(int(q), int(l)) for q, row in zip(qids, probe_lists) for l in row]
    probe_set = sorted({l for _, l in probes})
    vecs = spark.read.parquet(f"{index.root}/vectors").where(
        F.col("list_id").isin(probe_set)
    )
    probe_df = spark.createDataFrame(probes, "query_id LONG, list_id LONG")
    cand_vecs = vecs.join(F.broadcast(probe_df), "list_id").select(
        "query_id", "vec_id", "embedding"
    )
    qmap = {int(q): qm[i] for i, q in enumerate(qids)}
    return _cosine_score_topk(cand_vecs, qmap, k, "embedding")


@dataclass
class SQIndex:
    """Scalar-quantization build artifacts: per-vector uint8 codes plus the
    per-dimension (min, scale) affine quantizer. The 4x-cheaper, zero-
    training sibling of PQ (FAISS SQ8): reconstruction is
    ``x_hat_d = min_d + code_d * scale_d``."""

    codes: DataFrame  # (vec_id, codes: array<int>), one 0..255 code per dim
    mins: np.ndarray  # (dim,)
    scales: np.ndarray  # (dim,)


def build_sq(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SQIndex:
    """Int8 scalar quantization: per-dimension GLOBAL min/max (one exact
    distributed aggregate — 2*dim doubles to the driver, never the table),
    then ``code = floor((x - min)/scale + 0.5)`` clamped to [0, 255] with
    ``scale = (max - min)/255`` (constant dimensions get scale 0 and code
    0). Fully deterministic and closed-form — no trained codebooks — so
    the quantizer is exactly replayable from the data alone.

    Scale: float32 vectors shrink 4x with no training pass; the encode is
    one Arrow scan. The min/max aggregate is a single map-side-combined
    reduction of 2*dim values per partition.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    head = embeddings.select(vec_col).first()
    if head is None:
        raise ValueError("build_sq: embeddings DataFrame is empty")
    dim = len(head[0])
    agg = embeddings.select(v.alias("v")).agg(
        *[F.min(F.element_at("v", i + 1)).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.element_at("v", i + 1)).alias(f"mx{i}") for i in range(dim)],
    ).collect()[0]
    mins = np.array([agg[f"mn{i}"] for i in range(dim)], dtype=np.float64)
    maxs = np.array([agg[f"mx{i}"] for i in range(dim)], dtype=np.float64)
    scales = (maxs - mins) / 255.0

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                c = np.floor((mat - mins) / scales + 0.5)
            c = np.where(np.isfinite(c), c, 0.0)
            codes = np.clip(c, 0, 255).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    codes_df = spread_for_python_kernel(embeddings).mapInPandas(
        _encode, schema="vec_id LONG, codes ARRAY<INT>"
    )
    return SQIndex(codes=codes_df, mins=mins, scales=scales)


def sq_cosine_topk(
    index: SQIndex,
    queries: DataFrame,
    k: int = 10,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """-> (query_id, rank, vec_id, sim): exact-query cosine against the
    SQ8 reconstructions ``x_hat = min + code * scale``, same partial-top-k
    / window finish as the other ANN paths; the scan reads codes only.
    """
    qids, qm = _collect_queries(queries, q_id_col, q_vec_col)
    if qids.size == 0:
        return index.codes.sparkSession.createDataFrame(
            [], "query_id LONG, rank LONG, vec_id LONG, sim DOUBLE"
        )
    mins, scales = index.mins, index.scales
    qm_t = qm.T

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.float64)
            recon = mins + codes * scales
            norms = np.maximum(np.sqrt((recon**2).sum(axis=1)), 1e-30)
            sims = (recon @ qm_t) / norms[:, None]
            take = min(k, ids.size)
            out_q, out_id, out_sim = [], [], []
            for j in range(qids.size):
                s = sims[:, j]
                idx = np.lexsort((ids, -s))[:take]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_id.append(ids[idx])
                out_sim.append(s[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_id),
                    "sim": np.concatenate(out_sim),
                }
            )

    partial = index.codes.mapInPandas(
        _score, schema="query_id LONG, vec_id LONG, sim DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
    )


def ivf_knn_join(
    embeddings: DataFrame,
    n_centroids: int = 10,
    nprobe: int = 3,
    k: int = 5,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf: IVFIndex | None = None,
) -> DataFrame:
    """-> (vec_id, rank, nb_id, sim): approximate kNN SIMILARITY JOIN —
    every vector's k nearest neighbors (cosine, self excluded) among the
    members of its ``nprobe`` nearest inverted lists.

    The all-pairs matrix never materializes: each vector is shuffled to
    its nprobe probe lists (nprobe x data movement, the IVF batch-join
    trade), each list group does ONE members-x-visitors matmul with a
    per-visitor partial top-k, and a global window reduces the <= k*nprobe
    candidates per vector. This is the semantic near-dup GRAPH builder —
    thresholded output feeds :func:`~.dedup.connected_components` exactly
    like the MinHash pair stream. Skew bound: a list group holds
    |members| + |visitors| rows; mega-list skew is the same upgrade point
    as the IVF serving path (split hot lists by a secondary k-means).
    """
    if ivf is not None:
        assigned, cent = ivf.assigned, ivf.centroids
    else:
        assigned, cent = ivf_assign(
            embeddings, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    nprobe = min(nprobe, cent.shape[0])

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            pl = np.argsort(d, axis=1, kind="stable")[:, :nprobe]  # ties: lowest list_id first (stable sort keeps index order, matching the oracle's ORDER BY d, list_id)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), nprobe),
                    "list_id": pl.ravel(),
                }
            )

    vecs = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    probes = spread_for_python_kernel(embeddings).mapInPandas(
        _probe, schema="vec_id LONG, list_id LONG"
    )
    members = (
        assigned.select(F.col("vec_id").cast("long").alias("vec_id"), "list_id")
        .join(vecs, "vec_id")
        .select("list_id", "vec_id", "v", F.lit(0).alias("role"))
    )
    visitors = probes.join(vecs, "vec_id").select(
        "list_id", "vec_id", "v", F.lit(1).alias("role")
    )
    both = members.unionByName(visitors)

    def _per_list(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["role"] == 0]
        vis = pdf[pdf["role"] == 1]
        if len(mem) == 0 or len(vis) == 0:
            return pd.DataFrame({"vec_id": [], "nb_id": [], "sim": []}).astype(
                {"vec_id": np.int64, "nb_id": np.int64, "sim": np.float64}
            )
        mm = np.array(mem["v"].tolist(), dtype=np.float64)
        mm /= np.maximum(np.linalg.norm(mm, axis=1, keepdims=True), 1e-30)
        vm = np.array(vis["v"].tolist(), dtype=np.float64)
        vm /= np.maximum(np.linalg.norm(vm, axis=1, keepdims=True), 1e-30)
        mids = mem["vec_id"].to_numpy(dtype=np.int64)
        vids = vis["vec_id"].to_numpy(dtype=np.int64)
        sims = vm @ mm.T  # visitors x members
        out_v, out_n, out_s = [], [], []
        for i in range(len(vids)):
            s = sims[i]
            keep = mids != vids[i]
            ids_k, s_k = mids[keep], s[keep]
            take = min(k, ids_k.size)
            idx = np.lexsort((ids_k, -s_k))[:take]
            out_v.append(np.full(take, vids[i], dtype=np.int64))
            out_n.append(ids_k[idx])
            out_s.append(s_k[idx])
        if not out_v:
            return pd.DataFrame({"vec_id": [], "nb_id": [], "sim": []}).astype(
                {"vec_id": np.int64, "nb_id": np.int64, "sim": np.float64}
            )
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_v),
                "nb_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            }
        )

    partial = both.groupBy("list_id").applyInPandas(
        _per_list, schema="vec_id LONG, nb_id LONG, sim DOUBLE"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nb_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("long").alias("rank"), "nb_id", "sim")
    )


def dim_truncation_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """(dim, n_queries, n_hit, recall) — recall@k of cosine search over the
    FIRST ``dim`` dimensions vs the full-dimensional ground truth.

    The audit behind Matryoshka-style dimension truncation (Kusupati et
    al., NeurIPS 2022; OpenAI's `dimensions` parameter): serving at a
    prefix of the embedding cuts index bytes and FLOPs linearly, and this
    measures exactly what it costs in retrieval quality — the embedding-
    side twin of the MinHash `lsh_recall_eval` gate. Recall is micro-
    averaged: |truncated top-k ∩ full top-k| / (k * queries), ties broken
    (sim DESC, vec_id ASC) so the metric is deterministic.

    Scale shape: one :func:`brute_cosine_topk` pass per probed dim over
    vectors truncated by a zero-copy slice projection; the intersection
    join is k x queries-sized. Probing D dims costs D passes — the point
    is a small audit sample, not a production query path.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    truth = brute_cosine_topk(
        embeddings, queries, k, id_col, vec_col, q_id_col, q_vec_col
    ).select(q_id_col, id_col)
    truth.persist()
    n_q = queries.select(q_id_col).distinct().count()
    outs = []
    for d in dims:
        emb_d = embeddings.select(
            id_col, F.slice(F.col(vec_col), 1, int(d)).alias(vec_col)
        )
        q_d = queries.select(
            q_id_col, F.slice(F.col(q_vec_col), 1, int(d)).alias(q_vec_col)
        )
        got = brute_cosine_topk(
            emb_d, q_d, k, id_col, vec_col, q_id_col, q_vec_col
        ).select(q_id_col, id_col)
        n_hit = got.join(truth, [q_id_col, id_col], "left_semi").count()
        outs.append((int(d), int(n_q), int(n_hit), round(n_hit / (k * n_q), 4)))
    spark = embeddings.sparkSession
    truth.unpersist()
    return spark.createDataFrame(
        outs, "dim LONG, n_queries LONG, n_hit LONG, recall DOUBLE"
    )


def filtered_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    allowed: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Filtered vector search: exact cosine top-k among an ``allowed`` id
    set only — the metadata-filter + ANN combination every vector store
    fights over. This is the PRE-filter strategy (restrict BEFORE
    scoring): exact top-k over the survivors, correct at any filter
    selectivity — unlike post-filtering an unfiltered top-k, which
    silently under-fills when the filter is selective. The filter is a
    left-semi join pushed below the matmul, so scoring cost scales with
    the SURVIVING rows (at extreme selectivity this beats any index; at
    low selectivity swap in the IVF path and filter per probed list —
    the documented upgrade).
    """
    if id_col in allowed.columns:
        allow_ids = allowed.select(id_col)
    elif len(allowed.columns) == 1:
        allow_ids = allowed.select(F.col(allowed.columns[0]).alias(id_col))
    else:
        # Guessing "first column" on a multi-column frame would semi-join on
        # the wrong ids with no error — refuse instead.
        raise ValueError(
            f"allowed must contain column {id_col!r} or be a single-column "
            f"id frame; got columns {allowed.columns}"
        )
    kept = embeddings.join(allow_ids, id_col, "left_semi")
    return brute_cosine_topk(kept, queries, k, id_col, vec_col, q_id_col, q_vec_col)

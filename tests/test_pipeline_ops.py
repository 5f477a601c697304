"""Training-pipeline operators: dedup (exact/MinHash/SimHash/Jaccard),
similarity search (brute/LSH/IVF), text stats, multimodal plumbing.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from fulltextsearch_spark.operators import dedup as dd
from fulltextsearch_spark.operators import multimodal as mm
from fulltextsearch_spark.operators import similarity as sim
from fulltextsearch_spark.operators import textstats as ts

# --- corpora -----------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "salmon swim upstream in the cold river every single morning"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("cold", "warm")),  # near dup of 0
        (3, "completely different content about spark shuffle partitions and aqe"),
        (4, "completely different content about spark shuffle partitions and aqe"),
        (5, "yet another unrelated document mentioning inverted indexes and bm25"),
        (6, base.replace("morning", "evening").replace("cat", "kitten")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING"), rows


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb_df):
    rows = emb_df.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], m[order]


def _brute_np(ids, m, q, k):
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    qn = q / max(np.linalg.norm(q), 1e-30)
    s = mn @ qn
    idx = np.lexsort((ids, -s))[:k]
    return ids[idx].tolist()


# --- dedup -------------------------------------------------------------------


def test_exact_dedup(spark, dup_docs):
    docs, _ = dup_docs
    rows = {r["keep_doc_id"]: r["dup_count"] for r in dd.exact_dedup(docs).collect()}
    assert rows[0] == 2 and rows[3] == 2 and rows[5] == 1 and rows[2] == 1


def test_minhash_identical_docs_identical_sigs(spark, dup_docs):
    docs, _ = dup_docs
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in dd.minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert len(sigs[0]) == 128


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    docs, _ = dup_docs
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (3, 4) in pairs and pairs[(3, 4)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_minhash_estimates_match_exact_jaccard(spark, dup_docs):
    docs, rows = dup_docs
    k = 5
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.3, shingle_k=k).collect()

    def shingles(t):
        return {t[i: i + k] for i in range(max(len(t) - k + 1, 1))}

    texts = dict(rows)
    for r in pairs:
        a, b = texts[r["doc_id_a"]], texts[r["doc_id_b"]]
        sa, sb = shingles(a), shingles(b)
        exact = len(sa & sb) / len(sa | sb)
        assert r["est_jaccard"] == pytest.approx(exact, abs=0.15)


def test_simhash_banding_is_exact_for_h3(spark, dup_docs):
    docs, _ = dup_docs
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dd.simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    # brute-force ground truth
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1")
                assert ((i, j) in got) == (h <= 3), (i, j, h)
                if (i, j) in got:
                    assert got[(i, j)] == h


def test_ngram_jaccard_exact(spark, dup_docs):
    docs, rows = dup_docs
    k = 5
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, shingle_k=k, threshold=0.4).collect()
    }

    def shingles(t):
        return {t[i: i + k] for i in range(len(t) - k + 1)}

    texts = dict(rows)
    exp = {}
    for i in texts:
        for j in texts:
            if i < j:
                sa, sb = shingles(texts[i]), shingles(texts[j])
                jac = len(sa & sb) / len(sa | sb)
                if jac >= 0.4:
                    exp[(i, j)] = jac
    assert set(got) == set(exp)
    for p in exp:
        assert got[p] == pytest.approx(exp[p], rel=1e-9)


# --- similarity --------------------------------------------------------------


def test_brute_cosine_topk_exact(spark, emb_df, emb_np):
    ids, m = emb_np
    qvecs = [(int(ids[0]), m[0].tolist()), (int(ids[7]), m[7].tolist())]
    queries = spark.createDataFrame(qvecs, "query_id LONG, qvec ARRAY<DOUBLE>")
    got = {}
    for r in sim.brute_cosine_topk(emb_df.repartition(6), queries, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, qv in qvecs:
        exp = _brute_np(ids, m, np.array(qv), 10)
        assert [v for _, v in sorted(got[qid])] == exp


def test_lsh_and_ivf_recall(spark, emb_df, emb_np):
    ids, m = emb_np
    qvecs = [(int(ids[i]), m[i].tolist()) for i in range(0, 50, 10)]
    queries = spark.createDataFrame(qvecs, "query_id LONG, qvec ARRAY<DOUBLE>")
    exp = {qid: set(_brute_np(ids, m, np.array(qv), 10)) for qid, qv in qvecs}

    got_lsh: dict[int, set] = {q: set() for q in exp}
    # testdata embeddings have weak cosine clustering; p=6/L=16 measured at
    # 0.94 candidate recall offline (p controls bucket size ~n/2^p, L recall)
    for r in sim.lsh_cosine_topk(
        emb_df, queries, dim=64, k=10, n_planes=6, n_tables=16
    ).collect():
        got_lsh[r["query_id"]].add(r["vec_id"])
    recall_lsh = np.mean([len(got_lsh[q] & exp[q]) / 10 for q in exp])

    got_ivf: dict[int, set] = {q: set() for q in exp}
    for r in sim.ivf_cosine_topk(emb_df, queries, n_centroids=10, nprobe=6, k=10).collect():
        got_ivf[r["query_id"]].add(r["vec_id"])
    recall_ivf = np.mean([len(got_ivf[q] & exp[q]) / 10 for q in exp])

    assert recall_lsh >= 0.8, recall_lsh  # multiprobe multi-table LSH
    assert recall_ivf >= 0.8, recall_ivf  # 6/10 lists probed


def test_embedding_neardup_exact_matches_numpy(spark, emb_df, emb_np):
    ids, m = emb_np
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    sims = mn @ mn.T
    thr = 0.4  # testdata has no true near-dups; max off-diag cosine ~0.51
    exp = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= thr
    }
    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in sim.embedding_neardup_exact(emb_df, threshold=thr).collect()
    }
    assert got == exp and len(exp) > 0


def test_semdedup_keep_matches_numpy(spark, emb_df, emb_np):
    """SemDeDup: cluster assignment + keep flags match an independent numpy
    replay (k-means, nearest-centroid, within-cluster lower-triangular
    cosine test), and the smallest id in every cluster always survives."""
    ids, m = emb_np
    cent = sim._kmeans(m, 16, 10, 7)  # bounded sample == full table here
    lab = np.argmin(((m[:, None, :] - cent[None, :, :]) ** 2).sum(-1), axis=1)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    thr = 0.3
    exp_kept = {}
    for c in range(16):
        idx = np.where(lab == c)[0]
        s = mn[idx] @ mn[idx].T
        for a, i in enumerate(idx):
            dup = any(s[b, a] > thr for b in range(a))  # idx is id-ascending
            exp_kept[int(ids[i])] = (int(c), not dup)
    got = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in sim.semdedup_keep(emb_df, n_centroids=16, threshold=thr).collect()
    }
    assert got == exp_kept
    n_dropped = sum(1 for _, k in got.values() if not k)
    assert n_dropped > 0  # threshold chosen so the pair test actually fires
    for c in range(16):
        members = [v for v, (lc, _) in got.items() if lc == c]
        if members:
            assert got[min(members)][1]  # cluster-min id always kept


def test_pq_adc_topk_matches_numpy(spark, emb_df, emb_np):
    """PQ: codes and ADC top-k match an independent numpy replay (per-
    subspace k-means, argmin encoding, LUT scoring), and PQ recall@10 vs
    exact brute force is high on the real embeddings."""
    ids, m = emb_np
    msub, ncodes, dsub = 4, 16, m.shape[1] // 4
    books = np.stack(
        [sim._kmeans(np.ascontiguousarray(m[:, j * dsub : (j + 1) * dsub]), ncodes, 10, 7 + j) for j in range(msub)]
    )
    codes = np.stack(
        [
            np.argmin(
                ((m[:, None, j * dsub : (j + 1) * dsub] - books[j][None]) ** 2).sum(-1), axis=1
            )
            for j in range(msub)
        ],
        axis=1,
    )  # n x m
    idx = sim.build_pq(emb_df, m=msub, n_codes=ncodes)
    got_codes = {r["vec_id"]: list(r["codes"]) for r in idx.codes.collect()}
    assert got_codes == {int(i): list(map(int, c)) for i, c in zip(ids, codes)}
    np.testing.assert_allclose(idx.codebooks, books)

    q = emb_df.filter(emb_df.vec_id < 3).selectExpr(
        "vec_id AS query_id", "transform(embedding, x -> cast(x AS double)) AS qvec"
    )
    got = sim.pq_adc_topk(idx, q, k=10).collect()
    # numpy ADC replay
    qm = m[np.isin(ids, [0, 1, 2])]
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    n2 = (books**2).sum(axis=2)
    rnorm = np.sqrt(n2[np.arange(msub)[None, :], codes].sum(axis=1))
    overlap = []
    for qi in range(3):
        dot = np.einsum("jd,jcd->jc", qm[qi].reshape(msub, dsub), books)
        sims = dot[np.arange(msub)[None, :], codes].sum(axis=1) / rnorm
        order = np.lexsort((ids, -sims))[:10]
        exp = [(int(ids[o]), r + 1) for r, o in enumerate(order)]
        gq = sorted(
            [(r["vec_id"], r["rank"]) for r in got if r["query_id"] == qi],
            key=lambda t: t[1],
        )
        assert gq == exp
        exact = set(_brute_np(ids, m, m[np.isin(ids, [qi])][0], 10))
        overlap.append(len(exact & {v for v, _ in exp}) / 10)
    # near-uniform random embeddings are the quantization WORST case (no
    # cluster structure for the codebooks to exploit), so the bar is
    # "far above the 10/500 = 0.02 chance overlap", not production recall;
    # the exact-replay asserts above are the real contract
    assert sum(overlap) / 3 >= 0.15


def test_ivfpq_adc_topk_matches_numpy(spark, emb_df, emb_np):
    """IVF-PQ: (list, codes) and the nprobe ADC top-k match an independent
    numpy replay (coarse k-means, residual codebooks, centroid+residual
    similarity with cross terms), and candidates only come from probed
    lists."""
    ids, m = emb_np
    msub, ncodes, nlist, nprobe = 4, 16, 10, 3
    dsub = m.shape[1] // msub
    cent = sim._kmeans(m, nlist, 10, 7)
    lists = np.argmin(((m[:, None, :] - cent[None]) ** 2).sum(-1), axis=1)
    r = m - cent[lists]
    books = np.stack(
        [sim._kmeans(np.ascontiguousarray(r[:, j * dsub : (j + 1) * dsub]), ncodes, 10, 7 + 101 + j) for j in range(msub)]
    )
    codes = np.stack(
        [
            np.argmin(((r[:, None, j * dsub : (j + 1) * dsub] - books[j][None]) ** 2).sum(-1), axis=1)
            for j in range(msub)
        ],
        axis=1,
    )
    idx = sim.build_ivfpq(emb_df, n_centroids=nlist, m=msub, n_codes=ncodes, persist=False)
    got_rows = {r2["vec_id"]: (r2["list_id"], list(r2["codes"])) for r2 in idx.assigned_codes.collect()}
    assert got_rows == {
        int(i): (int(l), list(map(int, c))) for i, l, c in zip(ids, lists, codes)
    }

    q = emb_df.filter(emb_df.vec_id < 3).selectExpr(
        "vec_id AS query_id", "transform(embedding, x -> cast(x AS double)) AS qvec"
    )
    got = sim.ivfpq_adc_topk(idx, q, nprobe=nprobe, k=10).collect()
    qm = m[np.isin(ids, [0, 1, 2])]
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    sub_ix = np.arange(msub)[None, :]
    n2 = (books**2).sum(axis=2)
    for qi in range(3):
        probe = np.argsort(((qm[qi] - cent) ** 2).sum(-1))[:nprobe]
        mask = np.isin(lists, probe)
        dt = np.einsum("jd,jcd->jc", qm[qi].reshape(msub, dsub), books)
        num = qm[qi] @ cent[lists[mask]].T + dt[sub_ix, codes[mask]].sum(1)
        den = np.sqrt(
            (cent[lists[mask]] ** 2).sum(1)
            + 2.0
            * np.einsum("ljd,jcd->ljc", cent.reshape(nlist, msub, dsub), books)[
                lists[mask][:, None], sub_ix, codes[mask]
            ].sum(1)
            + n2[sub_ix, codes[mask]].sum(1)
        )
        sims = num / den
        cids = ids[mask]
        order = np.lexsort((cids, -sims))[:10]
        exp = [(int(cids[o]), rk + 1) for rk, o in enumerate(order)]
        gq = sorted(
            [(r2["vec_id"], r2["rank"]) for r2 in got if r2["query_id"] == qi],
            key=lambda t: t[1],
        )
        assert gq == exp
        # every returned candidate lives in a probed list
        assert all(lists[np.where(ids == v)[0][0]] in probe for v, _ in gq)


def test_ivfpq_save_load_roundtrip(spark, emb_df, tmp_path):
    """save/load is lossless: identical quantizer arrays, identical codes,
    identical ranked output; save appends a footprint lineage line."""
    import json
    import os

    root = str(tmp_path / "ivfpq")
    idx = sim.build_ivfpq(emb_df, n_centroids=8, m=4, n_codes=16, persist=False)
    sim.save_ivfpq_index(idx, root)
    loaded = sim.load_ivfpq_index(spark, root)
    np.testing.assert_array_equal(loaded.centroids, idx.centroids)
    np.testing.assert_array_equal(loaded.codebooks, idx.codebooks)
    orig = {r["vec_id"]: (r["list_id"], list(r["codes"])) for r in idx.assigned_codes.collect()}
    back = {r["vec_id"]: (r["list_id"], list(r["codes"])) for r in loaded.assigned_codes.collect()}
    assert back == orig
    q = emb_df.filter(emb_df.vec_id < 2).selectExpr(
        "vec_id AS query_id", "transform(embedding, x -> cast(x AS double)) AS qvec"
    )
    a = sorted(tuple(r) for r in sim.ivfpq_adc_topk(idx, q, nprobe=3, k=5).collect())
    b = sorted(tuple(r) for r in sim.ivfpq_adc_topk(loaded, q, nprobe=3, k=5).collect())
    assert a == b and len(a) == 10
    lineage = os.path.join(root, "_lineage.jsonl")
    assert os.path.exists(lineage)
    rec = json.loads(open(lineage).read().strip().splitlines()[-1])
    assert rec["stage"] == "footprint"
    assert all(rec[f"{t}_bytes"] > 0 for t in ("codes", "centroids", "codebooks"))


def test_ivfpq_served_keeps_query_id_type(spark, emb_df, tmp_path):
    """ivfpq_topk_served takes non-integer query ids: string ids get the
    same neighbours as integer ids, and the empty result keeps the id
    type."""
    root = str(tmp_path / "ivfpq_served")
    sim.save_ivfpq_index(
        sim.build_ivfpq(emb_df, n_centroids=8, m=4, n_codes=16, persist=False), root
    )
    q = emb_df.filter(emb_df.vec_id < 3).selectExpr(
        "vec_id AS query_id", "transform(embedding, x -> cast(x AS double)) AS qvec"
    )
    qs = q.selectExpr("concat('q', cast(query_id AS string)) AS query_id", "qvec")
    a = sorted(
        (f"q{r['query_id']}", r["rank"], r["vec_id"], r["sim"])
        for r in sim.ivfpq_topk_served(spark, root, q, nprobe=3, k=5).collect()
    )
    b = sorted(tuple(r) for r in sim.ivfpq_topk_served(spark, root, qs, nprobe=3, k=5).collect())
    assert a == b and len(a) == 15
    empty = sim.ivfpq_topk_served(spark, root, qs.limit(0), nprobe=3, k=5)
    assert empty.schema["query_id"].dataType.simpleString() == "string"
    assert empty.count() == 0


def test_sq_cosine_topk_matches_numpy(spark, emb_df, emb_np):
    """SQ8: codes, reconstructions, and top-k match a numpy replay; the
    quantizer is lossy-bounded (per-dim error <= scale/2) and recall vs
    exact brute force is near-perfect at 8 bits."""
    ids, m = emb_np
    mins, maxs = m.min(axis=0), m.max(axis=0)
    scales = (maxs - mins) / 255.0
    with np.errstate(divide="ignore", invalid="ignore"):
        c = np.floor((m - mins) / scales + 0.5)
    codes = np.clip(np.where(np.isfinite(c), c, 0.0), 0, 255)
    idx = sim.build_sq(emb_df)
    np.testing.assert_allclose(idx.mins, mins)
    np.testing.assert_allclose(idx.scales, scales)
    got_codes = {r["vec_id"]: list(r["codes"]) for r in idx.codes.collect()}
    assert got_codes == {int(i): list(map(int, row)) for i, row in zip(ids, codes)}
    recon = mins + codes * scales
    assert np.abs(recon - m).max() <= scales.max() / 2 + 1e-12

    q = emb_df.filter(emb_df.vec_id < 3).selectExpr(
        "vec_id AS query_id", "transform(embedding, x -> cast(x AS double)) AS qvec"
    )
    got = sim.sq_cosine_topk(idx, q, k=10).collect()
    qm = m[np.isin(ids, [0, 1, 2])]
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    norms = np.maximum(np.sqrt((recon**2).sum(axis=1)), 1e-30)
    overlap = []
    for qi in range(3):
        sims = (recon @ qm[qi]) / norms
        order = np.lexsort((ids, -sims))[:10]
        exp = [(int(ids[o]), rk + 1) for rk, o in enumerate(order)]
        gq = sorted(
            [(r["vec_id"], r["rank"]) for r in got if r["query_id"] == qi],
            key=lambda t: t[1],
        )
        assert gq == exp
        exact = set(_brute_np(ids, m, m[np.isin(ids, [qi])][0], 10))
        overlap.append(len(exact & {v for v, _ in exp}) / 10)
    assert sum(overlap) / 3 >= 0.9  # 8-bit reconstruction barely moves ranks


def test_ivf_knn_join_matches_numpy(spark, emb_df, emb_np):
    """kNN join: every vector's ranked neighbor list matches a numpy
    replay of assignment + probe + candidate scoring, neighbors only come
    from probed lists, and self never appears."""
    ids, m = emb_np
    nlist, nprobe, k = 10, 3, 3
    cent = sim._kmeans(m, nlist, 10, 7)
    d = ((m[:, None, :] - cent[None]) ** 2).sum(-1)
    lists = d.argmin(axis=1)
    probes = np.argsort(d, axis=1)[:, :nprobe]
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    exp = {}
    for i in range(len(ids)):
        mask = np.isin(lists, probes[i]) & (ids != ids[i])
        cids, cs = ids[mask], sims[i][mask]
        order = np.lexsort((cids, -cs))[:k]
        exp[int(ids[i])] = [(int(cids[o]), r + 1) for r, o in enumerate(order)]
    got: dict = {v: [] for v in exp}
    for r in sim.ivf_knn_join(emb_df, n_centroids=nlist, nprobe=nprobe, k=k).collect():
        got[r["vec_id"]].append((r["nb_id"], r["rank"]))
    for v in got:
        got[v].sort(key=lambda t: t[1])
    assert got == exp
    # neighbors only from probed lists, no self
    for i, v in enumerate(ids):
        for nb, _ in got[int(v)]:
            assert nb != v
            assert lists[np.where(ids == nb)[0][0]] in probes[i]


# --- chunking ----------------------------------------------------------------


def test_chunk_documents_matches_python_replay(spark):
    """Chunking matches an independent Python replay of the same rule
    (starts at multiples of step below n, slice, join), covers every token
    index, and handles empty / short / exact-multiple docs."""
    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.chunking import chunk_documents

    words = [f"w{i:03d}" for i in range(60)]
    rows = [
        (0, " ".join(words[:37])),  # spans several windows, ragged tail
        (1, " ".join(words[:5])),  # shorter than one chunk
        (2, ""),  # empty -> no chunks
        (3, "the and of to in"),  # all stop words -> no chunks
        (4, " ".join(words[:24])),  # exactly chunk_size + nothing past step grid
        (5, " ".join(words[:25])),  # one token past an exact window
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    size, ov = 12, 4
    step = size - ov
    got = sorted(
        tuple(r)
        for r in chunk_documents(df, chunk_size=size, overlap=ov).collect()
    )
    exp = []
    for doc_id, text in rows:
        toks = tokenize(text, do_stem=False)
        for s in range(0, len(toks), step):
            w = toks[s : s + size]
            if w:
                exp.append((doc_id, s // step, s, len(w), " ".join(w)))
    assert got == sorted(exp)
    # every token index of every non-empty doc is covered by >= 1 chunk
    for doc_id, text in rows:
        n = len(tokenize(text, do_stem=False))
        covered = set()
        for d, _c, s, k, _t in exp:
            if d == doc_id:
                covered.update(range(s, s + k))
        assert covered == set(range(n))
    # consecutive chunks of doc 0 share exactly `ov` tokens
    d0 = [t for t in exp if t[0] == 0]
    for (_, _, s1, k1, t1), (_, _, s2, _k2, t2) in zip(d0, d0[1:]):
        assert s2 - s1 == step
        assert t1.split()[step:] == t2.split()[: k1 - step]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=8, overlap=8)


# --- textstats ---------------------------------------------------------------


def test_language_id(spark):
    rows = [
        (0, "the cat and the dog were in the house that it was for"),
        (1, "der hund und die katze sind nicht mit dem mann"),
        (2, "el perro y la casa es una historia con los amigos"),
        (3, "le chien est dans la maison pour les amis qui sont"),
        (4, "这是一个中文文档 关于大数据 的内容"),
        (5, "xqzt bnmp vvkl"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["lang"] for r in ts.language_id(docs).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "fr", 4: "zh", 5: "und"}


def test_token_counts(spark):
    text = "Hello world, 42 times! foo_bar"
    docs = spark.createDataFrame([(0, text)], "doc_id LONG, text STRING")
    r = ts.token_counts(docs).collect()[0]
    assert r["n_ws_tokens"] == len(text.split())
    assert r["n_bpe_tokens"] == len(re.findall(ts.BPE_ISH_PATTERN, text))


def test_winnow_properties(spark):
    a = b"the quick brown fox jumps over the lazy dog again and again"
    fp_a = ts.winnow(a, k=8, window=4)
    # deterministic + positions valid + fingerprints are real k-gram hashes
    assert fp_a == ts.winnow(a, k=8, window=4)
    hashes = ts._kgram_hashes(a, 8)
    for pos, f in fp_a:
        assert int(hashes[pos]) == f
    # every window of hashes contains a selected position (winnowing guarantee)
    sel = {p for p, _ in fp_a}
    for s in range(len(hashes) - 4 + 1):
        assert any(p in sel for p in range(s, s + 4))
    # shared long substring -> shared fingerprints
    b_ = b"XXXX the quick brown fox jumps over the lazy dog YYYY"
    vals_a = {f for _, f in fp_a}
    vals_b = {f for _, f in ts.winnow(b_, k=8, window=4)}
    assert vals_a & vals_b


def test_winnow_fingerprints_spark(spark, dup_docs):
    docs, rows = dup_docs
    got = ts.winnow_fingerprints(docs, k=8, window=4).collect()
    by_doc: dict[int, set] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fingerprint"]))
    texts = dict(rows)
    for doc_id, text in texts.items():
        exp = {
            (p, np.uint64(f).astype(np.int64).item())
            for p, f in ts.winnow(text.encode(), k=8, window=4)
        }
        assert by_doc[doc_id] == exp
    assert by_doc[0] == by_doc[1]  # identical docs -> identical fingerprints


def test_quality_features(spark):
    docs = spark.createDataFrame(
        [(0, "the cat!!! sat on the mat 123")], "doc_id LONG, text STRING"
    )
    r = ts.quality_features(docs).collect()[0]
    assert r["n_words"] == 7
    assert r["stop_ratio"] == pytest.approx(3 / 7, abs=1e-4)
    assert r["punct_ratio"] > 0


# --- multimodal --------------------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    return mm.generate_media(spark, 12, seed=13).persist()


def test_media_metadata(spark, media):
    rows = {r["media_id"]: r for r in mm.media_metadata(media).collect()}
    assert len(rows) == 12
    assert rows[0]["modality"] == "image" and rows[0]["channels"] == 3
    assert rows[1]["modality"] == "audio" and rows[1]["sample_rate"] == 16000
    assert rows[2]["modality"] == "video" and rows[2]["n_frames"] >= 4
    img = rows[0]
    assert img["payload_bytes"] == img["width"] * img["height"] * 3


def test_image_stats_matches_numpy(spark, media):
    payload = bytes(media.filter("media_id = 0").collect()[0]["payload"])
    arr = mm._image_array(payload).astype(np.float64)
    r = mm.image_stats(media).filter("media_id = 0").collect()[0]
    assert r["mean_r"] == pytest.approx(arr[..., 0].mean())
    assert r["std_gray"] == pytest.approx(arr.mean(axis=3).std())


def test_resize_and_frame_sampling(spark, media):
    resized = mm.resize_images(media, 8, 8).collect()
    for r in resized:
        h = mm.decode_header(bytes(r["payload"]))
        assert (h["width"], h["height"]) == (8, 8)
        assert h["payload_bytes"] == 8 * 8 * 3
    metas = {r["media_id"]: r for r in mm.media_metadata(media).collect()}
    frames = mm.sample_frames(media, every_nth=2).collect()
    by_vid: dict[int, int] = {}
    for r in frames:
        by_vid[r["media_id"]] = by_vid.get(r["media_id"], 0) + 1
        fh = mm.decode_header(bytes(r["frame_payload"]))
        assert fh["n_frames"] == 1
    for vid, cnt in by_vid.items():
        assert cnt == (metas[vid]["n_frames"] + 1) // 2


def test_audio_features(spark, media):
    r = mm.audio_features(media).filter("media_id = 1").collect()[0]
    assert r["n_samples"] == 4000 and r["duration_s"] == pytest.approx(0.25)
    assert 6000 < r["rms"] < 8000  # sine at amplitude 10000 -> rms ~7071


def test_real_decode_gated(spark):
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.decode_image_real(b"\x89PNG....")


def test_ivf_sample_is_bounded(spark, emb_df):
    """The k-means training sample must never collect the whole table to the
    driver: the cap holds even when the requested bound is tiny, and the
    assignment pass still covers every vector."""
    from fulltextsearch_spark.operators.similarity import _bounded_sample, ivf_assign

    total = emb_df.count()
    cap = 20
    sample = _bounded_sample(emb_df, "embedding", cap, seed=7)
    assert sample.shape[0] <= cap < total
    # unbiased by physical order: a re-sorted copy of the table yields the
    # SAME sample (hash-ordered top-k, not front-of-scan)
    from pyspark.sql import functions as F

    resorted = emb_df.orderBy(F.col("vec_id").desc()).repartition(7)
    sample2 = _bounded_sample(resorted, "embedding", cap, seed=7)
    assert {tuple(v) for v in sample} == {tuple(v) for v in sample2}
    assigned, cent = ivf_assign(emb_df, n_centroids=4, max_sample_rows=cap)
    assert cent.shape[0] <= 4
    assert assigned.count() == total  # every vector assigned to some list
    assert assigned.select("list_id").distinct().count() <= 4


def test_connected_components(spark):
    """Min-label propagation matches a hand-computed transitive closure:
    a path graph (long chain exercises multi-round propagation), a separate
    pair, and isolated nodes as singletons."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        ["doc_id_a", "doc_id_b"],
    )
    all_nodes = spark.createDataFrame([(n,) for n in range(1, 31)], ["node"])
    out = {
        r["node"]: r["comp"]
        for r in dd.connected_components(pairs, all_nodes=all_nodes).collect()
    }
    assert len(out) == 30
    assert all(out[n] == 1 for n in (1, 2, 3, 4, 5))
    assert out[10] == out[11] == 10
    assert out[20] == out[21] == out[22] == 20
    singles = set(range(1, 31)) - {1, 2, 3, 4, 5, 10, 11, 20, 21, 22}
    assert all(out[n] == n for n in singles)


def test_dedup_by_components(spark):
    """One canonical (min-id) survivor per cluster; untouched docs pass
    through with all columns intact."""
    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["doc_id_a", "doc_id_b"])
    kept = dd.dedup_by_components(docs, pairs).collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 1, 3, 4, 6]
    assert all(r["text"] == f"text-{r['doc_id']}" for r in kept)


def test_curate_corpus(spark):
    """Composed curation: exact-dup groups keep only the min-id copy; short,
    stopword-free, or non-English docs are dropped; survivors carry their
    quality features."""
    from fulltextsearch_spark.operators.curation import curate_corpus

    good = "the cat and the dog sat in the house of the king " * 4  # 48 words, en
    docs = spark.createDataFrame(
        [
            (0, good),                        # survives (canonical)
            (1, good),                        # exact dup of 0 -> dropped
            (2, "short text the end"),        # < min_words -> dropped
            (3, "alpha beta gamma " * 15),    # no stopwords -> lang und + ratio 0
            (4, "der hund und die katze ist nicht ein tier mit dem auch " * 4),  # de
            (5, good + "extra trailing words here"),  # survives (distinct)
        ],
        ["doc_id", "text"],
    )
    result = curate_corpus(docs)
    out = {r["doc_id"]: r for r in result.collect()}
    assert sorted(out) == [0, 5]
    assert out[0]["lang"] == "en"
    assert out[0]["n_words"] == 48
    assert out[0]["stop_ratio"] > 0.3
    assert out[5]["chars_per_word"] < 15.0

    # the raw text column must NOT cross the dedup exchange: the window
    # partitions on the MATERIALIZED md5 column (computed map-side in the
    # pre-shuffle projection), so the exchange moves (doc_id, hash, features)
    # rows only
    plan = result._jdf.queryExecution().executedPlan().toString()
    exchange_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchange_lines and all("_text_hash" in l for l in exchange_lines), plan[:3000]
    assert not any("md5(text" in l for l in exchange_lines)


def test_lsh_recall_eval_counts(spark, dup_docs):
    """Recall eval: counts match a direct composition of the two ops, the
    intersection is bounded by both sides, and ratios derive exactly."""
    df, _rows = dup_docs
    out = dd.lsh_recall_eval(df, shingle_k=8, threshold=0.3).collect()[0]
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.ngram_jaccard_pairs(df, shingle_k=8, threshold=0.3).collect()
    }
    cand = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dd.minhash_lsh_pairs(df, shingle_k=8, threshold=0.3).collect()
    }
    assert out["n_true"] == len(exact) > 0
    assert out["n_cand"] == len(cand)
    assert out["n_hit"] == len(exact & cand)
    assert out["recall"] == out["n_hit"] / out["n_true"]
    assert out["precision"] == (out["n_hit"] / out["n_cand"] if out["n_cand"] else 0.0)


def test_image_ahash_deterministic_and_discriminative(spark):
    """aHash: identical images hash identically, a structurally different
    image differs, and the 16-hex format/integer block rule match a numpy
    replay."""
    rows = [
        (0, "abcdefgh" * 40),
        (3, "abcdefgh" * 40),  # same text -> same image -> same hash? only
        # if w/h match: w,h depend on doc_id, so use ids with equal formulas
        (168, "abcdefgh" * 40),  # 168%56 == 0%56 and (168*7)%56 == 0 -> same dims
        (6, "zzzzyyyyxxxxwwww" * 30),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["media_id"]: r["ahash"]
        for r in mm.image_ahash(mm.media_from_docs(df)).collect()
    }
    # ids 0, 3, 6, 168 are all %3==0 -> images
    assert set(got) == {0, 3, 6, 168}
    assert all(len(h) == 16 and set(h) <= set("0123456789abcdef") for h in got.values())
    assert got[0] == got[168]  # same pixels, same dims
    assert got[0] != got[6]
    # numpy replay for id 0: w=8, h=8 -> blocks are single pixels
    text = rows[0][1].encode()
    w = h = 8
    need = w * h * 3
    data = (text * (need // len(text) + 1))[:need]
    px = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).astype(np.int64)
    gray = px.sum(axis=2)
    total, tp = gray.sum(), w * h
    bits = (gray.ravel() * tp > total) .astype(int)  # bc == 1 per block here
    nib = bits.reshape(16, 4)
    vals = nib[:, 0] * 8 + nib[:, 1] * 4 + nib[:, 2] * 2 + nib[:, 3]
    assert got[0] == "".join(format(int(v), "x") for v in vals)


def test_semdedup_zero_vector_and_custom_id_col(spark):
    """Review regressions: a zero embedding must not NaN-drop its
    cluster-mates, and a non-default id column works."""
    rows = [(10, [1.0, 0.0]), (11, [1.0, 0.001]), (12, [0.0, 0.0]), (13, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "eid LONG, emb ARRAY<DOUBLE>")
    got = {
        r["vec_id"]: r["kept"]
        for r in sim.semdedup_keep(
            df, n_centroids=2, threshold=0.9, id_col="eid", vec_col="emb"
        ).collect()
    }
    assert set(got) == {10, 11, 12, 13}
    assert got[10]  # min id always kept
    assert not got[11]  # true near-dup of 10 dropped
    # the zero vector's cosine is 0/clamped, never NaN: 12 and 13 survive
    assert got[12] and got[13]


def test_pack_sequences_matches_python_replay(spark):
    """Concat-and-chunk packing == an independent Python replay: offsets by
    doc_id-order cumulation, per-sequence token totals exactly seq_len except
    the last, docs spanning boundaries split correctly, 0-token docs absent.
    Result is invariant to bucket_span and input partitioning."""
    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.chunking import pack_sequences

    words = [f"w{i:03d}" for i in range(80)]
    rows = [
        (3, " ".join(words[:7])),
        (10, ""),  # 0 tokens -> absent
        (11, " ".join(words[:29])),  # spans several sequences
        (12, "the and of"),  # stopwords-only -> 0 tokens -> absent
        (20, " ".join(words[:16])),  # exact multiple of seq_len
        (21, " ".join(words[:1])),
        (40, " ".join(words[:13])),
    ]
    L = 8
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    exp = []
    off = 0
    for doc_id, text in sorted(rows):
        n = len(tokenize(text, do_stem=False))
        if n == 0:
            continue
        for seq_id in range(off // L, (off + n - 1) // L + 1):
            lo = max(seq_id * L, off)
            hi = min((seq_id + 1) * L, off + n)
            exp.append((seq_id, doc_id, lo - off, lo - seq_id * L, hi - lo))
        off += n
    for span, parts in [(4, 1), (64, 3), (1, 7)]:
        got = sorted(
            tuple(r)
            for r in pack_sequences(
                df.repartition(parts), seq_len=L, bucket_span=span
            ).collect()
        )
        assert got == sorted(exp), (span, parts)
    # every sequence except the highest-numbered packs exactly L tokens
    per_seq = {}
    for seq_id, _d, _ds, _sp, k in exp:
        per_seq[seq_id] = per_seq.get(seq_id, 0) + k
    last = max(per_seq)
    assert all(v == L for s, v in per_seq.items() if s != last)
    assert set(per_seq) == set(range(last + 1))  # no empty sequence holes


def test_pack_sequences_rejects_bad_seq_len(spark):
    from fulltextsearch_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame([(0, "a b")], "doc_id LONG, text STRING")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_sequences(df, seq_len=0)


def test_materialize_and_shard_roundtrip(spark, tmp_path):
    """Materialized sequences tile the concatenated token stream exactly;
    the shard writer persists deterministic shard membership + manifest."""
    import json

    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.chunking import (
        materialize_sequences,
        write_training_shards,
    )

    words = [f"w{i:03d}" for i in range(200)]
    rows = [(i, " ".join(words[(7 * i) % 150 : (7 * i) % 150 + 5 + i % 9]))
            for i in range(40)]
    L = 16
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    seqs = materialize_sequences(df, seq_len=L, bucket_span=8)
    got = {r["seq_id"]: r["tokens"] for r in seqs.collect()}
    stream = []
    for _, text in sorted(rows):
        stream.extend(tokenize(text, do_stem=False))
    want = {i: stream[i * L : (i + 1) * L] for i in range((len(stream) + L - 1) // L)}
    assert got == want
    out = str(tmp_path / "shards")
    man = write_training_shards(seqs, out, seqs_per_shard=4)
    assert man["n_seqs"] == len(want) and man["n_tokens"] == len(stream)
    assert man == json.load(open(f"{out}/_manifest.json"))
    back = spark.read.parquet(out)
    assert back.count() == len(want)
    shard_of = {r["seq_id"]: r["shard"] for r in back.collect()}
    assert all(shard_of[s] == s // 4 for s in shard_of)


def test_maxp_matches_python_replay(spark):
    """MaxP passage retrieval vs a Python replay: passage-native BM25 stats,
    best-passage rollup with the lowest-chunk tiebreak, and the long-doc
    rationale (a doc with one on-topic passage beats whole-doc dilution)."""
    import math
    from collections import Counter

    from fulltextsearch_spark.functions.tokenizer import tokenize
    from fulltextsearch_spark.operators.chunking import search_maxp

    on_topic = "quantum relay core stable field"
    rows = [
        (0, " ".join(f"pad0x{j}" for j in range(60)) + " " + on_topic),
        (1, on_topic + " " + " ".join(f"pad1x{j}" for j in range(8))),
        (2, " ".join(f"noise{j}" for j in range(40))),
        (3, "quantum " + " ".join(f"fill{j}" for j in range(20))),
    ]
    CS, OV, K1b, Bb, K = 16, 4, 1.2, 0.75, 5
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    qdf = spark.createDataFrame([("q1", "quantum relay")], ["query_id", "content"])
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 8), r["best_chunk"])
        for r in search_maxp(docs, qdf, chunk_size=CS, overlap=OV, k=K,
                             k1=K1b, b=Bb).collect()
    ]

    # Python replay
    step = CS - OV
    passages = []  # (doc_id, chunk_id, tokens)
    for d, text in rows:
        toks = tokenize(text, do_stem=False)
        for s in range(0, max(len(toks) - 1, 0) + 1, step):
            w = toks[s : s + CS]
            if w:
                passages.append((d, s // step, w))
    N = len(passages)
    avgdl = sum(len(w) for _, _, w in passages) / N
    df = Counter()
    for _, _, w in passages:
        df.update(set(w))
    q = tokenize("quantum relay", do_stem=False)
    qtf = Counter(q)
    best = {}
    for d, c, w in passages:
        tf = Counter(w)
        s = 0.0
        for t, m in qtf.items():
            if tf[t] == 0 or df[t] == 0:
                continue
            idf = math.log((N - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += m * idf * (tf[t] * (K1b + 1)) / (
                tf[t] + K1b * (1 - Bb + Bb * len(w) / avgdl)
            )
        if s > 0 and (d not in best or (s, -c) > (best[d][0], -best[d][1])):
            best[d] = (s, c)
    want = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[0]))[:K]
    want = [(i + 1, d, round(s, 8), c) for i, (d, (s, c)) in enumerate(want)]
    assert sorted(got) == want
    # the buried-passage doc (0) must rank at/above the diluted partial (3)
    ranks = {d: r for r, d, _, _ in got}
    assert ranks[0] < ranks[3]


def test_cross_contamination_finds_edited_copies_only_across_sides(spark):
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.dedup import cross_contamination

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [
            (0, base),
            (1, base),  # within-corpus exact dup — must NOT appear cross-side
            (2, "completely different content about spark query engines and joins"),
            (3, "unrelated third document talking about fish and rivers and boats"),
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [
            (0, "PREFIX " + base),  # lightly edited copy -> contaminated
            (1, "nothing in common with any training document whatsoever okay"),
        ],
        "doc_id LONG, text STRING",
    )
    got = cross_contamination(corpus, bench, threshold=0.3, shingle_k=8).collect()
    pairs = {(r["corpus_doc_id"], r["bench_doc_id"]) for r in got}
    assert (0, 0) in pairs and (1, 0) in pairs  # both corpus copies flagged
    assert all(b == 0 for _, b in pairs)  # the unrelated bench doc is clean
    assert all(r["est_jaccard"] >= 0.3 for r in got)


def test_dim_truncation_recall_properties(spark, emb_df):
    """Full-dim recall is exactly 1.0; recall is monotone-ish in dim on
    random vectors (at least: full >= smallest); output shape correct."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.similarity import dim_truncation_recall

    qs = emb_df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    dim = len(emb_df.first()["embedding"])
    out = {r["dim"]: r for r in dim_truncation_recall(
        emb_df, qs, dims=[max(dim // 8, 1), dim], k=5).collect()}
    assert out[dim]["recall"] == 1.0 and out[dim]["n_hit"] == 10
    assert 0.0 <= out[max(dim // 8, 1)]["recall"] <= 1.0
    assert all(r["n_queries"] == 2 for r in out.values())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dim_truncation_recall(emb_df, qs, dims=[])


def test_cluster_keys_and_collapsed_serving(spark):
    """cluster_keys maps every doc to its cluster canonical (singletons to
    themselves); collapsing on it keeps one result per near-dup cluster."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.collapse import collapse_topk
    from fulltextsearch_spark.operators.dedup import cluster_keys

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "doc_id_a LONG, doc_id_b LONG"
    )
    keys = {r["doc_id"]: r["key"] for r in cluster_keys(docs, pairs).collect()}
    assert keys == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 2, 7: 7}
    scored = spark.createDataFrame(
        [("q", d, float(10 - d)) for d in range(8)],
        "query_id STRING, doc_id LONG, score DOUBLE",
    )
    kdf = spark.createDataFrame(list(keys.items()), "doc_id LONG, key LONG")
    res = collapse_topk(scored, kdf.select("doc_id", "key"), k=10).collect()
    got = sorted((r["key"], r["doc_id"]) for r in res)
    # best doc per cluster: cluster 1 -> doc 1 (highest score), cluster 2 -> doc 2
    assert got == [(0, 0), (1, 1), (2, 2), (4, 4), (7, 7)]


def test_filtered_cosine_is_prefilter_exact(spark, emb_df, emb_np):
    """Filtered ANN: results come only from the allowed set and equal the
    brute-force ranking computed over the survivors (pre-filter, not a
    post-filtered unfiltered top-k)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.similarity import filtered_cosine_topk

    ids, m = emb_np
    allowed_ids = [int(i) for i in ids if i % 4 == 0]
    allowed = spark.createDataFrame([(i,) for i in allowed_ids], "vec_id LONG")
    qs = emb_df.where(F.col("vec_id") == int(ids[1])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = [
        (r["rank"], r["vec_id"])
        for r in sorted(
            filtered_cosine_topk(emb_df, qs, allowed, k=5).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert all(v % 4 == 0 for _, v in got)
    # brute replay over the allowed subset only
    q = m[list(ids).index(ids[1])]
    sims = {}
    for i, a in zip(ids, m):
        if i % 4 == 0:
            sims[int(i)] = float(
                np.dot(a, q) / (np.linalg.norm(a) * np.linalg.norm(q))
            )
    want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [v for _, v in got] == [i for i, _ in want]


def test_filtered_cosine_allowed_id_col_selection(spark, emb_df, emb_np):
    """The allowed-set id column is found BY NAME on multi-column frames;
    an ambiguous frame without the id column raises instead of silently
    semi-joining on the wrong column."""
    import pytest
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.similarity import filtered_cosine_topk

    ids, _ = emb_np
    allowed_ids = [int(i) for i in ids if i % 4 == 0]
    qs = emb_df.where(F.col("vec_id") == int(ids[1])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # id col NOT first — must still be picked by name
    multi = spark.createDataFrame(
        [("x", i) for i in allowed_ids], "junk STRING, vec_id LONG"
    )
    got = filtered_cosine_topk(emb_df, qs, multi, k=5).collect()
    assert got and all(r["vec_id"] % 4 == 0 for r in got)
    bad = spark.createDataFrame(
        [("x", i) for i in allowed_ids], "junk STRING, other_id LONG"
    )
    with pytest.raises(ValueError, match="allowed must contain"):
        filtered_cosine_topk(emb_df, qs, bad, k=5)


def test_ivf_saved_serving_identical_to_live(spark, emb_df, tmp_path):
    """save_ivf_index -> load_ivf_index -> ivf_topk_served is result-
    identical to ivf_cosine_topk with the same trained quantizer (same
    lists probed, same exact scoring), and the served scan carries the
    literal list_id filter (partition/footer pruning, no base-table join)."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.similarity import (
        build_ivf,
        ivf_cosine_topk,
        ivf_topk_served,
        load_ivf_index,
        save_ivf_index,
    )

    qs = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ivf = build_ivf(emb_df, n_centroids=8, persist=False)
    live = sorted(
        map(tuple, ivf_cosine_topk(emb_df, qs, n_centroids=8, nprobe=3, k=5, ivf=ivf).collect())
    )
    root = str(tmp_path / "ivf")
    save_ivf_index(emb_df, root, ivf=ivf)
    served = ivf_topk_served(spark, load_ivf_index(spark, root), qs, nprobe=3, k=5)
    # the probe set reaches the scan as a literal pushed filter
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan and "PushedFilters: [In(list_id" in plan
    assert sorted(map(tuple, served.collect())) == live
    # footprint line recorded like every other saved index
    import os

    assert os.path.exists(os.path.join(root, "_lineage.jsonl"))


def test_optimal_bands_matches_threshold_curve():
    """The FP+FN-weight banding search is monotone in the threshold and
    reproduces the known operating points for num_perm=128."""
    from fulltextsearch_spark.operators.dedup import optimal_bands

    assert optimal_bands(0.3, 128) == 32  # the entry's fixed banding
    assert optimal_bands(0.8, 128) == 8
    prev = 129
    for t in (0.1, 0.3, 0.5, 0.7, 0.9):
        b = optimal_bands(t, 128)
        assert 128 % b == 0
        assert b <= prev
        prev = b
    import pytest

    with pytest.raises(ValueError):
        optimal_bands(0.0)


def test_minhash_auto_banding_runs(spark, dup_docs):
    """bands="auto" resolves to a valid banding and still finds the planted
    near-duplicates at the dedup threshold."""
    from fulltextsearch_spark.operators.dedup import minhash_lsh_pairs

    docs, _ = dup_docs
    pairs = minhash_lsh_pairs(docs, threshold=0.5, bands="auto", shingle_k=5)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
    assert got  # the dup_docs fixture plants near-identical docs


def test_lsh_saved_serving_identical_to_live(spark, emb_df, tmp_path):
    """save_lsh_index -> load_lsh_index -> lsh_topk_served is result-
    identical to lsh_cosine_topk with the same params (planes from the
    stored seed, same hamming-1 probe policy, shared scoring kernel), and
    the probe set reaches the clustered scan as a pushed tb IN filter."""
    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.similarity import (
        load_lsh_index,
        lsh_cosine_topk,
        lsh_topk_served,
        save_lsh_index,
    )

    qs = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    live = sorted(
        map(tuple, lsh_cosine_topk(emb_df, qs, dim=64, k=5, n_planes=6, n_tables=8).collect())
    )
    root = str(tmp_path / "lsh")
    save_lsh_index(emb_df, root, dim=64, n_planes=6, n_tables=8)
    served = lsh_topk_served(spark, load_lsh_index(spark, root), qs, k=5)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(tb" in plan
    assert sorted(map(tuple, served.collect())) == live

"""Seeded benchmark inputs: corpus, query logs and oracle answers.

Everything derives from the benchmark seed, so the same seed gives
byte-identical inputs. ``run.py`` calls this script in its own process when a
seed's input directory is missing (the driver process under measurement
never holds the corpus or the oracle)::

    python3 perfbench/inputs.py --seed 7 --out perfbench/.work/inputs/seed-7

Output directory:

* ``corpus/part-NNNN.parquet``: the bursty web corpus
  (``generate_webpages_pdf(bursty=True)``), text column only, written in
  chunks with per-chunk seeds derived from the benchmark seed;
* ``inputs.json``: corpus tag and oracle stats, the hot query pool, the cold
  query log, the batches of the traced Spark query path and the oracle's
  expected top-k for each check sample.

The oracle is an exact scorer with ``tests/oracle.py`` semantics:
file-order doc ids, N = max id + 1, avgdl = sum(dl) / N, one BM25 term per
query token occurrence (duplicates accumulate), top-k by
(score DESC, doc_id ASC). It keeps postings only for the terms the check
samples query.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_DOCS = 20_000
CHUNK_DOCS = 5_000
ROW_GROUP_DOCS = 1_250  # 16 row groups -> 16 build map tasks on local[4]
BURSTY = True
K, K1, B = 10, 1.2, 0.75  # EngineConfig defaults

POOL_SIZE = 200  # serve_hot pool
ZIPF_S = 0.5  # serve_hot popularity: rank r is drawn with weight r ** -ZIPF_S
BATCH_SIZE = 250  # queries per traced search_wand job
BATCHES = 2
CHECK = 100  # oracle-checked queries per workload
HOT_DF = (0.001, 0.02, 0.2)  # mid-df from, head from, head up to (share of N)
TAIL_DF = (1, 5)  # tail terms, absolute df
UNKNOWN_P = 0.2  # chance a cold/batch tail query carries one unknown token
SCORE_TOL = 1e-9  # relative; float-noise ties are compared as sets


def derive(seed: int, *parts: object) -> int:
    """A 31-bit sub-seed for one named use of the benchmark seed."""
    key = "/".join(["perfbench", str(seed), *map(str, parts)]).encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:4], "big") >> 1


def corpus_tag(seed: int) -> dict:
    return {
        "generator": "fulltextsearch_spark.sources.webpages.generate_webpages_pdf",
        "seed": seed,
        "chunk_seeds": [derive(seed, "corpus", p) for p in range(N_DOCS // CHUNK_DOCS)],
        "n_docs": N_DOCS,
        "bursty": BURSTY,
    }


def _chunk(args: tuple[int, int, str]) -> tuple[list[int], list[dict[str, int]]]:
    """Generate and write one corpus chunk; return its per-doc dl and tf maps."""
    seed, part, corpus_dir = args
    sys.path.insert(0, ROOT)
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    from fulltextsearch_spark.functions.tokenizer import tokenize  # noqa: PLC0415
    from fulltextsearch_spark.sources.webpages import generate_webpages_pdf  # noqa: PLC0415

    texts = generate_webpages_pdf(
        CHUNK_DOCS, seed=derive(seed, "corpus", part), bursty=BURSTY
    )["text"].tolist()
    pq.write_table(
        pa.table({"text": pa.array(texts, type=pa.string())}),
        os.path.join(corpus_dir, f"part-{part:04d}.parquet"),
        row_group_size=ROW_GROUP_DOCS,
    )
    memo: dict = {}
    dls, tfs = [], []
    for text in texts:
        toks = tokenize(text, True, memo)
        dls.append(len(toks))
        tfs.append(dict(Counter(toks)))
    return dls, tfs


def _oracle_topk(query: str, postings: dict, dl: list[int], n: int, avgdl: float) -> dict:
    from fulltextsearch_spark.functions.tokenizer import tokenize  # noqa: PLC0415

    acc: dict[int, float] = {}
    for tok in tokenize(query, True):
        plist = postings.get(tok)
        if not plist:
            continue
        df = len(plist)
        idf = math.log((float(n) - float(df) + 0.5) / (float(df) + 0.5) + 1.0)
        for doc, tf in plist:
            s = idf * (
                (float(tf) * (K1 + 1.0))
                / (float(tf) + K1 * (1.0 - B + B * (float(dl[doc]) / avgdl)))
            )
            acc[doc] = acc.get(doc, 0.0) + s
    ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
    top = ranked[:K]
    # every doc whose score ties the k-th within float noise may legally take
    # the last places, so the check accepts any of them there
    tie: list[int] = []
    if len(ranked) > K:
        kth = top[-1][1]
        tie = [d for d, s in ranked if abs(s - kth) <= SCORE_TOL * max(1.0, abs(kth))]
    return {"top": [[d, s] for d, s in top], "tie": tie}


def _unknown(rng: random.Random, df: dict) -> str:
    while True:
        tok = f"zq{rng.randrange(16**6):06x}"
        if tok not in df:
            return tok


def _tail_query(rng: random.Random, tail: list[str], df: dict) -> str | None:
    n = rng.randint(1, 3)
    if len(tail) < n:
        return None
    words = [tail.pop() for _ in range(n)]
    if rng.random() < UNKNOWN_P:
        words.insert(rng.randrange(len(words) + 1), _unknown(rng, df))
    return " ".join(words)


def hot_log(seed: int, tag: str):
    """Endless Zipf-repeated draws over the hot pool (pool indices). The
    exponent is below 1 so that no handful of queries sets the latency
    percentiles, which would make them differ from seed to seed."""
    rng = random.Random(derive(seed, "hot-log", tag))
    cum, acc = [], 0.0
    for i in range(POOL_SIZE):
        acc += (i + 1) ** -ZIPF_S
        cum.append(acc)
    while True:
        yield from rng.choices(range(POOL_SIZE), cum_weights=cum, k=1024)


def prepare(seed: int, out: str) -> None:
    sys.path.insert(0, ROOT)
    from fulltextsearch_spark.functions.tokenizer import tokenize  # noqa: PLC0415

    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus_dir = os.path.join(tmp, "corpus")
    os.makedirs(corpus_dir)
    parts = N_DOCS // CHUNK_DOCS
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(4, parts)) as pool:
        chunks = pool.map(_chunk, [(seed, p, corpus_dir) for p in range(parts)])
        pool.close()
        pool.join()

    dl: list[int] = []
    docs: list[dict[str, int]] = []
    for d, t in chunks:  # file order = doc id order
        dl.extend(d)
        docs.extend(t)
    n = len(dl)
    avgdl = sum(dl) / n
    df: Counter = Counter()
    for tf in docs:
        df.update(tf.keys())

    def usable(t: str) -> bool:  # the query string must tokenize to itself
        return tokenize(t, True) == [t]

    lo, mid, hi = (x * n for x in HOT_DF)
    head_terms = [t for t in sorted(df) if mid <= df[t] <= hi and usable(t)]
    mid_terms = [t for t in sorted(df) if lo <= df[t] < mid and usable(t)]
    tail_terms = [t for t in sorted(df) if TAIL_DF[0] <= df[t] <= TAIL_DF[1] and usable(t)]

    rng = random.Random(derive(seed, "queries"))
    # one head term plus 1-3 mid-df terms: the head term's long list is what
    # block-max pruning skips through
    pool_q = [
        " ".join([rng.choice(head_terms), *rng.sample(mid_terms, rng.randint(1, 3))])
        for _ in range(POOL_SIZE)
    ]
    rng.shuffle(tail_terms)
    # the batches need at most 3 tail terms per novel query; every other
    # tail term goes to the cold log, which a run cycles through (with a
    # fresh server on each pass) when it drains it
    n_batch_terms = 3 * BATCHES * (BATCH_SIZE // 2)
    batch_tail, cold_tail = tail_terms[:n_batch_terms], tail_terms[n_batch_terms:]
    cold: list[str] = []
    while (q := _tail_query(rng, cold_tail, df)) is not None:
        cold.append(q)
    hot_draw = hot_log(seed, "batch")
    batches: list[list[str]] = []
    for _ in range(BATCHES):
        batch = []
        for j in range(BATCH_SIZE):  # alternate hot pool / novel tail
            q = _tail_query(rng, batch_tail, df) if j % 2 else None
            batch.append(q if q is not None else pool_q[next(hot_draw)])
        batches.append(batch)

    checks = {
        "serve_hot": pool_q[:CHECK],
        "serve_cold": cold[:CHECK],
        "batch": batches[0][:CHECK],
    }
    need = {t for qs in checks.values() for q in qs for t in tokenize(q, True)}
    postings: dict[str, list[tuple[int, int]]] = {t: [] for t in need if t in df}
    for doc, tf in enumerate(docs):
        for t in need.intersection(tf):
            postings[t].append((doc, tf[t]))
    expected = {
        w: [_oracle_topk(q, postings, dl, n, avgdl) for q in qs] for w, qs in checks.items()
    }

    meta = {
        "corpus": corpus_tag(seed),
        "stats": {
            "n_docs": n,
            "avgdl": avgdl,
            "total_postings": sum(len(tf) for tf in docs),
            "head_terms": len(head_terms),
            "mid_terms": len(mid_terms),
            "tail_terms": len(tail_terms),
        },
        "pool": pool_q,
        "cold": cold,
        "batches": batches,
        "expected": expected,
    }
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)  # atomic publish: a half-written seed is never reused


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    prepare(args.seed, args.out)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Codec record: for each posting codec, the saved index's stream bytes,
``QueryServer.search_local`` ms/query with the decoded-postings cache off,
and ``save_compressed_index`` seconds, over one corpus. Prints one JSON line.

Usage::

    python scripts/codec_probe.py --perfbench-seed 101 --work /tmp/codec_probe
    python scripts/codec_probe.py --web-docs 50000 --work /tmp/codec_probe

``--perfbench-seed`` uses perfbench's corpus of that seed (made with
``perfbench/inputs.py`` under ``--work`` when missing) and queries its hot
pool. ``--web-docs`` writes ``generate_webpages_pdf(bursty=False)`` in
10k-doc parts with seeds 42, 43, ... (bench.py's web corpus) and queries
``QUERY_SET``.

The corpus is built once (varint, the build's wire format). Each rep then,
for every codec in turn (the order reverses on odd reps), times a save
under that codec, loads a server with ``decoded_cache_mb=0`` (every call
decodes the postings it scores; the row cache stays on, so row-group
reads are paid once), warms it with one pass over the queries and times
``--passes`` more. Every codec must return the varint answers; the script
exits non-zero otherwise. Times are median and min over ``--reps``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ENC_COLS = ("doc_ids_enc", "tfs_enc", "dls_enc")


def _perfbench_corpus(seed: int, work: str) -> tuple[str, list, dict]:
    out = os.path.join(work, f"perfbench-seed-{seed}")
    if not os.path.isdir(out):
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "inputs.py"),
             "--seed", str(seed), "--out", out],
            check=True,
        )
    with open(os.path.join(out, "inputs.json")) as f:
        meta = json.load(f)
    queries = [(f"h{i}", q) for i, q in enumerate(meta["pool"])]
    return os.path.join(out, "corpus"), queries, meta["corpus"]


def _web_corpus(n_docs: int, work: str) -> tuple[str, list, dict]:
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    from fulltextsearch_spark.sources.webpages import (  # noqa: PLC0415
        QUERY_SET,
        generate_webpages_pdf,
    )

    out = os.path.join(work, f"web-{n_docs}")
    seeds = [42 + p for p in range((n_docs + 9_999) // 10_000)]
    if not os.path.isdir(out):
        tmp = f"{out}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for part, seed in enumerate(seeds):
            n = min(10_000, n_docs - 10_000 * part)
            pdf = generate_webpages_pdf(n, seed=seed, bursty=False)[["text"]]
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(tmp, f"part-{part:04d}.parquet"),
            )
        os.replace(tmp, out)
    tag = {"generator": "generate_webpages_pdf", "bursty": False, "n_docs": n_docs,
           "seeds": seeds}
    return out, list(QUERY_SET), tag


def _stream_bytes(root: str) -> int:
    import pyarrow.compute as pc  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    tbl = pq.read_table(os.path.join(root, "postings"), columns=list(ENC_COLS))
    return sum(pc.sum(pc.binary_length(tbl.column(c))).as_py() for c in ENC_COLS)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--perfbench-seed", type=int)
    src.add_argument("--web-docs", type=int)
    ap.add_argument("--work", required=True, help="scratch directory for corpora and indexes")
    ap.add_argument("--codecs", help="comma-separated; default: every codec the engine reads")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from fulltextsearch_spark.config import EngineConfig  # noqa: PLC0415
    from fulltextsearch_spark.operators.compressed_index import (  # noqa: PLC0415
        build_compressed_index_pyfiles,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.serving import QueryServer  # noqa: PLC0415
    from fulltextsearch_spark.session import get_spark  # noqa: PLC0415

    if args.codecs:
        codecs = args.codecs.split(",")
    else:
        from fulltextsearch_spark.operators.compression import CODECS  # noqa: PLC0415

        codecs = list(CODECS)
    os.makedirs(args.work, exist_ok=True)
    if args.perfbench_seed is not None:
        corpus, queries, tag = _perfbench_corpus(args.perfbench_seed, args.work)
    else:
        corpus, queries, tag = _web_corpus(args.web_docs, args.work)

    spark = get_spark(
        app_name="codec-probe", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig()
    idx = build_compressed_index_pyfiles(spark, corpus, cfg)
    idx.postings.count()

    save_s: dict = {c: [] for c in codecs}
    ms_q: dict = {c: [] for c in codecs}
    nbytes: dict = {}
    answers: dict = {}
    for rep in range(args.reps):
        for codec in codecs if rep % 2 == 0 else codecs[::-1]:
            root = os.path.join(args.work, f"index-{codec}")
            shutil.rmtree(root, ignore_errors=True)
            t0 = time.perf_counter()
            save_compressed_index(idx, root, codec=codec)
            save_s[codec].append(time.perf_counter() - t0)
            nbytes[codec] = _stream_bytes(root)
            server = QueryServer.load(spark, root)
            server.decoded_cache_mb = 0
            answers[codec] = server.search_local(queries, cfg)
            t0 = time.perf_counter()
            for _ in range(args.passes):
                server.search_local(queries, cfg)
            ms_q[codec].append(1000 * (time.perf_counter() - t0) / (args.passes * len(queries)))
    spark.stop()

    def summary(xs):
        return {"median": round(statistics.median(xs), 4), "min": round(min(xs), 4)}

    ok = all(answers[c] == answers[codecs[0]] for c in codecs)
    print(json.dumps({
        "corpus": tag,
        "queries": len(queries),
        "result_rows": len(answers[codecs[0]]),
        "reps": args.reps,
        "passes": args.passes,
        "cores": args.cores,
        "answers_identical": ok,
        "stream_bytes": nbytes,
        "search_local_ms_per_query": {c: summary(v) for c, v in ms_q.items()},
        "save_s": {c: summary(v) for c, v in save_s.items()},
        "load_avg": [round(v, 2) for v in os.getloadavg()],
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

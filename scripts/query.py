#!/usr/bin/env python3
"""spark-submit entry point: top-k query serving over a built index.

    spark-submit --py-files fts.zip scripts/query.py \
        --index /path/to/index_root/index --queries /path/to/query_dir \
        [--k 10 --scoring bm25 --path wand --output results_dir]

``--queries`` is a directory of .txt files, one query per line, id = file
stem (reference FileIterator semantics). Results print as
``query|rank|doc_id|score|`` (reference main.cpp:80-85) and optionally write
to ``--output`` as a .tbl-style text directory.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True, help="compressed index dir (…/index)")
    ap.add_argument("--queries", required=True, help="directory of .txt query files")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--scoring", choices=["bm25", "tfidf"], default="bm25")
    ap.add_argument("--path", choices=["wand", "exhaustive"], default="wand")
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--output", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import load_compressed_index
    from fulltextsearch_spark.operators.index_build import logical_index
    from fulltextsearch_spark.operators.query import search
    from fulltextsearch_spark.operators.wand import search_wand
    from fulltextsearch_spark.session import get_spark
    from fulltextsearch_spark.sources.queries import read_query_dir, write_results_tbl

    spark = get_spark(app_name="fts-query", master=args.master)
    cidx = load_compressed_index(spark, args.index)
    cfg = EngineConfig(k1=cidx.k1, b=cidx.b, k=args.k, stem=not args.no_stem)
    qdir = read_query_dir(spark, args.queries)
    # search on the per-line unique id (reference runs each line separately
    # even when file stems collide), report under the file-stem display id.
    queries = qdir.select(
        qdir["query_uid"].alias("query_id"), "content"
    )
    display = {r["query_uid"]: r["query_id"] for r in qdir.collect()}

    t0 = time.perf_counter()
    if args.path == "wand":
        results = search_wand(cidx, queries, cfg, scoring=args.scoring)
    else:
        results = search(logical_index(cidx), queries, cfg, scoring=args.scoring)
    rows = results.orderBy("query_id", "rank").collect()
    elapsed = time.perf_counter() - t0

    out_rows = [
        (display.get(r["query_id"], r["query_id"]), r["rank"], r["doc_id"], r["score"])
        for r in rows
    ]
    for qid, rank, doc_id, score in out_rows:
        print(f"{qid}|{rank}|{doc_id}|{score}|")
    n_queries = len(display)
    print(
        f"# {n_queries} queries in {elapsed:.3f}s "
        f"({elapsed / max(n_queries, 1) * 1000:.1f} ms/query, path={args.path})",
        file=sys.stderr,
    )
    if args.output:
        write_results_tbl(
            spark.createDataFrame(out_rows, "query_id STRING, rank LONG, doc_id LONG, score DOUBLE"),
            args.output,
        )
    spark.stop()


if __name__ == "__main__":
    main()

"""Query-dir source (S2) and result sink (S4) parity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fulltextsearch_spark.sources.queries import read_query_dir, write_results_tbl


def test_read_query_dir_semantics(spark, tmp_path):
    qdir = tmp_path / "queries"
    qdir.mkdir()
    # two lines share the file-stem id; trailing newline adds no empty query
    (qdir / "eval.txt").write_text("cat salmon\nrunning quickly\n")
    (qdir / "head.txt").write_text("http www com")  # no trailing newline
    (qdir / "notes.md").write_text("ignored — not .txt")

    rows = sorted(
        (r["query_id"], r["content"], r["query_uid"])
        for r in read_query_dir(spark, str(qdir)).collect()
    )
    assert rows == [
        ("eval", "cat salmon", "eval#0"),
        ("eval", "running quickly", "eval#1"),
        ("head", "http www com", "head#0"),
    ]


def test_read_query_dir_empty(spark, tmp_path):
    d = tmp_path / "noqueries"
    d.mkdir()
    assert read_query_dir(spark, str(d)).count() == 0


def test_write_results_tbl_format(spark, tmp_path):
    df = spark.createDataFrame(
        [("q1", 2, 7, 1.5), ("q1", 1, 3, 2.25)],
        "query_id STRING, rank LONG, doc_id LONG, score DOUBLE",
    )
    out = str(tmp_path / "res")
    write_results_tbl(df, out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    lines = open(os.path.join(out, parts[0])).read().splitlines()
    # reference line format query|rank|doc_id|score| (main.cpp:80-85), rank order
    assert lines == ["q1|1|3|2.25|", "q1|2|7|1.5|"]


def test_dense_ids_bucket_partition_steering(spark):
    """Each id-assignment bucket must land in its OWN shuffle partition.

    Regression: repartition(n, col) hashes the key — a raw bucket id (or an
    IntegerType steering key: Spark hashes int32 and int64 differently)
    collides buckets into shared partitions, leaving empty tasks and
    double-size stragglers. The Murmur3-steered LongType keys must give a
    balanced bijection.
    """
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids

    n_buckets = 8
    df = spark.createDataFrame([(f"u{i:05d}", "x") for i in range(4000)], ["url", "text"])
    out = assign_dense_doc_ids(df, order_col="url", num_partitions=n_buckets)
    pid_rows = out.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").count().collect()
    sizes = sorted(r["count"] for r in pid_rows)
    # all n_buckets partitions occupied, each with one ~4000/8 bucket
    assert len(sizes) == n_buckets
    assert sizes[0] > 0
    assert sizes[-1] <= 2 * (4000 // n_buckets)
    # ids are dense and url-ordered
    ids = [r["doc_id"] for r in out.orderBy("url").collect()]
    assert ids == list(range(4000))


def test_io_seam_parquet_fallback_round_trip(spark, tmp_path):
    """write_table/read_table fall back to parquet directories when no
    Iceberg runtime is on the classpath and round-trip a table."""
    from fulltextsearch_spark.sources.io import iceberg_available, read_table, write_table

    assert iceberg_available(spark) is False  # sandbox: parquet fallback path
    df = spark.createDataFrame(
        [(0, "spark index search"), (1, "search engine spark"), (2, "unrelated words here")],
        "doc_id LONG, text STRING",
    )
    root = str(tmp_path / "tbl")
    write_table(df, root)
    back = read_table(spark, root)
    assert back.schema == df.schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_quality_metrics_script(tmp_path):
    """J5: result-intersection metrics match the reference semantics
    (qualityMetrics.py:10-31) — match count + sum |Δscore| over shared docs."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "quality_metrics",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "quality_metrics.py"),
    )
    qm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qm)

    a = tmp_path / "a.tbl"
    b = tmp_path / "b.tbl"
    a.write_text("q1|1|10|2.5|\nq1|2|11|1.5|\nq2|1|20|9.0|\n")
    b.write_text("q1|1|10|2.0|\nq1|2|12|1.0|\nq2|1|20|9.25|\n")
    m = qm.compare(str(a), str(b))
    assert m["matches"] == 2
    assert abs(m["sum_abs_diff"] - 0.75) < 1e-12
    assert m["only_in_1"] == 1 and m["only_in_2"] == 1
    assert m["per_query"]["q2"]["matches"] == 1

    # reference CSV format (docId,score — no query column)
    c = tmp_path / "c.csv"
    d = tmp_path / "d.csv"
    c.write_text("10,2.5\n11,1.5\n")
    d.write_text("10,2.0\n12,7.0\n")
    m2 = qm.compare(str(c), str(d))
    assert m2["matches"] == 1 and abs(m2["sum_abs_diff"] - 0.5) < 1e-12


def test_assign_file_order_doc_ids(spark, tmp_path):
    """Zero-shuffle file-order ids: dense 0..N-1, stable across partitioning,
    offsets from parquet footers + _metadata.row_index (path normalization
    between inputFiles and _metadata pinned here)."""
    from fulltextsearch_spark.sources.ingest import assign_file_order_doc_ids
    from fulltextsearch_spark.sources.webpages import generate_webpages

    path = str(tmp_path / "corpus")
    generate_webpages(spark, 250, seed=9).repartition(7).write.mode("overwrite").parquet(path)

    docs = assign_file_order_doc_ids(spark, path, columns=["url", "text"])
    rows = docs.collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(250))  # dense, none dropped by the path join
    # deterministic: same ids for the same file set on a second derivation
    again = {r["url"]: r["doc_id"] for r in assign_file_order_doc_ids(
        spark, path, columns=["url"]).collect()}
    assert {r["url"]: r["doc_id"] for r in rows} == again


def test_build_compressed_index_files_matches_two_pass_scores(spark, tmp_path):
    """The zero-shuffle file-order build must produce the same corpus stats
    and (id-free) ranked query results as the url-ordered two-pass build —
    ids are a permutation, scores are not."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        build_compressed_index_pyfiles,
    )
    from fulltextsearch_spark.operators.wand import search_wand
    from fulltextsearch_spark.sources.ingest import assign_dense_doc_ids
    from fulltextsearch_spark.sources.webpages import QUERY_SET, generate_webpages

    path = str(tmp_path / "corpus")
    generate_webpages(spark, 300, seed=13).repartition(4).write.mode("overwrite").parquet(path)
    cfg = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)

    by_files = build_compressed_index_pyfiles(spark, path, cfg)
    by_url = build_compressed_index(
        spark,
        assign_dense_doc_ids(spark.read.parquet(path).select("url", "text"), "url"),
        cfg,
    )
    assert by_files.n_docs == by_url.n_docs == 300
    assert abs(by_files.avgdl - by_url.avgdl) < 1e-12

    qdf = spark.createDataFrame(QUERY_SET, ["query_id", "content"])

    def id_free(idx):
        return sorted(
            (r["query_id"], r["rank"], round(r["score"], 9))
            for r in search_wand(idx, qdf, cfg).collect()
        )

    assert id_free(by_files) == id_free(by_url)


def test_build_compressed_index_pyfiles_identical(spark, tmp_path):
    """The python-reader build must produce an index IDENTICAL to the
    DataFrame build over the JVM scan with file-order ids — same doc_ids
    (sorted-file order), same compressed posting rows, same stats — not
    merely rank-identical."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        build_compressed_index_pyfiles,
    )
    from fulltextsearch_spark.sources.ingest import assign_file_order_doc_ids
    from fulltextsearch_spark.sources.webpages import generate_webpages

    path = str(tmp_path / "corpus")
    generate_webpages(spark, 300, seed=17).repartition(4).write.mode("overwrite").parquet(path)
    cfg = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)

    jvm = build_compressed_index(
        spark, assign_file_order_doc_ids(spark, path, columns=["text"]), cfg
    )
    pyf = build_compressed_index_pyfiles(spark, path, cfg, batch_rows=97)
    assert pyf.n_docs == jvm.n_docs == 300
    assert abs(pyf.avgdl - jvm.avgdl) < 1e-12

    cols = ["term", "df", "count", "doc_ids_enc", "tfs_enc", "dls_enc",
            "block_first_doc", "block_max_tf"]

    def rows(idx):
        return sorted(
            tuple(r[c] for c in cols) for r in idx.postings.select(*cols).collect()
        )

    assert rows(pyf) == rows(jvm)
    ds = lambda idx: sorted(
        (r["doc_id"], r["dl"]) for r in idx.doc_stats.collect()
    )
    assert ds(pyf) == ds(jvm)


def test_pyfiles_map_tasks_follow_scan_partitions(spark, tmp_path):
    """The path-in build plans one map task per partition of Spark's own
    scan of the corpus, capped at one task per row group; the persisted
    partials, and so ``doc_stats``, keep that partition count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index_pyfiles,
    )

    path = tmp_path / "corpus"
    path.mkdir()
    n_row_groups = 0
    for f in range(3):
        texts = [f"alpha beta doc{f}x{i} gamma" for i in range(40)]
        pq.write_table(
            pa.table({"text": texts}), str(path / f"part-{f}.parquet"), row_group_size=10
        )
        n_row_groups += 4
    cfg = EngineConfig(block_size=32)

    def tasks_and_scan():
        idx = build_compressed_index_pyfiles(spark, str(path), cfg)
        assert idx.n_docs == 120
        return (
            idx.doc_stats.rdd.getNumPartitions(),
            spark.read.parquet(str(path)).rdd.getNumPartitions(),
        )

    tasks, scan = tasks_and_scan()
    assert scan < n_row_groups  # small files: the scan packs them per core
    assert tasks == scan
    # byte-sized splits finer than the row groups: one task per row group
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    try:
        for k in keys:
            spark.conf.set(k, "256")
        tasks, scan = tasks_and_scan()
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    assert scan > n_row_groups
    assert tasks == n_row_groups


def test_build_compressed_index_empty_corpus(spark, tmp_path):
    """Zero input rows: both build entry points give n_docs 0, avgdl 0.0 and
    no postings rows."""
    from fulltextsearch_spark.config import EngineConfig
    from fulltextsearch_spark.operators.compressed_index import (
        build_compressed_index,
        build_compressed_index_pyfiles,
    )

    cfg = EngineConfig(block_size=32)
    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "empty")
    empty.select("text").write.mode("overwrite").parquet(path)

    for idx in (
        build_compressed_index(spark, empty, cfg),
        build_compressed_index_pyfiles(spark, path, cfg),
    ):
        assert idx.n_docs == 0
        assert idx.avgdl == 0.0
        assert idx.postings.count() == 0


# --- WARC source -------------------------------------------------------------


def test_warc_roundtrip_and_content_length_framing(spark):
    """Multi-record blobs parse by Content-Length — including a payload that
    CONTAINS the record separator — and non-response records drop."""
    import datetime as dt

    from fulltextsearch_spark.sources.warc import (
        parse_warc,
        warc_record_bytes,
    )

    ts = dt.datetime(2024, 5, 1, 12, 0, 0)
    trap = b"<html>first\r\n\r\nsecond</html>"  # separator INSIDE the payload
    r1 = warc_record_bytes("https://a.test/1", ts, trap)
    r2 = warc_record_bytes("https://b.test/2", ts, "<p>café</p>".encode())
    warcinfo = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"
    )
    blob = r1 + warcinfo + r2  # one segment file, three records
    df = spark.createDataFrame([(blob,)], "content BINARY")
    rows = sorted(parse_warc(df).collect(), key=lambda r: r["url"])
    assert [r["url"] for r in rows] == ["https://a.test/1", "https://b.test/2"]
    assert bytes(rows[0]["html"]) == trap
    assert bytes(rows[1]["html"]).decode() == "<p>café</p>"
    assert rows[0]["warc_ts"] == ts


def test_warc_synth_matches_scalar_builder(spark):
    import datetime as dt

    from fulltextsearch_spark.sources.warc import (
        synth_warc_records,
        warc_record_bytes,
    )

    rows = [
        (f"https://x.test/{i}", dt.datetime(2024, 1, 1, 0, 0, i),
         f"<html>{i}</html>".encode())
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "url STRING, warc_ts TIMESTAMP, html BINARY")
    got = sorted(bytes(r["content"]) for r in synth_warc_records(df).collect())
    want = sorted(warc_record_bytes(u, t, h) for u, t, h in rows)
    assert got == want


def test_warc_parse_feeds_extraction(spark):
    """The full ingest leg: WARC bytes -> parse -> extract -> text."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fulltextsearch_spark.operators.extract import extract_pages
    from fulltextsearch_spark.sources.warc import parse_warc, warc_record_bytes

    ts = dt.datetime(2024, 2, 2)
    recs = b"".join(
        warc_record_bytes(
            f"https://s.test/{i}", ts, f"<html><body>doc {i} words</body></html>".encode()
        )
        for i in range(4)
    )
    df = spark.createDataFrame([(recs,)], "content BINARY")
    out = extract_pages(parse_warc(df), out_col="text")
    got = {r["url"]: r["text"] for r in out.collect()}
    assert got == {f"https://s.test/{i}": f"doc {i} words" for i in range(4)}


def test_warc_malformed_content_length_quarantines_not_raises(spark):
    """A record with an unparseable or negative Content-Length must not
    poison the whole mapInPandas batch: records before it still parse and
    the walk stops at the unframeable record instead of raising."""
    import datetime as dt

    from fulltextsearch_spark.sources.warc import parse_warc, warc_record_bytes

    ts = dt.datetime(2024, 5, 1, 12, 0, 0)
    good = warc_record_bytes("https://ok.test/1", ts, b"<html>fine</html>")
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.test/2\r\n"
        b"WARC-Date: 2024-05-01T12:00:00Z\r\n"
        b"Content-Length: 12abc\r\n\r\n<html>x</html>\r\n\r\n"
    )
    neg = bad.replace(b"12abc", b"-7")
    df = spark.createDataFrame(
        [(good + bad,), (good + neg,)], "content BINARY"
    )
    rows = parse_warc(df).collect()
    assert sorted(r["url"] for r in rows) == ["https://ok.test/1"] * 2


def test_iceberg_round_trip_when_jars_present(tmp_path):
    """Iceberg-format integration: gated on SPARK_GRAFT_ICEBERG_JAR (absent
    in this sandbox, free on the first cluster with the runtime jar). Builds
    a session with a local hadoop catalog, writes the web-page table via the
    io seam, reads it back, and round-trips a small index."""
    import os

    import pytest

    jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if not jar:
        pytest.skip("set SPARK_GRAFT_ICEBERG_JAR=/path/to/iceberg-spark-runtime.jar")
    from pyspark.sql import SparkSession

    from fulltextsearch_spark.sources.io import (
        iceberg_available,
        read_table,
        write_table,
    )

    wh = str(tmp_path / "warehouse")
    spark = (
        SparkSession.builder.appName("iceberg-it")
        .master("local[2]")
        .config("spark.jars", jar)
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", wh)
        .getOrCreate()
    )
    try:
        assert iceberg_available(spark)
        from fulltextsearch_spark.sources.webpages import generate_webpages

        pages = generate_webpages(spark, 50, seed=3, num_partitions=2)
        write_table(pages, "local.db.pages", fmt="iceberg")
        back = read_table(spark, "local.db.pages", fmt="iceberg")
        assert back.count() == 50
        assert sorted(back.columns) == sorted(pages.columns)
    finally:
        spark.stop()


def test_bursty_corpus_deterministic_and_dispersed():
    """The WAND-bench corpus variant is byte-deterministic per (n, seed) —
    bench caches and driver reruns must agree — and actually carries the
    dispersion it exists for: within-doc tf bursts and a query-term df
    spread of >=2 orders of magnitude (salmon common, fresh rare)."""
    import collections

    from fulltextsearch_spark.sources.webpages import generate_webpages_pdf

    a = generate_webpages_pdf(3000, seed=5, bursty=True)
    b = generate_webpages_pdf(3000, seed=5, bursty=True)
    assert a.equals(b)
    c = generate_webpages_pdf(3000, seed=6, bursty=True)
    assert not a["text"].equals(c["text"])

    df = collections.Counter()
    max_tf = 0
    for text in a["text"]:
        toks = text.split()
        counts = collections.Counter(toks)
        max_tf = max(max_tf, max(counts.values()))
        df.update(set(toks))
    assert max_tf >= 6  # deep bursts present
    # spread dfs: a common query term dwarfs a rare one
    assert df["salmon"] > 50 * max(df["fresh"], 1)
    # lognormal lengths: doc length spread beyond the flat 20-120 band
    lens = a["text"].str.count(" ") + 1
    assert lens.min() < 20 and lens.max() > 200

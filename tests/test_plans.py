"""Physical-plan hygiene: the plans Catalyst produces are the ones we want
at 100 TB — column pruning reaches the scan (never read `html` in the index
path), predicate pushdown works, the query side broadcasts, and per-query
top-k compiles to the rank-pushdown window (WindowGroupLimit).
"""

from __future__ import annotations

import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    build_compressed_index,
    build_compressed_index_pyfiles,
)
from fulltextsearch_spark.operators.index_build import build_index, doc_term_frequencies
from fulltextsearch_spark.operators.query import search
from fulltextsearch_spark.operators.wand import search_wand
from fulltextsearch_spark.sources.ingest import (
    assign_dense_doc_ids,
    assign_file_order_doc_ids,
)
from fulltextsearch_spark.sources.webpages import generate_webpages


@pytest.fixture(scope="module")
def web_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("web_plan"))
    generate_webpages(spark, 200, seed=41).write.mode("overwrite").parquet(path)
    return path


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_index_scan_never_reads_html(spark, web_dir):
    docs = assign_dense_doc_ids(
        spark.read.parquet(web_dir).select("url", "text"), order_col="url"
    )
    plan = _plan(doc_term_frequencies(docs))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    for line in scan:
        assert "html" not in line and "warc_ts" not in line, line
        assert "text" in line


def test_lang_filter_pushes_down(spark, web_dir):
    df = spark.read.parquet(web_dir).filter("lang = 'en'").select("url")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_query_side_broadcasts(spark, web_dir):
    docs = assign_dense_doc_ids(
        spark.read.parquet(web_dir).select("url", "text"), order_col="url"
    )
    cfg = EngineConfig(k=5)
    idx = build_index(spark, docs, cfg, persist=False)
    qdf = spark.createDataFrame([("q", "cat salmon")], ["query_id", "content"])
    plan = _plan(search(idx, qdf, cfg))
    assert "BroadcastExchange" in plan, plan
    # postings (the big side) must NOT be the broadcast side; the exchange
    # carries the tokenized query terms
    cidx = build_compressed_index(spark, docs, cfg)
    wplan = _plan(search_wand(cidx, qdf, cfg))
    assert "BroadcastExchange" in wplan, wplan


def test_topk_compiles_to_window_group_limit(spark, web_dir):
    docs = assign_dense_doc_ids(
        spark.read.parquet(web_dir).select("url", "text"), order_col="url"
    )
    cfg = EngineConfig(k=5)
    idx = build_index(spark, docs, cfg, persist=False)
    qdf = spark.createDataFrame([("q", "cat salmon"), ("r", "fish river")], ["query_id", "content"])
    plan = _plan(search(idx, qdf, cfg))
    assert "WindowGroupLimit" in plan, plan


def test_tokenize_is_arrow_batched(spark, web_dir):
    docs = assign_dense_doc_ids(
        spark.read.parquet(web_dir).select("url", "text"), order_col="url"
    )
    plan = _plan(doc_term_frequencies(docs))
    # pandas_udf shows as ArrowEvalPython, mapInArrow as (Python)MapInArrow;
    # a row-Python BatchEvalPython would mean someone snuck in a per-row UDF
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_compressed_build_python_stages_are_arrow_only(spark, web_dir):
    """Both compressed-build entry points cross the Python boundary only
    through mapInArrow (map pack and merge), never through pandas. The
    DataFrame-in build gets file-order ids, whose assignment runs in the
    JVM, so every Python stage in its plan is the build's own."""
    docs = assign_file_order_doc_ids(spark, web_dir, columns=["text"])
    cfg = EngineConfig()
    for idx in (
        build_compressed_index(spark, docs, cfg),
        build_compressed_index_pyfiles(spark, web_dir, cfg),
    ):
        plan = _plan(idx.postings)
        assert "MapInArrow" in plan, plan
        assert "MapInPandas" not in plan, plan


def test_build_index_postings_are_the_compressed_build_decoded(spark, web_dir):
    """The logical index is the compressed build plus one mapInArrow
    decode: no pandas stage, no per-row Arrow UDF, no collect_list
    aggregation of postings."""
    docs = assign_file_order_doc_ids(spark, web_dir, columns=["text"])
    plan = _plan(build_index(spark, docs, EngineConfig(), persist=False).postings)
    assert "MapInArrow" in plan, plan
    for banned in ("MapInPandas", "ArrowEvalPython", "collect_list"):
        assert banned not in plan, plan


def test_compressed_delete_is_one_arrow_decode_and_repack(spark, web_dir, tmp_path):
    """Compacting a compressed index decodes, drops and re-packs through
    mapInArrow only: no pandas or row-Python stage and no collect_list
    regroup of postings."""
    import re

    from fulltextsearch_spark.operators.compressed_index import (
        load_compressed_index,
        save_compressed_index,
    )
    from fulltextsearch_spark.operators.deletes import delete_docs_compressed

    docs = assign_file_order_doc_ids(spark, web_dir, columns=["text"])
    cfg = EngineConfig()
    save_compressed_index(build_compressed_index(spark, docs, cfg), str(tmp_path / "idx"))
    cidx = load_compressed_index(spark, str(tmp_path / "idx"))
    deleted = spark.range(0, 200, 7).withColumnRenamed("id", "doc_id")
    plan = _plan(delete_docs_compressed(cidx, deleted, cfg).postings)
    python_stages = set(re.findall(r"\b\w*(?:Python|Pandas|InArrow)\w*\b", plan))
    assert python_stages and python_stages <= {"MapInArrow", "PythonMapInArrow"}, plan
    for banned in ("collect_list", "ObjectHashAggregate"):
        assert banned not in plan, plan


def test_wand_scoring_is_one_arrow_group_per_query(spark, web_dir, tmp_path):
    """Both Spark scoring paths (search_wand over a built index and
    QueryServer.search over a saved one) hand each query's posting rows to
    the kernel as one Arrow group, never through pandas."""
    from fulltextsearch_spark.operators.compressed_index import save_compressed_index
    from fulltextsearch_spark.operators.serving import QueryServer

    docs = assign_file_order_doc_ids(spark, web_dir, columns=["text"])
    cfg = EngineConfig(k=5)
    cidx = build_compressed_index(spark, docs, cfg)
    save_compressed_index(cidx, str(tmp_path / "idx"))
    queries = [("q", "cat salmon"), ("r", "fish river")]
    qdf = spark.createDataFrame(queries, ["query_id", "content"])
    for df in (
        search_wand(cidx, qdf, cfg),
        QueryServer.load(spark, str(tmp_path / "idx")).search(queries, cfg),
    ):
        plan = _plan(df)
        assert "FlatMapGroupsInArrow" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan


def test_vsm_query_plan_reuses_norms_and_joins_before_explode(spark, web_dir):
    """With build-time norms, the VSM query plan must not re-aggregate norms
    (their build-time explode may not reappear) and must unnest posting
    arrays only AFTER the broadcast join with query terms — a Generate over
    the raw postings would be a full-corpus explode per query batch."""
    from fulltextsearch_spark.operators.vsm import build_vsm, search_vsm

    docs = assign_dense_doc_ids(
        spark.read.parquet(web_dir).select("url", "text"), order_col="url"
    )
    cfg = EngineConfig(k=5)
    idx = build_index(spark, docs, cfg, persist=True)  # production shape
    idx.postings.count()
    vsm = build_vsm(idx, persist=True)
    vsm.norms.count()  # materialize the build artifact
    try:
        qdf = spark.createDataFrame([("q", "cat salmon")], ["query_id", "content"])
        plan = _plan(search_vsm(vsm, qdf, cfg))
        # look at the live query spine only — everything below the first
        # InMemoryRelation is the *stored* build lineage of a cached table,
        # not work this query performs
        spine = plan.split("InMemoryRelation", 1)[0].splitlines()
        # exactly ONE explode on the spine (the post-join dot products); the
        # norms aggregation comes from the cached build artifact
        gens = [i for i, l in enumerate(spine) if "Generate" in l]
        assert len(gens) == 1, plan
        assert any("InMemoryTableScan" in l for l in spine), plan
        # that explode's input subtree is the broadcast join with the query
        # terms (postings only unnest after the join), not the raw postings
        assert any(
            "BroadcastHashJoin" in l for l in spine[gens[0] + 1 : gens[0] + 4]
        ), plan
    finally:
        vsm.norms.unpersist()


def test_no_unpartitioned_windows_in_package_source():
    """Tripwire: a window spec that starts with Window.orderBy(...) is a
    single-partition WindowExec at corpus scale (Spark logs 'No Partition
    Defined for Window operation'). Every window in the package must start
    from Window.partitionBy; global cumulations decompose into banded
    offsets + partitioned windows (chunking._pack_map, textstats
    vocab_stats)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "fulltextsearch_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"Window\s*\.\s*orderBy\s*\(", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{py.name}:{line}")
    assert not offenders, f"unpartitioned Window specs: {offenders}"


def test_pack_map_level1_window_is_partitioned(spark):
    """The pack-map bucket cumulation must keep its level-1 window
    partitioned by band — the executed plan's Window nodes all carry a
    partition spec (no 'Window [...], [bucket ASC ...]' without one)."""
    from fulltextsearch_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(
        [(i, f"tok{i} " * (i % 7 + 1)) for i in range(50)], "doc_id LONG, text STRING"
    )
    plan = _plan(pack_sequences(df, seq_len=8, bucket_span=16))
    for line in plan.splitlines():
        ls = line.strip()
        if ls.startswith("Window ["):
            # formatted-plan Window line: Window [funcs], [partition], [order]
            assert ls.count("], [") >= 2, f"unpartitioned window: {ls}"

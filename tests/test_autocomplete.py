"""Prefix autocomplete: popularity ranking and determinism."""

from __future__ import annotations

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.autocomplete import autocomplete
from fulltextsearch_spark.operators.index_build import build_index

CFG = EngineConfig(stem=False)

TEXTS = [
    "sparkling sparse sparrow spark",
    "spark sparkling rivers",
    "spark sparta",
    "quantum quart",
    "quart quince",
]


def _idx(spark):
    docs = spark.createDataFrame(list(enumerate(TEXTS)), ["doc_id", "text"])
    return build_index(spark, docs, CFG, persist=False)


def test_ranked_by_df_then_term(spark):
    pfx = spark.createDataFrame([("a", "spar"), ("b", "qu")], ["query_id", "prefix"])
    rows = autocomplete(_idx(spark), pfx, k=3).collect()
    got = {(r["query_id"], r["rank"]): (r["term"], r["df"]) for r in rows}
    # spark df=3, sparkling df=2, then ties at df=1 break on term ASC
    assert got[("a", 1)] == ("spark", 3)
    assert got[("a", 2)] == ("sparkling", 2)
    assert got[("a", 3)] == ("sparrow", 1)  # sparrow < sparse < sparta
    assert got[("b", 1)] == ("quart", 2)
    assert {q for q, _ in got} == {"a", "b"}


def test_no_match_yields_no_rows_and_k_caps(spark):
    idx = _idx(spark)
    pfx = idx.postings.sparkSession.createDataFrame(
        [("z", "zz"), ("s", "s")], ["query_id", "prefix"]
    )
    rows = autocomplete(idx, pfx, k=2).collect()
    assert all(r["query_id"] != "z" for r in rows)
    assert sum(1 for r in rows if r["query_id"] == "s") == 2

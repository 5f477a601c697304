"""Fault injection on a saved index: what the engine cannot read, it refuses
loudly rather than answering with wrong scores."""

from __future__ import annotations

import os

import pytest

from fulltextsearch_spark.config import EngineConfig
from fulltextsearch_spark.operators.compressed_index import (
    build_compressed_index,
    load_compressed_index,
    save_compressed_index,
)
from fulltextsearch_spark.operators.serving import QueryServer
from fulltextsearch_spark.sources.webpages import generate_webpages_pdf

CFG = EngineConfig(k1=1.2, b=0.75, k=10, block_size=32)


@pytest.fixture(scope="module")
def cindex(spark):
    pdf = generate_webpages_pdf(60, seed=5)[["text"]]
    pdf.insert(0, "doc_id", range(len(pdf)))
    return build_compressed_index(spark, spark.createDataFrame(pdf), CFG)


def test_unknown_codec_fails_loudly(spark, cindex, tmp_path):
    """An index whose corpus_stats names a codec this engine has no decoder
    for (here 'ef') would be misread as varint; both loaders raise instead,
    and saving under such a codec raises before anything is written."""
    root = str(tmp_path / "idx")
    save_compressed_index(cindex, root)
    stats = spark.read.parquet(f"{root}/corpus_stats").collect()
    spark.createDataFrame(
        [tuple({**row.asDict(), "codec": "ef"}.values()) for row in stats],
        spark.read.parquet(f"{root}/corpus_stats").schema,
    ).write.mode("overwrite").parquet(f"{root}/corpus_stats")
    assert spark.read.parquet(f"{root}/corpus_stats").collect()[0]["codec"] == "ef"

    with pytest.raises(ValueError, match="'ef'"):
        load_compressed_index(spark, root)
    with pytest.raises(ValueError, match="'ef'"):
        QueryServer.load(spark, root)

    other = str(tmp_path / "ef")
    with pytest.raises(ValueError, match="'ef'"):
        save_compressed_index(cindex, other, codec="ef")
    assert not os.path.exists(other)

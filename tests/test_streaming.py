"""Structured-Streaming ingestion into the incremental index
(blacklab_spark/streaming.py; reference analogue: live add of docs on
an open index, index/IndexerImpl.java)."""

import pandas as pd
import pytest

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.streaming import index_stream, stream_transcripts


def _wave(spark, conv_base: int, n: int, marker: str):
    from datetime import datetime

    rows = [
        (
            f"s{conv_base + i:06d}",
            0,
            "user",
            f"{marker} stream turn number {i}",
            "",
            datetime(2024, 6, 1),
        )
        for i in range(n)
    ]
    # canonical transcript shape (turn_idx is int32 in the contract)
    from blacklab_spark.streaming import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


@pytest.mark.filterwarnings("ignore")
def test_stream_indexes_new_files(spark, tmp_path):
    idx = str(tmp_path / "sidx")
    src = str(tmp_path / "ssrc")
    ckpt = str(tmp_path / "sckpt")
    # initial batch index
    corpus = Corpus.build(
        spark,
        _wave(spark, 0, 20, "alpha"),
        idx,
        EngineConfig(segment_size=8, block_size=4),
    )
    assert corpus.find('"alpha"').count() == 20

    # wave 1 arrives in the stream source
    _wave(spark, 100, 12, "bravo").write.mode("append").parquet(src)
    q = index_stream(stream_transcripts(spark, src), idx, ckpt)
    q.awaitTermination(120)
    corpus2 = Corpus.open(spark, idx)
    assert corpus2.meta["n_docs"] == 32
    assert corpus2.find('"bravo"').count() == 12
    assert corpus2.find('"alpha"').count() == 20
    # the handle opened before the stream sees the appended generation
    assert corpus.meta["n_docs"] == 32
    assert corpus.find('"bravo"').count() == 12

    # wave 2: checkpoint must skip already-processed files
    _wave(spark, 200, 5, "charlie").write.mode("append").parquet(src)
    q2 = index_stream(stream_transcripts(spark, src), idx, ckpt)
    q2.awaitTermination(120)
    corpus3 = Corpus.open(spark, idx)
    assert corpus3.meta["n_docs"] == 37
    assert corpus3.find('"charlie"').count() == 5
    assert corpus3.find('"bravo"').count() == 12
    # BM25 sees streamed docs
    top = corpus3.topk("charlie stream", k=3)
    assert top.count() == 3
    assert corpus.status()["n_docs"] == 37
    assert corpus.find('"charlie"').count() == 5
    assert corpus.topk("charlie stream", k=3).collect() == top.collect()

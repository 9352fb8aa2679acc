"""Incremental index maintenance tests — the analogue of the
reference's TestDeleteDocument / IndexerImpl add-to-existing-index
behavior, plus resumable-build markers."""

import os

import pytest
from pyspark.sql import functions as F

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.index.incremental import (
    add_documents,
    compact,
    delete_documents,
    load_deletes,
)
from blacklab_spark.oracle import OracleIndex
from blacklab_spark.synth import generate_pandas


@pytest.fixture(scope="module")
def incr_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("incr") / "idx")
    pdf = generate_pandas(600, seed=7)
    corpus = Corpus.build(
        spark, spark.createDataFrame(pdf), d, EngineConfig(segment_size=256, block_size=16)
    )
    return d, pdf


def test_add_documents(spark, incr_idx):
    d, pdf = incr_idx
    extra = generate_pandas(200, seed=8, start_conv=50_000)
    meta = add_documents(spark, d, spark.createDataFrame(extra))
    assert meta["n_docs"] == 800
    assert meta["generation"] == 1

    corpus = Corpus.open(spark, d)
    # combined corpus must be rank-identical to an oracle over all rows
    import pandas as pd

    allrows = pd.concat([pdf, extra], ignore_index=True)
    oracle = OracleIndex.from_rows(allrows.to_dict("records"))
    # doc_id mapping differs (delta starts at a segment boundary), so
    # compare by (conv_id, turn_idx) identity and score
    got = corpus.topk("word00001 word00050", k=5).collect()
    exp = oracle.bm25_topk("word00001 word00050", k=5)
    exp_keys = [
        (oracle.docs[i]["conv_id"], oracle.docs[i]["turn_idx"]) for i, _ in exp
    ]
    got_keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert got_keys == exp_keys
    for r, (_, s) in zip(got, exp):
        assert abs(r["score"] - s) < 1e-9

    # new docs are searchable via spans too
    h = corpus.find('"word00001"')
    assert h.count() == len(oracle.term_hits("word00001"))


def test_delete_and_query(spark, incr_idx):
    d, pdf = incr_idx
    corpus = Corpus.open(spark, d)
    # delete every doc of one conversation
    victim = corpus.doc_stats.filter(F.col("conv_id") == "conv000000000000").select("doc_id")
    n_victims = victim.count()
    assert n_victims > 0
    n = delete_documents(spark, d, victim)
    assert n == n_victims
    dels = load_deletes(spark, d)
    assert dels.count() == n_victims

    # topk must never return tombstoned docs
    top = corpus.topk("word00001 word00050", k=10)
    assert top.filter(F.col("conv_id") == "conv000000000000").count() == 0

    # span queries must not return tombstoned docs
    h = corpus.find('"word00001"')
    live = h.df.join(corpus.doc_stats, "doc_id").filter(
        F.col("conv_id") == "conv000000000000"
    )
    assert live.count() == 0


def test_compact(spark, incr_idx):
    d, pdf = incr_idx
    pre = Corpus.open(spark, d)
    n_before = pre.meta["n_docs"]
    dels = load_deletes(spark, d).count()
    meta = compact(spark, d)
    assert meta["n_docs"] == n_before - dels
    assert load_deletes(spark, d) is None

    corpus = Corpus.open(spark, d)
    # deleted conversation is really gone from all tables
    assert corpus.doc_stats.filter(F.col("conv_id") == "conv000000000000").count() == 0
    assert corpus.tokenized.filter(F.col("conv_id") == "conv000000000000").count() == 0

    # stats now reflect live docs only; scores match a fresh oracle
    import pandas as pd

    extra = generate_pandas(200, seed=8, start_conv=50_000)
    allrows = pd.concat([pdf, extra], ignore_index=True)
    allrows = allrows[allrows["conv_id"] != "conv000000000000"]
    oracle = OracleIndex.from_rows(allrows.to_dict("records"))
    got = corpus.topk("word00001 word00050", k=5).collect()
    exp = oracle.bm25_topk("word00001 word00050", k=5)
    exp_keys = [
        (oracle.docs[i]["conv_id"], oracle.docs[i]["turn_idx"]) for i, _ in exp
    ]
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == exp_keys
    for r, (_, s) in zip(got, exp):
        assert abs(r["score"] - s) < 1e-9

    # lineage rows recorded for both operations
    lin = corpus.segments_meta
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"add_documents", "compact"} <= stages


def test_resume_skips_stages(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume") / "idx")
    pdf = generate_pandas(300, seed=9)
    df = spark.createDataFrame(pdf)
    cfg = EngineConfig(segment_size=128, block_size=16)
    Corpus.build(spark, df, d, cfg)
    # mtimes of stage outputs must survive a resumed rebuild
    tok_marker = os.path.join(d, "tokenized", "_STAGE_DONE")
    m0 = os.path.getmtime(tok_marker)
    Corpus.build(spark, df, d, cfg, resume=True)
    assert os.path.getmtime(tok_marker) == m0


def test_incremental_equals_fresh_rebuild(spark, tmp_path_factory):
    """End-to-end equivalence: an index maintained through add ->
    delete -> compact -> add must answer every query EXACTLY like a
    fresh build of the same final document set (the reference's
    contract: a reader over live segments + liveDocs is
    indistinguishable from a reindex; TestDeleteDocument.java +
    IndexerImpl add-to-existing). Compares BM25 top-k (scores
    included), span hits, term frequencies, and doc stats."""
    cfg = EngineConfig(segment_size=128, block_size=8)

    base = generate_pandas(400, seed=21)
    extra1 = generate_pandas(900, seed=22).iloc[400:650].reset_index(drop=True)
    extra2 = generate_pandas(900, seed=23).iloc[650:900].reset_index(drop=True)

    d_inc = str(tmp_path_factory.mktemp("equivinc") / "idx")
    Corpus.build(spark, spark.createDataFrame(base), d_inc, cfg)
    add_documents(spark, d_inc, spark.createDataFrame(extra1))
    # delete a slice of the ORIGINAL docs by (conv_id, turn_idx)
    inc = Corpus.open(spark, d_inc)
    victims = inc.tokenized.filter(
        F.col("conv_id").isin([r for r in base["conv_id"].unique()[:40]])
    ).select("doc_id")
    n_del = delete_documents(spark, d_inc, victims)
    assert n_del > 0
    compact(spark, d_inc)
    add_documents(spark, d_inc, spark.createDataFrame(extra2))
    inc = Corpus.open(spark, d_inc)

    # fresh rebuild over the surviving + added rows
    import pandas as pd

    dead = set(base["conv_id"].unique()[:40])
    final = pd.concat(
        [base[~base["conv_id"].isin(dead)], extra1, extra2],
        ignore_index=True,
    )
    d_fresh = str(tmp_path_factory.mktemp("equivfresh") / "idx")
    fresh = Corpus.build(spark, spark.createDataFrame(final), d_fresh, cfg)

    # doc stats: same surviving (conv_id, turn_idx, num_tokens) set
    key = lambda c: {  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["num_tokens"])
        for r in c.tokenized.select("conv_id", "turn_idx", "num_tokens").collect()
    }
    assert key(inc) == key(fresh)

    # BM25 rank + score identical (doc identity via conv_id/turn_idx —
    # topk output already carries the doc metadata columns)
    def topk(c, q):
        return [
            (r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in c.topk(q, k=10)
            .orderBy(F.desc("score"), "conv_id", "turn_idx")
            .collect()
        ]

    for q in ("word00001 word00050", "word00002", "word00010 word00003"):
        assert topk(inc, q) == topk(fresh, q), q

    # span hits identical under doc identity
    def spans(c, q):
        j = c.find(q).df.join(
            c.tokenized.select("doc_id", "conv_id", "turn_idx"), "doc_id"
        )
        return sorted(
            (r["conv_id"], r["turn_idx"], r["start"], r["end"])
            for r in j.collect()
        )

    for q in ('"word00001" "word00002"', '"word0000.*"', '[word != "word00001"] "word00002"'):
        assert spans(inc, q) == spans(fresh, q), q

    # term frequencies identical
    from blacklab_spark.search.results import term_frequencies

    tf = lambda c: {  # noqa: E731
        r["term"]: (r["n_docs"], r["freq"])
        for r in term_frequencies(c).collect()
    }
    assert tf(inc) == tf(fresh)


def _handle_view(corpus, q: str, patt: str) -> dict:
    """What a reader sees through one handle: ranked BM25 scores, a
    span count, the forward index's size, status and a cached search."""
    return {
        "topk": [
            (r["doc_id"], round(r["score"], 9))
            for r in corpus.topk(q, k=10).collect()
        ],
        "find": corpus.find(patt).count(),
        "tokenized": corpus.tokenized.count(),
        "n_docs": corpus.status()["n_docs"],
        "search": sorted(
            (r["doc_id"], r["start"])
            for r in corpus.search(patt=patt, usecache=True)
            .select("doc_id", "start").collect()
        ),
    }


@pytest.mark.parametrize("write", ["delete", "append", "compact"])
def test_open_handle_sees_write(spark, small_corpus, tmp_path, write):
    """A handle opened before a write answers like a fresh handle after
    it: each write commits a new generation through meta.json, and the
    handle rebuilds its table handles, term dicts, tombstones and
    search cache from it (the reference reopens one reader per
    commit)."""
    import shutil

    src, _ = small_corpus
    d = str(tmp_path / "idx")
    shutil.copytree(src.index_dir, d)
    q, patt = "word00001 word00050", '"word00001"'
    if write == "compact":
        delete_documents(spark, d, spark.createDataFrame(
            [(i,) for i in range(0, 1000, 9)], "doc_id long"))
    corpus = Corpus.open(spark, d)
    before = _handle_view(corpus, q, patt)  # warms every memo and the cache
    dead = set()
    if write == "delete":
        dead = {doc for doc, _ in before["topk"][:5]}
        delete_documents(spark, d, spark.createDataFrame(
            [(int(i),) for i in sorted(dead)], "doc_id long"))
    elif write == "append":
        extra = generate_pandas(300, seed=8, start_conv=50_000)
        add_documents(spark, d, spark.createDataFrame(extra))
    else:
        compact(spark, d)
    got = _handle_view(corpus, q, patt)
    assert got == _handle_view(Corpus.open(spark, d), q, patt)
    assert got != before
    assert not dead & {doc for doc, _ in got["search"]}

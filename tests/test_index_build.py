import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from blacklab_spark.index import codec
from blacklab_spark.oracle import OracleIndex


def test_meta_matches_oracle(small_corpus):
    corpus, pdf = small_corpus
    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    assert corpus.meta["n_docs"] == oracle.n_docs == 1000
    assert corpus.meta["total_tokens"] == sum(len(t) for t in oracle.tokens)
    assert abs(corpus.meta["avgdl"] - oracle.avgdl) < 1e-9


def test_doc_ids_dense_and_ordered(small_corpus):
    corpus, pdf = small_corpus
    rows = (
        corpus.doc_stats.select("doc_id", "conv_id", "turn_idx")
        .orderBy("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in rows] == list(range(len(rows)))
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)


def test_per_turn_text_equality(small_corpus):
    """BASELINE.json invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering."""
    corpus, pdf = small_corpus
    got = (
        corpus.tokenized.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["text"].tolist() == want["text"].tolist()


def test_terms_dict_matches_oracle(small_corpus):
    corpus, pdf = small_corpus
    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    terms = corpus.terms.orderBy("term_id").collect()
    # dense alphabetical ids
    assert [r["term_id"] for r in terms] == list(range(len(terms)))
    assert [r["term"] for r in terms] == sorted(oracle.postings.keys())
    for r in terms[:50]:
        assert r["df"] == len(oracle.postings[r["term"]])
        assert r["cf"] == sum(len(p) for p in oracle.postings[r["term"]].values())


def test_postings_decode_matches_oracle(small_corpus):
    corpus, pdf = small_corpus
    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    # pick a head term, a mid term, and a tail term
    by_cf = sorted(
        oracle.postings, key=lambda t: -sum(len(p) for p in oracle.postings[t].values())
    )
    for term in [by_cf[0], by_cf[len(by_cf) // 2], by_cf[-1]]:
        blocks = (
            corpus.postings.filter(F.col("term") == term)
            .orderBy("segment_id", "block_id")
            .collect()
        )
        dids, offs = codec.varint_decode(
            pa.array([bytes(b["doc_ids"]) for b in blocks], pa.binary()), "row")
        tf, _ = codec.varint_decode(
            pa.array([bytes(b["freqs"]) for b in blocks], pa.binary()))
        pos, _ = codec.varint_decode(
            pa.array([bytes(b["positions"]) for b in blocks], pa.binary()), tf)
        got: dict[int, list[int]] = {}
        pos_offs = np.cumsum(tf) - tf
        for d, p0, f_ in zip(dids, pos_offs, tf):
            got[int(d)] = [int(p) for p in pos[p0: p0 + f_]]
        for blk, lo, hi in zip(blocks, offs[:-1], offs[1:]):
            assert hi > lo
            assert blk["min_doc"] == dids[lo] and blk["max_doc"] == dids[hi - 1]
        assert got == oracle.postings[term], term


def test_dls_match_doc_lengths(small_corpus):
    corpus, pdf = small_corpus
    lens = {
        r["doc_id"]: r["num_tokens"] for r in corpus.doc_stats.collect()
    }
    blk = corpus.postings.select("doc_ids", "dls").limit(20).toArrow()
    dids, offs = codec.varint_decode(blk.column("doc_ids"), "row")
    dls, dl_offs = codec.varint_decode(blk.column("dls"))
    assert np.array_equal(offs, dl_offs) and offs[-1] > 0
    assert [lens[int(d)] for d in dids] == [int(x) for x in dls]


def test_resume_skips_done_stages(small_corpus, spark, small_cfg, tmp_path):
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.synth import generate_pandas

    pdf = generate_pandas(200, seed=7)
    df = spark.createDataFrame(pdf)
    d = str(tmp_path / "idx")
    c1 = Corpus.build(spark, df, d, small_cfg)
    n_blocks = c1.meta["n_posting_blocks"]
    # resume build: all stages marked done -> identical meta, no rebuild
    c2 = Corpus.build(spark, df, d, small_cfg, resume=True)
    assert c2.meta["n_posting_blocks"] == n_blocks
    assert c2.meta["n_docs"] == 200


def test_resume_after_midbuild_crash(spark, small_cfg, tmp_path):
    """North-rule checkpointing: a build killed between stages resumes
    from the last finished stage marker and produces an index identical
    to an uninterrupted build — earlier stage outputs are NOT recomputed
    (reference analogue: IndexTool re-add after crash rebuilds only the
    unwritten Lucene segments; our markers are per-stage, build.py
    _stage_done)."""
    import glob
    import os

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.synth import generate_pandas

    pdf = generate_pandas(300, seed=11)
    df = spark.createDataFrame(pdf)
    d = str(tmp_path / "idx")
    c1 = Corpus.build(spark, df, d, small_cfg)
    want_meta = dict(c1.meta)
    want_rows = sorted(
        (r["term"], r["df"]) for r in c1.terms.select("term", "df").collect()
    )

    # simulate a crash after the postings stage: terms output gone,
    # meta.json never written (meta is written last, after all markers)
    import shutil

    shutil.rmtree(os.path.join(d, "terms"))
    os.remove(os.path.join(d, "meta.json"))
    tok_mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(d, "tokenized", "*", "*.parquet"))
    }
    post_mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(d, "postings", "*", "*.parquet"))
    }
    assert tok_mtimes and post_mtimes

    c2 = Corpus.build(spark, df, d, small_cfg, resume=True)
    # finished stages were not rewritten (checkpoint actually skipped work)
    for p, m in tok_mtimes.items():
        assert os.path.getmtime(p) == m
    for p, m in post_mtimes.items():
        assert os.path.getmtime(p) == m
    # the resumed index equals the uninterrupted one
    for k in ("n_docs", "total_tokens", "n_terms", "n_posting_blocks", "avgdl"):
        assert c2.meta[k] == want_meta[k], k
    got_rows = sorted(
        (r["term"], r["df"]) for r in c2.terms.select("term", "df").collect()
    )
    assert got_rows == want_rows


def test_encoder_nonmonotonic_doc_order():
    """A kernel slice whose rows arrive doc-DESCENDING must still emit
    ascending doc lists with correct min_doc/max_doc (the fallback sort
    keys on the actual doc id, not the row index): block-max pruning
    computes candidate ranges from min/max, and negative deltas would
    wrap to 10-byte varints."""
    from blacklab_spark.config import EngineConfig
    from blacklab_spark.index.build import make_encoder

    enc = make_encoder(EngineConfig(), avgdl=2.0)
    table = pa.table(
        {
            "segment_id": pa.array([0, 0], pa.int64()),
            "doc_id": pa.array([5, 3], pa.int64()),
            "_fld_0": pa.array([["a", "b"], ["a", "c"]], pa.list_(pa.string())),
        }
    )
    rows = {r["term"]: r for r in enc(table).to_pylist()}
    a = rows["a"]
    assert (a["min_doc"], a["max_doc"]) == (3, 5)
    assert list(codec.varint_decode(pa.array([a["doc_ids"]]), "row")[0]) == [3, 5]
    assert rows["b"]["min_doc"] == 5 and rows["c"]["min_doc"] == 3

"""Doc_id-bucketed forward-index table (EngineConfig.fi_buckets).

SURVEY §7.7-4's colocation promise: with the bucketed FI present, the
hit->token-array join behind KWIC / context / probes inserts NO
Exchange on the token-table side — the scan itself reports
HashPartitioning(doc_id, n) (the analogue of the reference's separate
random-access forward index, forwardindex/FieldForwardIndex.java).
Only the (small) hit side shuffles; at 100 TB the forward index never
moves at query time.
"""

from __future__ import annotations

import pytest

from blacklab_spark import Corpus, EngineConfig
from blacklab_spark.synth import generate_pandas


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    pdf = generate_pandas(1500, seed=11)
    sdf = spark.createDataFrame(pdf)
    base = tmp_path_factory.mktemp("fib")
    cb = Corpus.build(
        spark, sdf, str(base / "bucketed"),
        EngineConfig(segment_size=512, block_size=32, fi_buckets=4),
    )
    cn = Corpus.build(
        spark, sdf, str(base / "plain"),
        EngineConfig(segment_size=512, block_size=32),
    )
    return cb, cn


@pytest.fixture()
def no_broadcast(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kwic_join_has_no_token_side_exchange(corpora, no_broadcast):
    cb, cn = corpora
    pb = _plan(cb.find('"word00001"').kwic(2))
    pn = _plan(cn.find('"word00001"').kwic(2))
    # bucketed: exactly one doc_id exchange (the hit side); the FI scan
    # provides its partitioning directly
    assert pb.count("Exchange hashpartitioning(doc_id") == 1
    assert "Bucketed: true" in pb
    # plain layout: both sides exchange
    assert pn.count("Exchange hashpartitioning(doc_id") == 2


def test_context_join_has_no_token_side_exchange(corpora, no_broadcast):
    cb, _ = corpora
    p = _plan(cb.find('"word00002"').with_context(3))
    assert p.count("Exchange hashpartitioning(doc_id") == 1
    assert "Bucketed: true" in p


def test_bucketed_results_identical(corpora):
    cb, cn = corpora
    rb = sorted(tuple(r) for r in cb.find('"word00001"').kwic(2).collect())
    rn = sorted(tuple(r) for r in cn.find('"word00001"').kwic(2).collect())
    assert rb == rn and len(rb) > 0
    sb = sorted(
        tuple(r)
        for r in cb.find('"word00003"').sort_by(["right"]).df.collect()
    )
    sn = sorted(
        tuple(r)
        for r in cn.find('"word00003"').sort_by(["right"]).df.collect()
    )
    assert sb == sn


def test_fi_resume_skips_rebuild(spark, corpora):
    cb, _ = corpora
    # resumable: re-running the build over a complete index is a no-op
    pdf = generate_pandas(1500, seed=11)
    c2 = Corpus.build(
        spark, spark.createDataFrame(pdf), cb.index_dir,
        EngineConfig(segment_size=512, block_size=32, fi_buckets=4),
        resume=True,
    )
    assert c2.meta["fi_buckets"] == 4
    assert c2.fi is not None


def test_fi_invalidated_after_append(spark, tmp_path):
    """Incremental appends outrun the generation-0 FI: context joins
    must fall back to the range-layout table (correctness over the
    exchange saving) until a rebuild refreshes it. A delete keeps the
    FI: its tombstones are anti-joined at read time."""
    from pyspark.sql import functions as F

    from blacklab_spark.index.incremental import add_documents, delete_documents

    pdf = generate_pandas(300, seed=3)
    idx = str(tmp_path / "fi_gen")
    c = Corpus.build(
        spark, spark.createDataFrame(pdf), idx,
        EngineConfig(segment_size=256, block_size=32, fi_buckets=2),
    )
    assert c.fi is not None
    hit_docs = sorted({r["doc_id"] for r in c.find('"word00001"').df.collect()})
    dead = hit_docs[::2]
    delete_documents(spark, idx, spark.createDataFrame(
        [(int(i),) for i in dead], "doc_id long"))
    assert c.fi is not None
    assert c.fi.filter(F.col("doc_id").isin(dead)).count() == 0
    kw = c.find('"word00001"').kwic(1)
    assert kw.count() > 0
    assert kw.filter(F.col("doc_id").isin(dead)).count() == 0
    extra = generate_pandas(50, seed=4)
    extra["conv_id"] = extra["conv_id"] + "x"
    add_documents(spark, idx, spark.createDataFrame(extra))
    c2 = Corpus.open(spark, idx)
    assert c2.fi is None  # stale FI ignored
    # and context queries still work over the full corpus
    n = c2.find('"word00001"').kwic(1).count()
    assert n == c2.find('"word00001"').df.count()

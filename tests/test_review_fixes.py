"""Regression tests for review findings: fimatch gating on annotation
clauses, empty facets, gap-filler escaping, bare-literal constraints
(grouped-varint zero groups: tests/test_codec.py)."""

import pytest

from micro_corpus import transcripts_pdf


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus

    d = str(tmp_path_factory.mktemp("revfix") / "idx")
    return Corpus.build(
        spark, spark.createDataFrame(transcripts_pdf()), d,
        EngineConfig(segment_size=2, block_size=4),
    )


def test_fimatch_zero_disables_annotation_probe(micro):
    # with fimatch=0 the plan must not walk the forward index even for
    # annotation neighbors (which the cost model otherwise always probes)
    probed = micro.search(patt='"the" [pos="adj"]')
    joined = micro.search(patt='"the" [pos="adj"]', fimatch=0)
    a = sorted(map(tuple, probed.select("doc_id", "start", "end").collect()))
    b = sorted(map(tuple, joined.select("doc_id", "start", "end").collect()))
    assert a == b and len(a) > 0
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "try_element_at" not in plan


def test_facets_empty_is_ignored(micro):
    out = micro.search(patt='"the"', facets="")
    # falls through to plain hits instead of crashing
    assert {"doc_id", "start", "end"} <= set(out.columns)
    out2 = micro.search(patt='"the"', facets=" , ")
    assert {"doc_id", "start", "end"} <= set(out2.columns)


def test_gapfiller_backslash_escape():
    from blacklab_spark.cql import parser as P
    from blacklab_spark.cql.gapfiller import fill_gaps, parse_gap_query

    # a value ending in a backslash must not swallow the closing quote
    assert fill_gaps('"@@"', "C:\\") == ['"C:\\\\"']
    node = parse_gap_query('"@@"', "C:\\")
    assert isinstance(node, P.Node)


def test_bare_literal_constraint_rejected(micro):
    with pytest.raises(ValueError, match="bare string literal"):
        micro.find('"aap" :: "x"')


def test_single_valued_annotation_pays_no_multivalue_cost(micro):
    # always-split layout: _extra columns exist for every ann sidecar,
    # but build-time observe detection records that micro's lemma/pos
    # contain no '|' — so readers treat them as single-valued (no
    # secondary scan, no dedup shuffle) and the run-length repetition
    # probe stays available
    from blacklab_spark.search import spans as S

    assert micro.meta["multivalue_anns"] == []
    assert S._extra_col(micro, "lemma") is None
    assert S._extra_col(micro, "pos") is None
    from blacklab_spark.cql import engine as E
    from blacklab_spark.cql import parser as P

    node = P.parse('[pos="vrb"]+')
    assert E._probe_rep_spec(node, micro) is not None


def test_long_or_chain_parses():
    """A machine-built 5000-branch OR chain must parse without
    recursion limits (parse_or folds operands iteratively)."""
    from blacklab_spark.cql import parser as P

    q = " | ".join(f'"w{i}"' for i in range(5000))
    node = P.parse(q)
    assert isinstance(node, P.Or) and len(node.clauses) == 5000
    # mixed-operator grouping keeps the reference's right-recursive
    # shape: a | b & c == Or(a, And(b, c))
    m = P.parse('"a" | "b" & "c"')
    assert isinstance(m, P.Or)
    assert isinstance(m.clauses[1], P.SpanAnd)


def test_kwic_zero_context(small_corpus):
    """wordsaroundhit=0 is a match-only request (BLS semantics), not
    'use the default context size'."""
    corpus, _ = small_corpus
    rows = corpus.find('"word00001"').kwic(0).limit(5).collect()
    assert rows and all(r["left"] == "" and r["right"] == "" for r in rows)
    # duplicate listvalues entries must not break column resolution
    from blacklab_spark.search.facade import search

    out = search(
        corpus, patt='"word00001"', wordsaroundhit=1,
        listvalues="word,word", number=2,
    ).collect()
    assert out and out[0]["match_word"] == out[0]["match"]

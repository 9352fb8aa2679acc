"""Span operator tests on the transliterated TestIndex micro-corpus —
mirrors the reference's operator unit tests (TestSpansSequence,
TestSpansAnd, TestSpansExpansion, TestSpansPositionFilter,
TestSpansRepetition … in core/src/test/.../search/lucene/)."""

import pytest

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.search import spans as S

from micro_corpus import spans_pdf, transcripts_pdf


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("micro") / "idx")
    cfg = EngineConfig(segment_size=2, block_size=4)  # force multi-segment
    corpus = Corpus.build(
        spark,
        spark.createDataFrame(transcripts_pdf()),
        d,
        cfg,
        extra_spans=spark.createDataFrame(
            spans_pdf(),
            schema="conv_id string, turn_idx long, tag string, "
            "start int, end int, attrs map<string,string>",
        ),
    )
    return corpus


def hits(df):
    return sorted(
        (r["doc_id"], r["start"], r["end"])
        for r in df.select("doc_id", "start", "end").collect()
    )


def test_term_hits(micro):
    assert hits(S.term_hits(micro, "the")) == [(0, 0, 1), (0, 6, 7), (2, 1, 2), (3, 8, 9)]
    # sensitive: 'The' only at doc0 pos0
    assert hits(S.term_hits(micro, "The", sensitive=True)) == [(0, 0, 1)]


def test_regex_hits(micro):
    # 'b.*' -> brown, be  (TestSearches.java:188-196 analogue)
    assert hits(S.regex_hits(micro, "b.*")) == [(0, 2, 3), (2, 3, 4)]
    assert hits(S.regex_hits(micro, "fo[xr].*")) == [(0, 3, 4), (2, 2, 3)]


def test_annotation_hits(micro):
    # [pos='nou'] -> fox, dog, force, question
    assert hits(S.term_hits(micro, "nou", annotation="pos")) == [
        (0, 3, 4),
        (0, 8, 9),
        (2, 2, 3),
        (3, 9, 10),
    ]


def test_sequence(micro):
    # [pos='adj'] [pos='nou'] -> brown fox, lazy dog
    adj = S.term_hits(micro, "adj", annotation="pos")
    nou = S.term_hits(micro, "nou", annotation="pos")
    assert hits(S.sequence(adj, nou)) == [(0, 2, 4), (0, 7, 9)]


def test_sequence_all_combinations(micro):
    # 'aap' 'aap' over doc1 positions {2,8,9,10,11} -> (8,10),(9,11),(10,12)
    aap = S.term_hits(micro, "aap")
    assert hits(S.sequence(aap, aap)) == [(1, 8, 10), (1, 9, 11), (1, 10, 12)]


def test_sequence_with_gap(micro):
    # 'the' []{0,1} 'fox|force': the..force (gap 1, doc2), no 'the fox'
    the = S.term_hits(micro, "the")
    t2 = S.regex_hits(micro, "fox|force")
    got = hits(S.sequence_with_gap(the, t2, 0, 1))
    assert got == [(2, 1, 3)]


def test_union_and_and(micro):
    # [word='jumps' | lemma='jump']  (TestSearches.java:201-218)
    w = S.term_hits(micro, "jumps")
    l = S.term_hits(micro, "jump", annotation="lemma")
    assert hits(S.union(w, l)) == [(0, 4, 5)]
    # [pos='adj' & lemma='.*u.*'] -> quick
    adj = S.term_hits(micro, "adj", annotation="pos")
    u = S.regex_hits(micro, ".*u.*", annotation="lemma")
    assert hits(S.and_spans(adj, u)) == [(0, 1, 2)]


def test_and_not_token_not(micro):
    # [pos='adj' & word != 'lazy'] -> quick, brown
    adj = S.term_hits(micro, "adj", annotation="pos")
    lazy = S.term_hits(micro, "lazy")
    assert hits(S.and_not(adj, lazy)) == [(0, 1, 2), (0, 2, 3)]
    # [!x] count: doc0 has 9 tokens, 'the' at 2 -> 7 non-the in doc0
    not_the = S.token_not(micro, S.term_hits(micro, "the"))
    assert len([h for h in hits(not_the) if h[0] == 0]) == 7


def test_any_token_counts(micro):
    # []: one hit per token: 9+12+6+10 = 37
    assert len(hits(S.any_token(micro, 1, 1))) == 37
    # [] []: bigrams: 8+11+5+9 = 33 (TestSearches.java:110 analogue = 33)
    assert len(hits(S.any_token(micro, 2, 2))) == 33


def test_within_containing(micro):
    # 'b.*' within <entity/> -> brown (doc0 entity [0,4))
    b = S.regex_hits(micro, "b.*")
    ent = S.tag_spans(micro, "entity")
    assert hits(S.position_filter(b, ent, "within")) == [(0, 2, 3)]
    # <entity/> containing 'b.*' -> entity [0,4)
    assert hits(S.position_filter(ent, b, "containing")) == [(0, 0, 4)]
    # inverted: 'b.*' not within entity -> be (doc2)
    assert hits(S.position_filter(b, ent, "within", invert=True)) == [(2, 3, 4)]


def test_position_filter_edge_ops(micro):
    s = S.tag_spans(micro, "s")
    the = S.term_hits(micro, "the")
    # sentences starting with 'the'-ish: none (doc0 s starts with 'the'!)
    got = hits(S.position_filter(s, the, "containing_at_start"))
    assert got == [(0, 0, 9)]
    # matches: s == full doc span for doc1
    turn = S.tag_spans(micro, "turn")
    assert (1, 0, 12) in hits(S.position_filter(s, turn, "matches"))


def test_expansion(micro):
    # 'quick' []{1,2} -> (0,1,3),(0,1,4)
    q = S.term_hits(micro, "quick")
    assert hits(S.expand(q, micro, "right", 1, 2)) == [(0, 1, 3), (0, 1, 4)]
    # clipped at doc end: 'dog' []{1,2} -> nothing
    dog = S.term_hits(micro, "dog")
    assert hits(S.expand(dog, micro, "right", 1, 2)) == []
    # left: []{1,1} 'quick' -> (0,0,2)
    assert hits(S.expand(q, micro, "left", 1, 1)) == [(0, 0, 2)]


def test_repetition(micro):
    # [pos='adj']{2} -> quick brown (1,3)... wait: adj at doc0 = 1,2,7
    adj = S.term_hits(micro, "adj", annotation="pos")
    assert hits(S.repetition(adj, 2, 2)) == [(0, 1, 3)]
    # 'aap'{1,} on doc1 tail run 8..11 (+ pos 2): all sub-sequences
    aap = S.term_hits(micro, "aap")
    got = hits(S.repetition(aap, 1, -1))
    runs = [h for h in got if h[0] == 1]
    # singles: 2,8,9,10,11; pairs: (8,10),(9,11),(10,12); triples: (8,11),(9,12); quad: (8,12)
    assert len(runs) == 5 + 3 + 2 + 1


def test_edge_and_capture(micro):
    s = S.tag_spans(micro, "s")
    starts = S.edge(s, right=False)
    assert (3, 6, 6) in hits(starts)
    cap = S.capture(S.term_hits(micro, "fox"), "a")
    row = cap.collect()[0]
    assert row["cap_a_start"] == 3 and row["cap_a_end"] == 4


def test_constrained(micro):
    # a:[] b:[] :: a.word = b.word  adjacent equal words: doc1 'mier mier' x2, 'noot noot', 'aap aap' x3
    got = micro.find("a:[] b:[] :: a.word = b.word").df
    assert hits(got) == [
        (1, 3, 5),
        (1, 4, 6),
        (1, 6, 8),
        (1, 8, 10),
        (1, 9, 11),
        (1, 10, 12),
    ]


def test_filter_by_docs(micro):
    the = micro.find('"the"').filter_docs("conv_id = 'doc0'")
    assert hits(the.df) == [(0, 0, 1), (0, 6, 7)]


def test_repetition_long_run_no_planning_jobs(spark, tmp_path):
    """'x'+ over a 10-run: 55 sub-sequences (reference
    SpanQueryRepetition.java:18-25), and translation triggers ZERO
    Spark jobs — the old path ran one isEmpty() action per length."""
    import pandas as pd

    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1"],
            "turn_idx": [0, 0],
            "role": ["user", "user"],
            "text": [("x " * 10) + "end", "y x x end"],
            "tool": ["", ""],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
        }
    )
    corpus = Corpus.build(
        spark,
        spark.createDataFrame(pdf),
        str(tmp_path / "repidx"),
        EngineConfig(segment_size=4, block_size=4),
    )
    corpus.find('"end"').df  # warm table handles (one-time schema reads)
    sc = spark.sparkContext
    sc.setJobGroup("rep-translate", "repetition planning must be lazy")
    df = corpus.find('"x"+').df
    jobs = sc.statusTracker().getJobIdsForGroup("rep-translate")
    sc.setJobGroup("rep-collect", "")
    assert list(jobs) == [], "repetition planning ran driver-side Spark jobs"
    got = sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())
    assert len([h for h in got if h[0] == 0]) == 55  # C(10+1, 2)
    assert [h for h in got if h[0] == 1] == [(1, 1, 2), (1, 1, 3), (1, 2, 3)]

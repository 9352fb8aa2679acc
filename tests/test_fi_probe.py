"""Cost-based forward-index probe (reference ClauseCombinerNfa.java:
rare clause anchors, frequent neighbor matched over the forward
index). The probe plan must return EXACTLY the same hits as the
posting-join plan, for both directions."""

import dataclasses

import pytest

from blacklab_spark.search import spans as S


def hits(df):
    return sorted(
        (r["doc_id"], r["start"], r["end"])
        for r in df.select("doc_id", "start", "end").collect()
    )


@pytest.fixture()
def probing_corpus(small_corpus):
    corpus, _ = small_corpus
    # force the probe for any df imbalance >= 1.01x
    orig = corpus.cfg
    corpus.cfg = dataclasses.replace(orig, fi_probe_ratio=1.01)
    yield corpus
    corpus.cfg = orig


def _df_ratio_pair(corpus):
    """(rare, frequent) plain-term pair that actually coexists adjacently:
    synth corpus is Zipfian, word00001 is frequent, high ids are rare."""
    return "word00001"


def test_probe_right_equals_join(small_corpus, probing_corpus):
    corpus, _ = small_corpus
    # rare-then-frequent: right neighbor probed
    q = '"word00123" "word00001"'
    with_probe = hits(probing_corpus.find(q).df)
    no_probe_corpus = probing_corpus
    no_probe_corpus.cfg = dataclasses.replace(corpus.cfg, fi_probe_ratio=0.0)
    without = hits(no_probe_corpus.find(q).df)
    assert with_probe == without


def test_probe_left_equals_join(small_corpus, probing_corpus):
    corpus, _ = small_corpus
    # frequent-then-rare: leading term deferred, backward probe
    q = '"word00001" "word00123"'
    with_probe = hits(probing_corpus.find(q).df)
    probing_corpus.cfg = dataclasses.replace(corpus.cfg, fi_probe_ratio=0.0)
    without = hits(probing_corpus.find(q).df)
    assert with_probe == without


def test_probe_neighbor_unit(small_corpus):
    corpus, _ = small_corpus
    anchor = S.term_hits(corpus, "word00050")
    step = [("word", ("term", "word00001"))]
    probed = S.probe_steps(corpus, anchor, step, "right")
    joined = S.sequence(anchor, S.term_hits(corpus, "word00001"))
    assert hits(probed) == hits(joined)
    probed_l = S.probe_steps(corpus, anchor, step, "left")
    joined_l = S.sequence(S.term_hits(corpus, "word00001"), anchor)
    assert hits(probed_l) == hits(joined_l)


def test_probe_steps_regex_and_set(small_corpus):
    corpus, _ = small_corpus
    anchor = S.term_hits(corpus, "word00050")
    # regex neighbor probed over the FI == regex position-list join
    probed = S.probe_steps(corpus, anchor, [("word", ("regex", "word0000."))], "right")
    joined = S.sequence(anchor, S.regex_hits(corpus, "word0000."))
    assert hits(probed) == hits(joined)
    # term-set neighbor
    probed_s = S.probe_steps(
        corpus, anchor, [("word", ("set", ["word00001", "word00002"]))], "left"
    )
    joined_s = S.sequence(
        S.union(S.term_hits(corpus, "word00001"), S.term_hits(corpus, "word00002")),
        anchor,
    )
    assert hits(probed_s) == hits(joined_s)


def test_probe_steps_multi(small_corpus):
    corpus, _ = small_corpus
    anchor = S.term_hits(corpus, "word00050")
    two = [("word", ("term", "word00001")), ("word", ("regex", "word\\d+"))]
    probed = S.probe_steps(corpus, anchor, two, "right")
    joined = S.sequence(
        S.sequence(anchor, S.term_hits(corpus, "word00001")),
        S.regex_hits(corpus, "word\\d+"),
    )
    assert hits(probed) == hits(joined)


def test_fi_forced_regex_clause(small_corpus):
    corpus, _ = small_corpus
    # _FI2: anchor left, probe regex right over the token arrays
    via_fi = hits(corpus.find('_FI2("word00050", "word0000.")').df)
    via_join = hits(corpus.find('"word00050" "word0000."').df)
    assert via_fi == via_join
    # _FI1: anchor right, probe a two-part sequence backward
    via_fi1 = hits(corpus.find('_FI1("word00001" "word00002", "word00050")').df)
    via_join1 = hits(corpus.find('"word00001" "word00002" "word00050"').df)
    assert via_fi1 == via_join1

def test_probe_steps_repetition_unit(small_corpus):
    corpus, _ = small_corpus
    anchor = S.term_hits(corpus, "word00050")
    rep = [("word", ("regex", "word0000."), 1, 3)]
    probed = hits(S.probe_steps(corpus, anchor, rep, "right"))
    joined = hits(
        S.sequence(anchor, S.repetition(S.regex_hits(corpus, "word0000."), 1, 3))
    )
    assert probed == joined and probed
    probed_l = hits(S.probe_steps(corpus, anchor, rep, "left"))
    joined_l = hits(
        S.sequence(S.repetition(S.regex_hits(corpus, "word0000."), 1, 3), anchor)
    )
    assert probed_l == joined_l and probed_l


def test_probe_steps_repetition_then_fixed(small_corpus):
    corpus, _ = small_corpus
    anchor = S.term_hits(corpus, "word00050")
    steps = [
        ("word", ("regex", "word0000."), 1, 2),
        ("word", ("regex", "word\\d+")),
    ]
    probed = hits(S.probe_steps(corpus, anchor, steps, "right"))
    joined = hits(
        S.sequence(
            S.sequence(anchor, S.repetition(S.regex_hits(corpus, "word0000."), 1, 2)),
            S.regex_hits(corpus, "word\\d+"),
        )
    )
    assert probed == joined and probed
    probed_l = hits(S.probe_steps(corpus, anchor, steps, "left"))
    joined_l = hits(
        S.sequence(
            S.regex_hits(corpus, "word\\d+"),
            S.sequence(S.repetition(S.regex_hits(corpus, "word0000."), 1, 2), anchor),
        )
    )
    assert probed_l == joined_l and probed_l


def test_cql_repetition_probe_equals_join(small_corpus, probing_corpus):
    corpus, _ = small_corpus
    for q in (
        '"word00123" "word00001"{1,3}',
        '"word00004"{1,3} "word00123"',
        '"word00123" "word0000."+',
    ):
        with_probe = hits(probing_corpus.find(q).df)
        probing_corpus.cfg = dataclasses.replace(corpus.cfg, fi_probe_ratio=0.0)
        without = hits(probing_corpus.find(q).df)
        probing_corpus.cfg = dataclasses.replace(corpus.cfg, fi_probe_ratio=1.01)
        assert with_probe == without, q
        assert with_probe, q


# ---------------------------------------------------------------------------
# extended NFA walks: multiple repetition states, OR-of-sequence alternation
# (reference NfaState.java branch/repetition states via ClauseCombinerNfa)
# ---------------------------------------------------------------------------

def _join_plan(corpus, q):
    """Ground truth: the same pattern through the position-join planner."""
    orig = corpus.cfg
    try:
        corpus.cfg = dataclasses.replace(orig, fi_probe_ratio=0.0)
        return hits(corpus.find(q).df)
    finally:
        corpus.cfg = orig


MULTI_SHAPES = [
    # (forced-FI query, equivalent plain sequence)
    ('_FI2("word00123", "word00001"+ "word00002"{1,2})',
     '"word00123" "word00001"+ "word00002"{1,2}'),
    ('_FI2("word00123", "word00001"{1,3} "word00005" "word00002"+)',
     '"word00123" "word00001"{1,3} "word00005" "word00002"+'),
    ('_FI1("word00001"+ "word00002"{1,2}, "word00123")',
     '"word00001"+ "word00002"{1,2} "word00123"'),
    ('_FI2("word00123", ("word00001" "word00002" | "word00005"))',
     '"word00123" ("word00001" "word00002" | "word00005")'),
    ('_FI1(("word00001" "word00002" | "word00005" | "word0000." "word00001"), "word00123")',
     '("word00001" "word00002" | "word00005" | "word0000." "word00001") "word00123"'),
    ('_FI2("word00123", ("word00001"+ | "word00002" "word00005"))',
     '"word00123" ("word00001"+ | "word00002" "word00005")'),
]


def test_fi_walk_multi_repetition_and_alternation(small_corpus):
    corpus, _ = small_corpus
    from blacklab_spark.cql import engine as E
    from blacklab_spark.cql import parser as P

    failures = []
    for fi_q, plain_q in MULTI_SHAPES:
        node = P.parse(fi_q)
        # the walk must actually engage (no silent join fallback)
        probed_clause = node.left if node.fi_clause == 1 else node.right
        assert E._probe_walks_for(probed_clause, corpus) is not None, fi_q
        got = hits(corpus.find(fi_q).df)
        want = _join_plan(corpus, plain_q)
        if got != want:
            failures.append((fi_q, len(got), len(want)))
    assert not failures, failures


def test_fi_walk_unbounded_repetition(small_corpus):
    corpus, _ = small_corpus
    q = '_FI2("word00123", "word00001"+)'
    assert hits(corpus.find(q).df) == _join_plan(
        corpus, '"word00123" "word00001"+'
    )


# --- NOT and AND NFA states (reference fimatch NOT/AND states) ------------

def _both_plans(corpus, q):
    import dataclasses as _dc

    orig = corpus.cfg
    try:
        corpus.cfg = _dc.replace(orig, fi_probe_ratio=1.01)
        with_probe = hits(corpus.find(q).df)
        corpus.cfg = _dc.replace(orig, fi_probe_ratio=0.0)
        without = hits(corpus.find(q).df)
    finally:
        corpus.cfg = orig
    return with_probe, without


def test_probe_negated_neighbor(small_corpus):
    corpus, _ = small_corpus
    a, b = _both_plans(corpus, '"word00123" [word != "word00001"]')
    assert a == b and len(a) > 0


def test_probe_negated_backward(small_corpus):
    corpus, _ = small_corpus
    a, b = _both_plans(corpus, '[word != "word00001"] "word00123"')
    assert a == b and len(a) > 0


def test_probe_and_state(small_corpus):
    corpus, _ = small_corpus
    # AND of a regex and a negation at one position, next to an anchor
    a, b = _both_plans(corpus, '"word00123" [word = "word0000." & word != "word00002"]')
    assert a == b


def test_fi_forced_not_and_states(small_corpus):
    corpus, _ = small_corpus
    for q, plain in [
        ('_FI2("word00123", [word != "word00001"])',
         '"word00123" [word != "word00001"]'),
        ('_FI1([word != "word00001"], "word00123")',
         '[word != "word00001"] "word00123"'),
    ]:
        import dataclasses as _dc

        orig = corpus.cfg
        try:
            corpus.cfg = _dc.replace(orig, fi_probe_ratio=0.0)
            forced = hits(corpus.find(q).df)
            plain_hits = hits(corpus.find(plain).df)
        finally:
            corpus.cfg = orig
        assert forced == plain_hits and len(forced) > 0


def test_probe_negated_repetition(small_corpus):
    corpus, _ = small_corpus
    a, b = _both_plans(corpus, '"word00123" [word != "word00001"]{1,3}')
    assert a == b and len(a) > 0

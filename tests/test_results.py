"""Result-set operator tests — analogues of the reference's
TestHitProperties / TestResultsGrouper / TestHitsSample / TestKwic
(core/src/test/java/nl/inl/blacklab/...)."""

import pytest

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.search.results import (
    autocomplete,
    grouped_term_frequencies,
    term_frequencies,
)

from micro_corpus import transcripts_pdf


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("microres") / "idx")
    return Corpus.build(
        spark,
        spark.createDataFrame(transcripts_pdf()),
        d,
        EngineConfig(segment_size=2, block_size=4),
    )


def test_count_and_doc_count(micro):
    h = micro.find('"the"')
    assert h.count() == 4
    assert h.doc_count() == 3


def test_window(micro):
    h = micro.find('"the"')
    w = h.window(1, 2)
    got = sorted((r["doc_id"], r["start"]) for r in w.df.collect())
    # ordered hits: (0,0),(0,6),(2,1),(3,8) -> window skips 1, takes 2
    assert got == [(0, 6), (2, 1)]


def test_sample_deterministic(micro):
    h = micro.find("[]")
    s1 = sorted(map(tuple, h.sample(n=5, seed=7).df.collect()))
    s2 = sorted(map(tuple, h.sample(n=5, seed=7).df.collect()))
    assert s1 == s2 and len(s1) == 5


def test_kwic(micro):
    h = micro.find('"fox"')
    k = h.kwic(2).collect()[0]
    assert k["left"] == "quick brown" and k["match"] == "fox" and k["right"] == "jumps over"


def test_kwic_clipped_at_doc_edges(micro):
    h = micro.find('"may"')
    k = h.kwic(3).collect()[0]
    assert k["left"] == "" and k["match"] == "May" and k["right"] == "the Force be"


def test_sort_by_hit_text(micro):
    h = micro.find('[pos="adj"]')  # quick, brown, lazy
    rows = h.sort_by_hit_text().df.collect()
    # sorted hit text: brown < lazy < quick
    assert [r["start"] for r in rows] == [2, 7, 1]


def test_group_by_hit_text(micro):
    h = micro.find('"aap" | "noot"')
    g = {r["grp"]: r["size"] for r in h.group_by_hit_text().collect()}
    assert g == {"aap": 5, "noot": 3}


def test_group_by_metadata(micro):
    h = micro.find('"the"')
    g = {r["conv_id"]: r["n_hits"] for r in h.group_by_metadata("conv_id").collect()}
    assert g == {"doc0": 2, "doc2": 1, "doc3": 1}


def test_per_doc_and_facets(micro):
    h = micro.find('"the"')
    pd_ = {r["doc_id"]: r["n_hits"] for r in h.per_doc().collect()}
    assert pd_ == {0: 2, 2: 1, 3: 1}
    f = h.facets("role")["role"].collect()
    assert f[0]["role"] == "user" and f[0]["n_docs"] == 3


def test_collocations(micro):
    h = micro.find('"aap"')  # doc1 positions 2,8,9,10,11
    c = {r["term"]: r["freq"] for r in h.collocations(1).collect()}
    # neighbors of each aap, excluding the hit token itself
    assert c["mier"] == 2  # aap@2: left mier, right mier
    assert c["aap"] == 6   # within the tail run (pos 11 has no right nbr)

def test_term_frequencies(micro):
    tf = {r["term"]: r["freq"] for r in term_frequencies(micro).collect()}
    assert tf["the"] == 4 and tf["aap"] == 5
    # filtered variant goes through the forward index
    tf0 = {
        r["term"]: r["freq"]
        for r in term_frequencies(micro, "conv_id = 'doc0'").collect()
    }
    assert tf0["the"] == 2 and "aap" not in tf0


def test_grouped_term_frequencies(micro):
    g = grouped_term_frequencies(micro, ["conv_id"])
    got = {(r["term"], r["conv_id"]): r["freq"] for r in g.collect()}
    assert got[("the", "doc0")] == 2 and got[("aap", "doc1")] == 5


def test_autocomplete(micro):
    got = [r["term"] for r in autocomplete(micro, "f").collect()]
    assert got == ["find", "force", "fox"]


def test_filter_docs(micro):
    h = micro.find('"the"').filter_docs("conv_id = 'doc0'")
    assert h.count() == 2


def test_collator_sort_case_mixed(spark, tmp_path):
    """Collator order groups case/accent variants (reference
    Collators.java:14-82) — lexicographic byte order would put all
    capitals first."""
    import pandas as pd

    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["zebra Apple apple Banana caf\u00e8 banana"],
            "tool": [""],
            "ts": pd.to_datetime(["2024-01-01"]),
        }
    )
    c = Corpus.build(
        spark, spark.createDataFrame(pdf), str(tmp_path / "coll"),
        EngineConfig(segment_size=4, block_size=4),
    )
    toks = "zebra Apple apple Banana caf\u00e8 banana".split()
    rows = c.find("[]").sort_by_hit_text().df.collect()
    texts = [toks[r["start"]] for r in rows]
    # collator: apple-group, banana-group, caf\u00e8, zebra \u2014 NOT
    # Apple/Banana first as byte order would give; lowercase before
    # uppercase within a group (JDK collator tertiary order)
    assert texts == ["apple", "Apple", "banana", "Banana", "caf\u00e8", "zebra"]


def test_count_stats_capped(micro):
    h = micro.find('[]')  # 37 tokens
    full = h.count_stats()
    assert full == {"count": 37, "counted_exactly": True, "max_exceeded": False}
    capped = h.count_stats(max_count=10)
    assert capped == {"count": 10, "counted_exactly": False, "max_exceeded": True}
    under = h.count_stats(max_count=100)
    assert under == {"count": 37, "counted_exactly": True, "max_exceeded": False}
    # the cap must appear in the physical plan as a limit, not a full count
    plan = h.df.limit(11)._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan or "CollectLimit" in plan


def test_limited_and_maxretrieve(micro):
    h = micro.find('[]')
    assert h.limited(5).count() == 5
    out = micro.search(patt="[]", maxretrieve=5)
    assert out.count() == 5


def test_csv_export(micro):
    csv = micro.search(patt='"the"', wordsaroundhit=1, outputformat="csv")
    assert isinstance(csv, str)
    lines = csv.strip().splitlines()
    assert lines[0].startswith("doc_id,")
    assert len(lines) == 1 + 4  # header + 4 hits of 'the'


def test_group_by_capture_and_hitposition(micro):
    h = micro.find('x:[pos="adj"] "fox"')
    g = {r["grp"]: r["size"] for r in h.group_by_capture("x").collect()}
    assert g == {"brown": 1}
    hp = micro.find('[pos="adj"]').sort_by_hit_position().df.collect()
    assert [(r["doc_id"], r["start"]) for r in hp] == [(0, 1), (0, 2), (0, 7)]
    out = micro.search(patt='x:[pos="adj"] "fox"', group="capture:x")
    assert out.collect()[0]["grp"] == "brown"


def test_frequency_lists_tool(small_corpus):
    """FrequencyTool analogue (reference tools/.../frequency/
    FrequencyTool.java, README.md config format): each configured list
    is one exploded groupBy; counts must match direct aggregation."""
    from blacklab_spark.search.frequency import freq_list, frequency_lists

    corpus, pdf = small_corpus
    fl = freq_list(corpus, ["word"])
    got = {r["word"]: r["frequency"] for r in fl.collect()}
    # oracle: token counts from the source rows under the same tokenizer
    from collections import Counter

    from blacklab_spark.analysis import py_tokenize_insensitive

    want = Counter(
        t for text in pdf["text"] for t in py_tokenize_insensitive(text)
    )
    assert got == dict(want)
    # grouped by metadata: per-role sums equal the ungrouped counts
    by_role = freq_list(corpus, ["word"], ["role"])
    agg = {}
    for r in by_role.collect():
        agg[r["word"]] = agg.get(r["word"], 0) + r["frequency"]
    assert agg == dict(want)
    # config-driven surface + reference naming convention
    lists = frequency_lists(
        corpus,
        {
            "annotatedField": "contents",
            "frequencyLists": [
                {"annotations": ["word"]},
                {"annotations": ["word"], "metadataFields": ["role"]},
            ],
        },
    )
    assert set(lists) == {"contents_word", "contents_word_role"}


# ---- HitPropertyContextWords parity (reference core/src/test/java/nl/
# inl/blacklab/search/grouping/TestHitProperties.java) -----------------------

def _groups(corpus, patt, crit):
    g = corpus.find(patt).group_by([crit])
    key = [c for c in g.columns if c not in ("size", "n_docs")][0]
    return {r[key]: r["size"] for r in g.collect()}


def test_hit_prop_hit_text_sensitive(micro):
    # testHitPropHitText: group 'the' hits by SENSITIVE hit text ->
    # {the: 3, The: 1} (TestHitProperties.java:57-66). H1-1 of a
    # one-word hit IS the hit text.
    got = _groups(micro, '"the"', "context:word:s:H1-1")
    assert got == {"the": 3, "The": 1}


def test_hit_prop_context_words(micro):
    # testHitPropContextWords: group 'the' by "L1-1;H1-2" -> 4 groups
    # of one hit each, missing words as NO_TERM ("~")
    # (TestHitProperties.java:68-87)
    got = _groups(micro, '"the"', "context:word:s:L1-1;H1-2")
    assert got == {
        "~ The ~": 1,
        "over the ~": 1,
        "May the ~": 1,
        "is the ~": 1,
    }


def test_hit_prop_context_words_reverse(micro):
    # testHitPropContextWordsReverse: group 'the' 'lazy' by
    # "L1;H2-1;R1" -> one group [over, lazy, the, dog]
    # (TestHitProperties.java:89-100)
    got = _groups(micro, '"the" "lazy"', "context:word:s:L1;H2-1;R1")
    assert got == {"over lazy the dog": 1}


def test_context_term_serialization():
    # testTermSerialization (TestHitProperties.java:102-113)
    from blacklab_spark.search.results import (
        deserialize_context_term, serialize_context_term,
    )

    words = ["aap", "~", "~~", ""]
    expected = ["aap", "~~", "~~~", ""]
    for w, exp in zip(words, expected):
        assert serialize_context_term(w) == exp
        assert serialize_context_term(deserialize_context_term(exp)) == exp
    assert serialize_context_term(None) == "~"
    assert deserialize_context_term("~") is None


def test_context_property_sort_and_filter(micro):
    # the same DSL drives sort (orderBy on the key) and
    # hitfiltercrit/hitfilterval (reference HitProperty.deserialize
    # surface); left-word-insensitive sort puts the doc-edge hit
    # (NO_TERM "~") after the word keys ("~" > letters)
    h = micro.find('"the"')
    s = h.sort_by(["context:word:i:L1-1"])
    got = [(r["doc_id"], r["start"]) for r in s.df.collect()]
    # keys: is(3,8) < may(2,1) < over(0,6) < "~"(0,0 doc edge)
    assert got == [(3, 8), (2, 1), (0, 6), (0, 0)]
    f = h.filter_by_property("context:word:s:L1-1", "over")
    got = [(r["doc_id"], r["start"]) for r in f.df.collect()]
    assert got == [(0, 6)]


def test_context_words_differential(micro):
    """Differential: the codegen context-words key vs a literal Python
    transliteration of the reference's copy loop
    (HitPropertyContextWords.get:258-326 with init()'s clamps) over
    every hit of several patterns and a grid of specs, incl. E parts,
    reversed ranges, unbounded parts, and doc-edge hits."""
    from blacklab_spark.search.results import parse_context_spec

    N = 5  # context size used by _with_keys (EngineConfig default)

    def oracle_key(toks, s, e, parts):
        out = []
        for letter, first, abs_dir, m in parts:
            w0 = max(0, s - N)
            w1 = min(len(toks), e + N)
            if letter == "L":
                anchor, first_src = s - 1, s - 1 - first
                invalid = (w0 - 1) if abs_dir < 0 else s
            elif letter == "R":
                anchor, first_src = e, e + first
                invalid = w1 if abs_dir > 0 else (e - 1)
            elif letter == "E":
                anchor, first_src = e - 1, e - 1 - first
                invalid = s if abs_dir < 0 else (e - 1)
            else:
                anchor, first_src = s, s + first
                invalid = e if abs_dir > 0 else (s - 1)
            if abs_dir > 0:
                invalid = min(invalid, anchor + first + m)
            else:
                invalid = max(invalid, anchor - first - m)
            copied = 0
            p = first_src
            while ((abs_dir > 0 and p < invalid)
                   or (abs_dir < 0 and p > invalid)):
                if 0 <= p < len(toks):
                    t = toks[p]
                    out.append("~" + t if t.startswith("~") else t)
                else:  # outside the doc: divergence-documented NO_TERM
                    out.append("~")
                copied += 1
                p += abs_dir
            out.extend(["~"] * (m - copied))
        return " ".join(out)

    docs = {
        r["doc_id"]: list(r["tokens"])
        for r in micro.context_store.select("doc_id", "tokens").collect()
    }
    specs = ["L1-1;H1-2", "L1;H2-1;R1", "H", "E1", "E2-1", "L3-1", "R",
             "L2", "R1-3", "H1;E1", "L1-2;R2-1", "E"]
    for patt in ('"the"', '"the" "lazy"', '[pos="adj"]', '"aap"'):
        h = micro.find(patt)
        for spec in specs:
            crit = f"context:word:s:{spec}"
            df, keys = h._with_keys([crit])
            got = {
                (r["doc_id"], r["start"], r["end"]): r[keys[0]]
                for r in df.collect()
            }
            parts = parse_context_spec(spec, N)
            for (d, s, e), k in got.items():
                assert k == oracle_key(docs[d], s, e, parts), (
                    patt, spec, d, s, e)

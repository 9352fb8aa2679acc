"""End-to-end parity with the reference on ITS OWN integration corpus.

The reference repo ships a 3-document VOICE TEI corpus
(test/data/input/*.xml), the format config it indexes them with
(test/data/voice-tei.blf.yaml), the query set its CI runs
(test/test/hits.js, docs.js), and the saved responses those queries
produced (test/data/saved-responses/). This suite ingests the SAME
corpus with OUR engine through the SAME blf.yaml, runs the SAME
queries, and asserts hit-for-hit position equality against the saved
responses — the north rule's "rank-identical on the reference query
set" verified literally.

Token alignment: the reference's token unit is the <w> element; our
engine re-tokenizes text, so the index is built with
token_pattern=[^\\s]+ (one engine token per <w>) threaded through both
the XML parse and the build. The reference sorts its saved hits by
(field:pid, hitposition) and stores the first 50-hit window.
"""

from __future__ import annotations

import collections
import json
import os

import pytest

REF = "/root/reference/test/data"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference test data not available"
)

# test/test/hits.js expectHitsUnchanged calls, verbatim
HITS_QUERIES = {
    "single word the": '"the"',
    "simple phrase a succesful": '"a" [lemma="successful"]',
    "phrase a succesful with _FI1": '_FI1("a", [lemma="successful"])',
    "phrase a succesful with _FI2": '_FI2("a", [lemma="successful"])',
    "simple capture group": '"one" A:[]',
    "any token": "[]",
    "two-four-single-regex": '"two|four"',
    "two-four-separate": '"two"|"four"',
    "token level AND": '[lemma="be" & word="are"]',
    "token level AND NOT": '[lemma="be" & word!="are"]',
    "containing": '<u/> containing "good"',
    "within": '"very" "good" within <u/>',
}


def _saved(kind: str, name: str) -> dict:
    with open(os.path.join(REF, "saved-responses", kind, f"{name}.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def voice(spark, tmp_path_factory):
    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.index.xml_ingest import (
        load_blf_config, parse_xml_files, read_xml, xml_spans,
    )

    pat = r"[^\s]+"
    fmt = load_blf_config(os.path.join(REF, "voice-tei.blf.yaml"))
    src = os.path.join(REF, "input")
    parsed = parse_xml_files(spark, src, fmt, token_pattern=pat)
    parsed.persist()
    tr = read_xml(spark, src, fmt, parsed=parsed)
    sp = xml_spans(spark, src, fmt, parsed=parsed)
    d = str(tmp_path_factory.mktemp("voice") / "idx")
    corpus = Corpus.build(
        spark, tr, d,
        EngineConfig(segment_size=2, block_size=16, token_pattern=pat),
        extra_spans=sp,
    )
    parsed.unpersist()
    return corpus


def _our_hits(corpus, patt: str) -> list[tuple[str, int, int]]:
    """(pid, start, end), ordered the way the reference CI sorts its
    saved hits: sort=field:pid,hitposition (hits.js:32)."""
    rows = (
        corpus.find(patt).df
        .join(corpus.doc_stats.select("doc_id", "conv_id"), "doc_id")
        .collect()
    )
    hits = sorted(
        (r["conv_id"].rsplit("-", 1)[0], r["start"], r["end"]) for r in rows
    )
    return hits


@pytest.mark.parametrize("name", sorted(HITS_QUERIES))
def test_hits_rank_identical(voice, name):
    """Every hit the reference saved, at the same (pid, start, end)."""
    ref = _saved("hits", name)
    got = _our_hits(voice, HITS_QUERIES[name])
    # full-count parity (summary.numberOfHits counts beyond the window)
    assert len(got) == ref["summary"]["numberOfHits"]
    # hit-for-hit parity over the saved window
    window = got[: len(ref["hits"])]
    expected = [(h["docPid"], h["start"], h["end"]) for h in ref["hits"]]
    assert window == expected


def test_doc_lengths_match_reference(voice):
    """lengthInTokens per document == the reference's docInfos."""
    ref = _saved("hits", "single word the")["docInfos"]
    ours = {
        r["conv_id"].rsplit("-", 1)[0]: r["num_tokens"]
        for r in voice.doc_stats.collect()
    }
    for pid, info in ref.items():
        assert ours[pid] == info["lengthInTokens"], pid


def test_docs_per_doc_hit_counts(voice):
    """docs responses: per-document hit counts for the docs.js query
    set ('she', 'they', pattern+filter)."""
    from blacklab_spark.search.results import Hits

    for name, patt, filt in (
        ("single word she", '"she"', None),
        ("single word they", '"they"', None),
        ("pattern and filter", '"the"', "meta_pid = 'PBsve435'"),
    ):
        ref = _saved("docs", name)
        expected = {d["docPid"]: d["numberOfHits"] for d in ref["docs"]}
        hits = voice.find(patt)
        if filt:
            hits = hits.filter_docs(filt)
        per_doc = (
            Hits(voice, hits.df).per_doc()
            .select("conv_id", "n_hits").collect()
        )
        got = {r["conv_id"].rsplit("-", 1)[0]: r["n_hits"] for r in per_doc}
        assert got == expected, name


def test_metadata_parity(voice):
    """pid + title metadata extracted through the blf.yaml match the
    reference's docInfos."""
    ref = _saved("docs", "any token")["docs"]
    # meta_* columns are document metadata: doc_stats carries them
    rows = voice.doc_stats.select("conv_id", "meta_pid", "meta_title").collect()
    ours = {r["meta_pid"]: r["meta_title"] for r in rows}
    assert len(ref) == 3
    for d in ref:
        assert ours[d["docPid"]] == d["docInfo"]["title"][0], d["docPid"]


def test_kwic_contexts_match_reference(voice):
    """FULL context equality for the saved 'single word the' hits:
    word, lemma AND punct values per context token (the punctPath
    analogue; reference Kwic carries punct in every context)."""
    hits = voice.find('"the"')
    ref = _saved("hits", "single word the")
    by_ann = {}
    for ann in ("word", "lemma", "punct"):
        ctx = hits.with_context(1, ann, sensitive=True).join(
            voice.doc_stats.select("doc_id", "conv_id"), "doc_id"
        ).collect()
        by_ann[ann] = {
            (r["conv_id"].rsplit("-", 1)[0], r["start"], r["end"]): r
            for r in ctx
        }
    for h in ref["hits"]:
        key = (h["docPid"], h["start"], h["end"])
        for ann in ("word", "lemma", "punct"):
            r = by_ann[ann][key]
            for side in ("left", "match", "right"):
                got = list(r[side])
                want = list(h[side][ann])
                if ann == "punct":
                    # the reference normalizes inter-word whitespace to
                    # a single space; so do we — compare stripped-equal
                    got = [v.strip() for v in got]
                    want = [v.strip() for v in want]
                assert got == want, (key, ann, side)


def test_view_single_group_matches_reference(voice):
    """hits.js 'view single group': patt='"a"', group=field:title,
    viewgroup=one title — the group's hits, rank-identical."""
    ref = _saved("hits", "view single group")
    df = voice.search(
        patt='"a"', group="field:meta_title",
        viewgroup="service encounter about visa application for family members",
    )
    rows = df.join(
        voice.doc_stats.select("doc_id", "conv_id"), "doc_id"
    ).collect()
    got = sorted(
        (r["conv_id"].rsplit("-", 1)[0], r["start"], r["end"]) for r in rows
    )
    expected = sorted(
        (h["docPid"], h["start"], h["end"]) for h in ref["hits"]
    )
    assert got == expected
    assert len(got) == ref["summary"]["numberOfHits"]


def test_hits_grouped_by_title_matches_reference(voice):
    """hits-grouped.js 'a grouped by title' (group=field:title):
    per-title hit-group sizes."""
    from blacklab_spark.search.results import Hits

    ref = _saved("hits-grouped", "a grouped by title")
    expected = {g["identityDisplay"]: g["size"] for g in ref["hitGroups"]}
    gg = Hits(voice, voice.find('"a"').df).group_by(["field:meta_title"])
    got = {r["field_meta_title"]: r["size"] for r in gg.collect()}
    assert got == expected


def test_grouped_with_filter_and_negation_matches_reference(voice):
    """hits-grouped.js regular-vs-fast path pair with metadata filter:
    patt=[word != "abcdefg"] + doc filter, group hit:word:i — and the
    reference asserts '[]' produces the IDENTICAL grouping (we check
    both against the same saved response)."""
    ref = _saved("hits-grouped", "any token grouped by word with filter")
    expected = {g["identityDisplay"]: g["size"] for g in ref["hitGroups"]}
    for patt in ('[word != "abcdefg"]', "[]"):
        hits = voice.find(patt).filter_docs("meta_pid = 'PBsve430'")
        got = {r["hit_word"]: r["size"]
               for r in hits.group_by(["hit:word"]).collect()}
        for name, size in expected.items():
            assert got.get(name) == size, (patt, name)
        assert sum(got.values()) == ref["summary"]["numberOfHits"], patt
        assert len(got) == ref["summary"]["numberOfGroups"], patt


def test_group_by_capture_matches_reference(voice):
    """hits-grouped.js 'group by capture': patt='"a|the" X:[]' +
    doc filter, group capture:word:i:X."""
    ref = _saved("hits-grouped", "group by capture")
    expected = {g["identityDisplay"]: g["size"] for g in ref["hitGroups"]}
    hits = voice.find('"a|the" X:[]').filter_docs("meta_pid = 'PBsve430'")
    got = {r["capture_X"]: r["size"]
           for r in hits.group_by(["capture:X"]).collect()}
    assert got == expected


def test_collocations_match_reference(voice):
    """calc=colloc parity (colloc.js: wordsaroundhit=10, insensitive;
    saved-responses/colloc/single word the.json): every collocation
    frequency identical."""
    ref = _saved("colloc", "single word the")["tokenFrequencies"]
    got = {r[0]: r[1] for r in
           voice.find('"the"').collocations(10).collect()}
    assert got == ref


def test_grouped_by_hit_text_matches_reference(voice):
    """hits-grouped parity (hits-grouped.js: patt=[], group=hit:word:i;
    saved-responses/hits-grouped/any token grouped by word.json):
    every group size identical."""
    ref = _saved("hits-grouped", "any token grouped by word")
    expected = {g["identityDisplay"]: g["size"] for g in ref["hitGroups"]}
    gg = voice.find("[]").group_by(["hit:word"])
    got = {r["hit_word"]: r["size"] for r in gg.collect()}
    # the saved response stores one page of groups; every saved group's
    # size must match, and the group total must match the summary
    for name, size in expected.items():
        assert got.get(name) == size, name
    assert ref["summary"]["numberOfGroups"] == len(got)


def test_grouped_by_wordright_matches_reference(voice):
    """wordright:word:i grouping (saved-responses/hits-grouped/very
    grouped by word right.json)."""
    from blacklab_spark.search.results import Hits

    ref = _saved("hits-grouped", "very grouped by word right")
    expected = {g["identityDisplay"]: g["size"] for g in ref["hitGroups"]}
    gw = Hits(voice, voice.find('"very"').df).group_by(["wordright:word"])
    got = {r[0]: r[1] for r in gw.collect()}
    assert got == expected


def test_docs_grouped_by_title_matches_reference(voice):
    """docs-grouped parity (hits-grouped.js: patt='"a"',
    group=field:title; saved-responses/docs-grouped/a grouped by
    title.json): group sizes and per-group token counts. The
    reference's subcorpusSize.tokens includes one hidden
    end-of-document token per doc (Lucene's closing token) while its
    numberOfTokens excludes it; our count equals the actual token
    count (= reference docInfo lengthInTokens = subcorpusSize.tokens)."""
    from blacklab_spark.search.server import docs_response

    ref = _saved("docs-grouped", "a grouped by title")
    got = docs_response(voice, '"a"', group="field:meta_title")
    ref_groups = {g["identityDisplay"]: g for g in ref["docGroups"]}
    got_groups = {g["identityDisplay"]: g for g in got["docGroups"]}
    assert set(got_groups) == set(ref_groups)
    for name, rg in ref_groups.items():
        gg = got_groups[name]
        assert gg["size"] == rg["size"], name
        docs_in_group = rg["subcorpusSize"]["documents"]
        assert gg["numberOfTokens"] \
            == rg["numberOfTokens"] + docs_in_group, name
        assert gg["subcorpusSize"]["documents"] == docs_in_group, name
        assert gg["subcorpusSize"]["tokens"] \
            == rg["subcorpusSize"]["tokens"], name


def test_index_metadata_structure_matches_reference(voice):
    """Corpus-info envelope structure vs the reference's saved index
    metadata (saved-responses/indices/expected-index-metadata.json):
    every top-level key the reference emits is present, annotated-field
    descriptors carry the same keys, and corpus-level counts match the
    3-doc VOICE corpus."""
    from blacklab_spark.search.server import index_metadata_response

    with open(os.path.join(REF, "saved-responses", "indices",
                           "expected-index-metadata.json")) as f:
        ref = json.load(f)
    got = index_metadata_response(voice, "voice")
    # documentFormat / UI-grouping keys are format-registry concerns
    # the engine doesn't model
    assert set(ref) <= set(got) | {
        "documentFormat", "metadataFieldGroups", "annotationGroups",
    }
    ref_af = ref["annotatedFields"]["contents"]
    got_af = got["annotatedFields"]["contents"]
    for k in ("fieldName", "isAnnotatedField", "hasContentStore",
              "mainAnnotation", "displayOrder", "annotations"):
        assert k in got_af, k
    ref_ann = ref_af["annotations"]["word"]
    got_ann = got_af["annotations"]["word"]
    for k in ("hasForwardIndex", "sensitivity", "isInternal"):
        assert k in got_ann, k
    assert got_ann["sensitivity"] == ref_ann["sensitivity"]
    # the saved metadata is for a 1-doc index (PBsve430 only):
    # tokenCount per doc must line up with our per-doc count
    ours_430 = {
        r["conv_id"].rsplit("-", 1)[0]: r["num_tokens"]
        for r in voice.doc_stats.collect()
    }["PBsve430"]
    assert ref["tokenCount"] == ours_430 == 334
    # lemma + pos annotations registered like the reference's
    assert {"word", "lemma"} <= set(got_af["annotations"])


def test_capture_groups_match_reference(voice):
    """Capture-group spans, not just hit spans (saved-responses/hits/
    simple capture group.json)."""
    ref = _saved("hits", "simple capture group")
    rows = (
        voice.find('"one" A:[]').df
        .join(voice.doc_stats.select("doc_id", "conv_id"), "doc_id")
        .collect()
    )
    got = sorted(
        (r["conv_id"].rsplit("-", 1)[0], r["start"], r["end"],
         r["cap_A_start"], r["cap_A_end"])
        for r in rows
    )
    expected = sorted(
        (h["docPid"], h["start"], h["end"],
         h["captureGroups"][0]["start"], h["captureGroups"][0]["end"])
        for h in ref["hits"]
    )
    assert got == expected

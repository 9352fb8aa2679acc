"""BLS JSON response envelopes (reference RequestHandlerHits.java:58-117,
DStream.java:180-341, site/docs/server/rest-api/): shape goldens over
the shared 1000-turn corpus."""

from __future__ import annotations

import json

import pytest

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.search.server import (
    docs_response, error_response, hits_response,
)
from micro_corpus import spans_pdf, transcripts_pdf


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("microsrv") / "idx")
    return Corpus.build(
        spark,
        spark.createDataFrame(transcripts_pdf()),
        d,
        EngineConfig(segment_size=2, block_size=4),
        extra_spans=spark.createDataFrame(
            spans_pdf(),
            schema="conv_id string, turn_idx long, tag string, "
            "start int, end int, attrs map<string,string>",
        ),
    )


def test_hits_envelope_shape(small_corpus):
    corpus, pdf = small_corpus
    resp = hits_response(corpus, '"word00001"', number=5, wordsaroundhit=2)
    # top-level envelope (RequestHandlerHits.dstreamHitsResponse)
    assert set(resp) == {"summary", "hits", "docInfos"}
    s = resp["summary"]
    # summaryCommonFields + summaryNumHits keys (DStream.java:180-258)
    for key in ("searchParam", "searchTime", "countTime",
                "windowFirstResult", "requestedWindowSize",
                "actualWindowSize", "windowHasPrevious", "windowHasNext",
                "stillCounting", "numberOfHits", "numberOfHitsRetrieved",
                "stoppedCountingHits", "stoppedRetrievingHits",
                "numberOfDocs", "numberOfDocsRetrieved", "docFields",
                "metadataFieldDisplayNames"):
        assert key in s, key
    assert s["searchParam"]["patt"] == '"word00001"'
    assert s["windowFirstResult"] == 0
    assert s["requestedWindowSize"] == 5
    assert s["actualWindowSize"] == 5
    assert not s["windowHasPrevious"]
    assert s["windowHasNext"]  # way more than 5 hits for a common term
    assert s["numberOfHits"] > 5
    assert s["stillCounting"] is False
    # hit entries (DStream.hit, DStream.java:306-341)
    h = resp["hits"][0]
    assert set(h) == {"docPid", "start", "end", "left", "match", "right"}
    assert h["match"]["word"] == ["word00001"]
    assert isinstance(h["left"]["word"], list)
    assert len(h["left"]["word"]) <= 2
    # docPid = conv_id/turn_idx, resolvable in docInfos
    assert h["docPid"] in resp["docInfos"]
    info = resp["docInfos"][h["docPid"]]
    assert info["mayView"] is True
    assert info["lengthInTokens"] > 0
    assert "role" in info and isinstance(info["role"], list)
    # whole response is JSON-serializable (it IS the wire format)
    json.dumps(resp)


def test_hits_envelope_window_and_total_consistency(small_corpus):
    corpus, _ = small_corpus
    r1 = hits_response(corpus, '"word00001"', first=0, number=3)
    r2 = hits_response(corpus, '"word00001"', first=3, number=3)
    assert r1["summary"]["numberOfHits"] == r2["summary"]["numberOfHits"]
    assert r2["summary"]["windowHasPrevious"]
    # windows are disjoint pages of the same deterministic order
    k1 = {(h["docPid"], h["start"]) for h in r1["hits"]}
    k2 = {(h["docPid"], h["start"]) for h in r2["hits"]}
    assert not (k1 & k2)


def test_hits_envelope_listvalues_annotations(micro):
    resp = hits_response(micro, '"force"', number=2,
                         wordsaroundhit=2, listvalues="pos")
    h = resp["hits"][0]
    # contextList writes one token-aligned list per annotation
    # (DataStreamJson.java:122-145)
    assert set(h["match"]) == {"word", "pos"}
    assert h["match"]["word"] == ["Force"]  # original case (Kwic)
    assert h["match"]["pos"] == ["nou"]
    assert len(h["left"]["pos"]) == len(h["left"]["word"])


def test_hits_envelope_capture_groups(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, 'A:"word00001" "word00002"', number=5)
    got_any = False
    for h in resp["hits"]:
        assert "captureGroups" in h
        for g in h["captureGroups"]:
            assert set(g) == {"name", "start", "end"}
            assert g["name"] == "A"
            got_any = True
    assert got_any or resp["hits"] == []


def test_hits_grouped_envelope(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001" []', group="field:role")
    assert set(resp) == {"summary", "hitGroups"}
    assert resp["summary"]["numberOfGroups"] == len(resp["hitGroups"])
    g = resp["hitGroups"][0]
    assert set(g) >= {"identity", "identityDisplay", "size", "properties"}
    assert g["properties"][0]["name"] == "role"
    # groups ordered by size descending (reference default)
    sizes = [x["size"] for x in resp["hitGroups"]]
    assert sizes == sorted(sizes, reverse=True)
    assert resp["summary"]["largestGroupSize"] == sizes[0]


def test_grouped_envelopes_without_hits(small_corpus):
    """A pattern without hits has zero groups, and its totals read 0,
    not null (a SQL sum over zero rows is null)."""
    corpus, _ = small_corpus
    patt = '"zzzznotaword"'
    for resp, key in (
        (hits_response(corpus, patt, group="field:role"), "hitGroups"),
        (hits_response(corpus, patt, group="field:role",
                       includegroupcontents=True), "hitGroups"),
        (docs_response(corpus, patt, group="field:role"), "docGroups"),
    ):
        assert resp[key] == []
        s = resp["summary"]
        assert s["numberOfGroups"] == 0 and s["largestGroupSize"] == 0
        for n in ("numberOfHits", "numberOfHitsRetrieved",
                  "numberOfDocs", "numberOfDocsRetrieved"):
            assert s[n] == 0, (key, n, s[n])


def test_colloc_envelope(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001"', calc="colloc",
                         wordsaroundhit=3)
    assert set(resp) == {"tokenFrequencies"}
    assert all(isinstance(v, int) for v in resp["tokenFrequencies"].values())
    assert len(resp["tokenFrequencies"]) > 0


def test_hits_envelope_facets(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001"', number=2,
                         facets="field:role")
    assert "facets" in resp
    vals = resp["facets"]["field:role"]
    assert all(set(v) == {"value", "size"} for v in vals)
    # facet doc counts sum to the matched-doc count
    assert sum(v["size"] for v in vals) == resp["summary"]["numberOfDocs"]


def test_docs_envelope_with_pattern(small_corpus):
    corpus, _ = small_corpus
    resp = docs_response(corpus, '"word00001"', number=4)
    assert set(resp) == {"summary", "docs"}
    d = resp["docs"][0]
    assert set(d) == {"docPid", "numberOfHits", "docInfo"}
    assert d["numberOfHits"] >= 1
    assert d["docInfo"]["mayView"] is True
    assert resp["summary"]["numberOfDocs"] >= len(resp["docs"])
    # per-doc hit counts over all docs sum to total hits
    full = docs_response(corpus, '"word00001"', number=10**6)
    assert sum(x["numberOfHits"] for x in full["docs"]) \
        == resp["summary"]["numberOfHits"]


def test_docs_envelope_metadata_only(small_corpus):
    corpus, _ = small_corpus
    resp = docs_response(corpus, filter="role:user", number=3)
    assert len(resp["docs"]) == 3
    assert all(d["docInfo"]["role"] == ["user"] for d in resp["docs"])
    assert resp["summary"]["numberOfDocs"] > 3


def test_hits_envelope_explain(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001" []', number=1, explain=True)
    exp = resp["summary"]["explanation"]
    assert exp["originalQuery"] == '"word00001" []'
    assert "rewrites:" in exp["rewrittenQuery"]


def test_index_metadata_envelope(small_corpus):
    from blacklab_spark.search.server import index_metadata_response

    corpus, pdf = small_corpus
    resp = index_metadata_response(corpus, "transcripts")
    assert resp["indexName"] == "transcripts"
    assert resp["documentCount"] == len(pdf)
    assert resp["tokenCount"] > 0
    af = resp["annotatedFields"]["contents"]
    assert af["mainAnnotation"] == "word"
    assert "word" in af["annotations"]
    assert set(resp["metadataFields"]) == {"conv_id", "turn_idx", "role",
                                           "tool"}
    json.dumps(resp)


def test_hits_grouped_includegroupcontents(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001"', group="field:role",
                         number=2, includegroupcontents=True,
                         wordsaroundhit=2)
    assert set(resp) == {"summary", "hitGroups", "docInfos"}
    assert len(resp["hitGroups"]) == 2
    for g in resp["hitGroups"]:
        # stored hits capped at 10 per group (reference
        # maxHitsToStorePerGroup), each a full hit entry
        assert 1 <= len(g["hits"]) <= 10
        h = g["hits"][0]
        assert h["match"]["word"] == ["word00001"]
        assert h["docPid"] in resp["docInfos"]
    # grouping totals agree with the plain grouped envelope
    plain = hits_response(corpus, '"word00001"', group="field:role")
    assert resp["summary"]["numberOfGroups"] \
        == plain["summary"]["numberOfGroups"]
    assert {g["identityDisplay"]: g["size"] for g in resp["hitGroups"]} \
        == {g["identityDisplay"]: g["size"]
            for g in plain["hitGroups"][:2]}


def test_docs_grouped_envelope(small_corpus):
    corpus, _ = small_corpus
    resp = docs_response(corpus, '"word00001"', group="field:role")
    assert set(resp) == {"summary", "docGroups"}
    g = resp["docGroups"][0]
    assert set(g) == {"identity", "identityDisplay", "size", "properties",
                      "numberOfTokens", "subcorpusSize"}
    assert g["subcorpusSize"]["documents"] >= g["size"]
    assert resp["summary"]["numberOfGroups"] == len(resp["docGroups"])
    # group sizes sum to the matched-doc total
    assert sum(x["size"] for x in resp["docGroups"]) \
        == resp["summary"]["numberOfDocs"]


def test_docs_grouped_no_pattern(small_corpus):
    corpus, _ = small_corpus
    resp = docs_response(corpus, group="field:role")
    assert sum(x["size"] for x in resp["docGroups"]) == 1000
    # without a pattern every group's size equals its subcorpus share
    for g in resp["docGroups"]:
        assert g["size"] == g["subcorpusSize"]["documents"]


REF_SAVED = "/root/reference/test/data/saved-responses"


@pytest.mark.skipif(not __import__("os").path.isdir(REF_SAVED),
                    reason="reference saved responses not available")
class TestReferenceWireParity:
    """Key-structure parity against the reference's own saved server
    responses (test/data/saved-responses/): every key the reference
    emits in an envelope must appear in ours, same nesting."""

    def _load(self, rel):
        import os
        with open(os.path.join(REF_SAVED, rel)) as f:
            return json.load(f)

    def test_hits_envelope_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("hits/single word the.json")
        got = hits_response(corpus, '"word00001"', number=3,
                            wordsaroundhit=5)
        assert set(got) == set(ref)
        assert set(got["summary"]) == set(ref["summary"])
        # hit keys: ours must carry everything the reference does
        # except `punct` context (transcript tokenization has no
        # punctuation annotation — documented divergence)
        assert set(got["hits"][0]) == set(ref["hits"][0])
        for side in ("left", "match", "right"):
            assert "word" in got["hits"][0][side]
        ref_info = next(iter(ref["docInfos"].values()))
        got_info = next(iter(got["docInfos"].values()))
        # shared structural keys: value-list metadata + length + view
        assert {"lengthInTokens", "mayView"} <= set(got_info)
        assert isinstance(got_info["lengthInTokens"],
                          type(ref_info["lengthInTokens"]))

    def test_capture_group_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("hits/simple capture group.json")
        got = hits_response(corpus, 'A:"word00001"', number=1)
        ref_hit = ref["hits"][0]
        got_hit = got["hits"][0]
        assert set(got_hit["captureGroups"][0]) \
            == set(ref_hit["captureGroups"][0])

    def test_grouped_envelope_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("hits-grouped/any token grouped by word.json")
        got = hits_response(corpus, '"word00001"', group="field:role")
        assert set(got) == set(ref)
        # subcorpusSize is reference-optional (computed only for
        # metadata groupings there); all other summary keys must match
        assert set(got["summary"]) \
            == set(ref["summary"]) - {"subcorpusSize"}
        assert set(got["hitGroups"][0]) == set(ref["hitGroups"][0])

    def test_docs_envelope_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("docs/single word she.json")
        got = docs_response(corpus, '"word00001"', number=2,
                            wordsaroundhit=5)
        assert set(got) == set(ref)
        assert set(got["summary"]) == set(ref["summary"])
        assert set(got["docs"][0]) == set(ref["docs"][0])
        s = got["docs"][0]["snippets"]
        assert s and set(s[0]) == {"left", "match", "right"}

    def test_docs_grouped_envelope_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("docs-grouped/a grouped by title.json")
        got = docs_response(corpus, '"word00001"', group="field:role")
        assert set(got) == set(ref)
        assert set(got["summary"]) \
            == set(ref["summary"]) - {"subcorpusSize"}
        assert set(got["docGroups"][0]) == set(ref["docGroups"][0])

    def test_facets_envelope_keys(self, small_corpus):
        corpus, _ = small_corpus
        ref = self._load("hits/document facets.json")
        got = hits_response(corpus, '"word00001"', number=1,
                            facets="field:role")
        ref_facet_entry = next(iter(ref["facets"].values()))[0]
        got_facet_entry = next(iter(got["facets"].values()))[0]
        assert set(got_facet_entry) == set(ref_facet_entry)


def test_error_envelope():
    resp = error_response("INVALID_QUERY", "parse error")
    assert resp == {"error": {"code": "INVALID_QUERY",
                              "message": "parse error"}}


def test_hits_envelope_filter_and_sort_passthrough(small_corpus):
    corpus, _ = small_corpus
    resp = hits_response(corpus, '"word00001"', number=5,
                         filter="role:user", sort="hit")
    assert resp["summary"]["numberOfHits"] > 0
    for pid, info in resp["docInfos"].items():
        assert info["role"] == ["user"]


def test_docs_sort_properties(small_corpus):
    # DocProperty sort on /docs (reference DocProperty.deserialize):
    # numhits desc-by-default, -numhits asc, id, field:<name>
    corpus, _ = small_corpus
    resp = docs_response(corpus, '"word00001"', number=100, sort="numhits")
    counts = [d["numberOfHits"] for d in resp["docs"]]
    assert counts == sorted(counts, reverse=True)
    resp = docs_response(corpus, '"word00001"', number=100, sort="-numhits")
    counts = [d["numberOfHits"] for d in resp["docs"]]
    assert counts == sorted(counts)
    resp = docs_response(corpus, '"word00001"', number=10**6, sort="id")
    pids = [d["docPid"] for d in resp["docs"]]
    rev = docs_response(corpus, '"word00001"', number=10**6, sort="-id")
    assert [d["docPid"] for d in rev["docs"]] == list(reversed(pids))
    # metadata-only listing sorted by a stored field
    resp = docs_response(corpus, number=100, sort="field:role")
    roles = [d["docInfo"]["role"][0] for d in resp["docs"]]
    assert roles == sorted(roles)


def test_docs_grouped_sort(small_corpus):
    # DocGroupProperty sort on docs-grouped (identity asc, -size asc)
    corpus, _ = small_corpus
    resp = docs_response(corpus, group="field:role", sort="identity")
    ids = [g["identity"] for g in resp["docGroups"]]
    assert ids == sorted(ids)
    resp = docs_response(corpus, group="field:role", sort="-size")
    sizes = [g["size"] for g in resp["docGroups"]]
    assert sizes == sorted(sizes)


def test_maxcount_and_omitemptycaptures(small_corpus):
    corpus, _ = small_corpus
    # maxcount caps counting work; summary reports the cap
    resp = hits_response(corpus, '"word00001"', number=2, maxcount=5)
    s = resp["summary"]
    assert s["numberOfHits"] == 5 and s["stoppedCountingHits"] is True
    # under the cap: exact count, not stopped
    resp = hits_response(corpus, '"word00001"', number=2, maxcount=10**6)
    assert resp["summary"]["stoppedCountingHits"] is False
    # empty captures are never emitted (documented divergence: the
    # engine records empty optional clauses as NULL, equal to the
    # reference's omitemptycaptures=true mode); the param is accepted
    for extra in ({}, {"omitemptycaptures": True}):
        resp = hits_response(corpus, 'A:[]{0,1} "word00002"', number=50,
                             **extra)
        assert resp["hits"]
        for h in resp["hits"]:
            for g in h.get("captureGroups", []):
                assert g["start"] != g["end"]


def test_index_metadata_listvalues(small_corpus):
    from blacklab_spark.search.server import index_metadata_response

    corpus, _ = small_corpus
    resp = index_metadata_response(corpus, "t", listmetadatavalues=True)
    role = resp["metadataFields"]["role"]
    assert set(role["fieldValues"]) >= {"user", "assistant"}
    assert role["valueListComplete"] is True
    plain = index_metadata_response(corpus, "t")
    assert "fieldValues" not in plain["metadataFields"]["role"]


def test_docs_includetokencount(small_corpus):
    corpus, _ = small_corpus
    resp = docs_response(corpus, '"word00001"', number=2,
                         includetokencount=True)
    n = resp["summary"]["tokensInMatchingDocuments"]
    assert n > 0
    # equals the sum of matched docs' lengths
    full = docs_response(corpus, '"word00001"', number=10**6)
    want = sum(d["docInfo"]["lengthInTokens"] for d in full["docs"])
    assert n == want
    resp = docs_response(corpus, filter="role:user", number=2,
                         includetokencount=True)
    assert resp["summary"]["tokensInMatchingDocuments"] > 0

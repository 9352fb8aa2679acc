"""LuceneQL filter compiler + BLS parameter-algebra facade tests
(reference BlsUtils.java:44-106 and PlainWebserviceParams.java:19-110)."""

import pytest

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.cql.luceneql import parse_luceneql

from micro_corpus import spans_pdf, transcripts_pdf


# ---- pure parser tests (no Spark) ----------------------------------------

def test_luceneql_equality_and_bool():
    assert parse_luceneql("role:user") == "(role = 'user')"
    assert (
        parse_luceneql("role:user AND tool:db")
        == "((role = 'user') AND (tool = 'db'))"
    )
    # +/- signs: MUST / MUST_NOT
    assert parse_luceneql("+role:user -tool:db") == (
        "((role = 'user') AND (NOT (tool = 'db')))"
    )
    # juxtaposition = OR (stock Lucene QueryParser default operator;
    # reference BlsUtils.parseFilter never calls setDefaultOperator)
    assert parse_luceneql("role:en role:de") == (
        "((role = 'en') OR (role = 'de'))"
    )
    # SHOULD clauses don't filter when a MUST exists
    assert parse_luceneql("role:en +tool:db") == "(tool = 'db')"
    assert parse_luceneql("NOT role:en") == "(NOT (role = 'en'))"


def test_luceneql_wildcard_and_range():
    assert parse_luceneql("conv_id:c00*") == "(conv_id LIKE 'c00%')"
    assert parse_luceneql("turn_idx:[2 TO 5]") == "(turn_idx >= 2 AND turn_idx <= 5)"
    assert parse_luceneql("turn_idx:{2 TO 5}") == "(turn_idx > 2 AND turn_idx < 5)"
    assert parse_luceneql("turn_idx:[* TO 9]") == "(turn_idx <= 9)"


# ---- facade over the 4-doc corpus ----------------------------------------

@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("microfac") / "idx")
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


def test_search_hits_with_filter(micro):
    out = micro.search(patt='"the"', filter="conv_id:doc0", filterlang="luceneql")
    got = sorted((r["doc_id"], r["start"]) for r in out.collect())
    assert got == [(0, 0), (0, 6)]


def test_search_kwic_window(micro):
    out = micro.search(patt='"the"', first=0, number=2, wordsaroundhit=1)
    rows = out.orderBy("doc_id", "start").collect()
    assert len(rows) == 2
    # KWIC shows the original case-preserved word (reference Kwic)
    assert rows[0]["match"] == "The" and rows[0]["right"] == "quick"


def test_search_grouped_by_field(micro):
    out = micro.search(patt='"the"', group="field:conv_id")
    m = {r["field_conv_id"]: r["size"] for r in out.collect()}
    assert m == {"doc0": 2, "doc2": 1, "doc3": 1}


def test_search_viewgroup(micro):
    out = micro.search(patt='"qu.*"', group="hit:word", viewgroup="quick")
    got = sorted((r["doc_id"], r["start"]) for r in out.collect())
    assert got == [(0, 1)]


def test_search_docs_only(micro):
    out = micro.search(filter="conv_id:doc*", group="role")
    rows = out.collect()
    assert rows[0]["role"] == "user" and rows[0]["n_docs"] == 4


def test_search_colloc(micro):
    out = micro.search(patt='"fox"', calc="colloc", wordsaroundhit=1)
    m = {r["term"]: r["freq"] for r in out.collect()}
    assert m == {"brown": 1, "jumps": 1}


def test_search_contextql_pattlang(micro):
    out = micro.search(patt='pos = "nou"', pattlang="contextql")
    assert out.count() == 4


def test_group_by_decade(micro):
    out = micro.search(patt='"the"', group="decade")
    rows = out.collect()
    assert [(r["decade"], r["n_docs"]) for r in rows] == [(2020, 3)]


def test_doc_info_contents_fields(micro):
    info = micro.doc_info(2)
    assert info["conv_id"] == "doc2" and info["num_tokens"] == 6
    assert micro.doc_contents(2) == "May the Force be with you"
    assert micro.doc_info(99) is None and micro.doc_contents(99) is None
    f = micro.fields()
    assert "lemma" in f["annotated_field"]["annotations"]
    assert f["n_docs"] == 4


def test_search_cache_and_status(micro):
    c0 = micro.cache_info()
    out1 = micro.search(patt='"the"', usecache=True)
    n1 = out1.count()
    out2 = micro.search(patt='"the"', usecache=True)
    assert out2 is out1  # same persisted handle
    assert out2.count() == n1
    info = micro.cache_info()
    assert info["hits"] >= 1 and info["entries"] >= 1
    st = micro.status()
    assert st["status"] == "available" and st["n_docs"] == 4
    # different params -> different entry
    micro.search(patt='"quick"', usecache=True)
    assert micro.cache_info()["entries"] >= 2
    micro.cache.clear()
    assert micro.cache_info()["entries"] == 0


def test_multi_criteria_group(micro):
    # compound grouping (HitPropertyMultiple): role metadata x hit text
    out = micro.search(patt='"a.*"', group="field:role,hit")
    rows = {(r["field_role"], r["hit"]): (r["size"], r["n_docs"]) for r in out.collect()}
    # 'aap' occurs 5x in doc1; all docs role=user
    assert all(k[0] == "user" for k in rows)
    assert rows[("user", "aap")][0] == 5
    # single-doc groups report n_docs=1
    assert rows[("user", "aap")][1] == 1


def test_multi_criteria_sort(micro):
    # sort by (wordright, hit) — compound sort keys
    h = micro.search(patt='"the"', sort="wordright:word,hit")
    rows = h.collect()
    assert len(rows) > 1
    # verify ordering matches the computed keys
    from blacklab_spark.search.results import Hits
    hh = micro.find('"the"')
    df, keys = hh._with_keys(["wordright:word", "hit"])
    expect = [
        (r["doc_id"], r["start"], r["end"])
        for r in df.orderBy(*keys, "doc_id", "start", "end").collect()
    ]
    got = [(r["doc_id"], r["start"], r["end"]) for r in rows]
    assert got == expect


def test_capture_and_decade_criteria(micro):
    out = micro.find('x:"a.*"').group_by(["capture:x", "decade"])
    rows = {(r["capture_x"], r["decade"]): r["size"] for r in out.collect()}
    assert rows[("aap", 2020)] == 5


def test_field_values(micro):
    fv = micro.field_values("role")
    assert fv["values"] == {"user": 4}
    assert fv["valueListComplete"] is True
    fv2 = micro.field_values("conv_id", limit=2)
    assert len(fv2["values"]) == 2 and fv2["valueListComplete"] is False


# ---- pattgapdata / hitfilter / usecontent / facets -------------------------

def test_fill_gaps_pure():
    from blacklab_spark.cql.gapfiller import fill_gaps, has_gaps

    assert has_gaps('"@@" "fox"') and not has_gaps('"the"')
    # positional fill, missing trailing column -> empty, quotes escaped
    assert fill_gaps('"@@" "@@"', "the\tquick\nlazy") == [
        '"the" "quick"',
        '"lazy" ""',
    ]
    assert fill_gaps('"@@"', 'sa"y') == ['"sa\\"y"']


def test_search_pattgapdata(micro):
    # two TSV rows OR'd together (reference GapFiller.java:88-110)
    out = micro.search(patt='"@@" "@@"', pattgapdata="the\tquick\nlazy\tdog")
    got = sorted((r["doc_id"], r["start"], r["end"]) for r in out.collect())
    assert got == [(0, 0, 2), (0, 7, 9)]


def test_search_hitfilter(micro):
    # "the" occurs at doc0:0, doc0:6, doc2:1, doc3:8; keep only the one
    # whose right neighbor is "quick" (HitsFiltered.java semantics)
    out = micro.search(
        patt='"the"', hitfiltercrit="wordright", hitfilterval="quick"
    )
    got = [(r["doc_id"], r["start"]) for r in out.collect()]
    assert got == [(0, 0)]
    # doc-property criterion
    out2 = micro.search(
        patt='"the"', hitfiltercrit="field:conv_id", hitfilterval="doc2"
    )
    assert [(r["doc_id"], r["start"]) for r in out2.collect()] == [(2, 1)]


def test_search_usecontent_orig(micro):
    out = micro.search(patt='"fox"', wordsaroundhit=2, usecontent="orig")
    rows = out.collect()
    assert len(rows) == 1
    assert "<hl>fox</hl>" in rows[0]["snippet"]
    assert rows[0]["match_text"] == "fox"


def test_search_facets(micro):
    out = micro.search(patt='"the"', facets="role,decade")
    rows = {(r["facet"], r["value"]): r["n_docs"] for r in out.collect()}
    # docs 0, 2, 3 contain "the"
    assert rows[("role", "user")] == 3
    assert rows[("decade", "2020")] == 3


def test_search_fimatch_override(micro):
    # fimatch=0 disables forward-index probing for the request; results
    # must be identical to the probed plan (reference fimatch / nfaFactor,
    # ClauseCombinerNfa.java:66-74)
    probed = micro.search(patt='"the" "quick"')
    joined = micro.search(patt='"the" "quick"', fimatch=0)
    a = sorted((r["doc_id"], r["start"], r["end"]) for r in probed.collect())
    b = sorted((r["doc_id"], r["start"], r["end"]) for r in joined.collect())
    assert a == b == [(0, 0, 2)]
    # the override is restored afterwards
    assert micro.cfg.fi_probe_ratio not in (0,)


def test_snippet_escapes_markup(spark, tmp_path_factory):
    import pandas as pd

    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.search.snippets import snippets

    d = str(tmp_path_factory.mktemp("esc") / "idx")
    pdf = pd.DataFrame(
        {
            "conv_id": ["e0"], "turn_idx": [0], "role": ["user"],
            "text": ["use <b> fox & tag"], "tool": [""],
            "ts": pd.to_datetime(["2024-01-01"]),
        }
    )
    c = Corpus.build(spark, spark.createDataFrame(pdf), d,
                     EngineConfig(segment_size=2, block_size=4))
    h = c.find('"fox"')
    row = snippets(c, h.df, context_chars=20).collect()[0]
    assert "<hl>fox</hl>" in row["snippet"]
    assert "&lt;b&gt;" in row["snippet"] and "&amp;" in row["snippet"]
    assert "<b>" not in row["snippet"]


def test_running_count_and_waitfortotal(micro):
    """BLS waitfortotal / stillCounting semantics (reference
    HitsAbstract.ensureResultsRead counts on a background thread;
    PlainWebserviceParams.java:19-110): the windowed response returns
    while the FULL count runs concurrently; waitfortotal=yes blocks."""
    hits = micro.find('"the"')
    expected = hits.count()
    assert expected > 0

    # direct handle: the async total is exact, and once finished the
    # running tally equals it and still_counting is False
    rc = hits.count_running()
    assert rc.total(timeout=120) == expected
    assert rc.running == expected
    assert rc.still_counting is False

    # facade, blocking: exact int attached next to the window
    win = micro.search(patt='"the"', first=0, number=2, waitfortotal=True)
    assert win.count() <= 2
    assert win._blspark_total == expected

    # facade, non-blocking: a live handle; the window is usable before
    # the count resolves, and the total converges to the exact value
    win2 = micro.search(patt='"the"', first=0, number=2, waitfortotal=False)
    rows = win2.collect()
    assert len(rows) <= 2
    rc2 = win2._blspark_total
    assert rc2.running >= 0  # readable while (possibly) still counting
    assert rc2.total(timeout=120) == expected


def test_kwic_listvalues_annotations(micro):
    """Per-annotation KWIC columns (reference Kwic.java:19-96 carries
    every annotation per context token, TestKwic.java:26-49; BLS
    `listvalues` picks which appear)."""
    out = micro.search(
        patt='"force"', wordsaroundhit=2, listvalues="lemma,pos"
    ).collect()
    assert len(out) == 1
    r = out[0]
    # doc2: May the [Force] be with you — word view shows original case
    assert r["match"] == "Force" and r["left"] == "May the"
    assert r["match_lemma"] == "force" and r["left_lemma"] == "may the"
    assert r["match_pos"] == "nou" and r["left_pos"] == "vrb art"
    assert r["right_pos"] == "vrb pre"


def test_subtree_cache_reuses_hits_across_decorations(small_corpus):
    """BlsCache subtree sharing (reference BlsCacheEntry,
    doc/blacklab-internals.md:213-241): a second request over the SAME
    pattern with a different sort/group must reuse the cached hit set —
    its plan reads the persisted hits (InMemoryTableScan) and contains
    NO postings scan, i.e. the span query never re-runs."""
    corpus, _ = small_corpus
    corpus.cache.clear()
    r1 = corpus.search(patt='"word00004"', sort="hit", usecache=True)
    r1.count()  # materialize the subtree entry
    r2 = corpus.search(patt='"word00004"', sort="right", usecache=True)
    plan = r2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # no LIVE postings scan: InMemoryRelation prints its (cached) build
    # plan as an annotation, so only the part of the plan ABOVE it must
    # be postings-free — the span query itself never re-runs
    assert "postings" not in plan.split("InMemoryRelation")[0]
    # and a different-sort request returns the same hit SET
    k1 = {(r["doc_id"], r["start"]) for r in r1.collect()}
    k2 = {(r["doc_id"], r["start"]) for r in r2.collect()}
    assert k1 == k2 and k1
    # grouping over the same pattern also reuses the subtree
    g = corpus.search(patt='"word00004"', group="field:role", usecache=True)
    gplan = g._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in gplan
    assert "postings" not in gplan.split("InMemoryRelation")[0]


def test_group_by_context_words_param(micro):
    # BLS group=context:<ann>:<sens>:<spec> (reference
    # HitPropertyContextWords serialization; TestHitProperties
    # expectations over the same corpus)
    out = micro.search(patt='"the"', group="context:word:s:L1-1;H1-2")
    key = [c for c in out.columns if c.startswith("context_")][0]
    got = {r[key]: r["size"] for r in out.collect()}
    assert got == {"~ The ~": 1, "over the ~": 1, "May the ~": 1,
                   "is the ~": 1}
    # viewgroup drills into one context-words group
    vg = micro.search(
        patt='"the"', group="context:word:s:L1-1;H1-2",
        viewgroup="over the ~", wordsaroundhit=1,
    )
    rows = vg.collect()
    assert len(rows) == 1 and rows[0]["match"] == "the"
    # sort through the same DSL
    s = micro.search(patt='"the"', sort="context:word:i:L1-1")
    got = [(r["doc_id"], r["start"]) for r in s.select("doc_id", "start").collect()]
    assert got == [(3, 8), (2, 1), (0, 6), (0, 0)]


def test_sort_survives_window_and_kwic(micro):
    # Pagination walks the SORTED hits (reference windows over the
    # sorted Hits object, HitsAbstract.java:154-196), and KWIC rows
    # come back in sorted order — a plain orderBy would be destroyed
    # by window()'s re-order and kwic()'s context join.
    out = micro.search(patt="[]", sort="hit", wordsaroundhit=1)
    m = [r["match"] for r in out.collect()]
    assert m == sorted(m, key=str.lower)
    out = micro.search(patt="[]", sort="hit", wordsaroundhit=1, number=3)
    assert [r["match"] for r in out.collect()] == ["aap", "aap", "aap"]
    # plain sorted hits: hidden _ord keys stay out of the schema
    out = micro.search(patt="[]", sort="hit", number=3)
    assert out.columns == ["doc_id", "start", "end"]
    assert [(r["doc_id"], r["start"]) for r in out.collect()] == [
        (1, 2), (1, 8), (1, 9)]
    # original-content concordances keep the sort too
    out = micro.search(patt='"the"', sort="hit", wordsaroundhit=2,
                       usecontent="orig")
    texts = [r["match_text"] for r in out.collect()]
    assert texts == sorted(texts, key=str.lower)


def test_field_sort_survives_window_and_kwic(small_corpus):
    # a field sort keeps its key (_ord0) through window() and kwic(),
    # like every other sort (reference windows over the sorted Hits);
    # the page at 430 crosses the assistant -> tool boundary
    corpus, _ = small_corpus
    role = {r["doc_id"]: r["role"]
            for r in corpus.doc_stats.select("doc_id", "role").collect()}
    patt = '"word00003" []'
    for sort in ("field:role", "-field:role"):
        full = [(r["doc_id"], r["start"])
                for r in corpus.search(patt=patt, sort=sort).collect()]
        roles = [role[d] for d, _ in full]
        assert roles == sorted(roles, reverse=sort.startswith("-"))
        for first in (0, 430):
            for extra in ({}, {"wordsaroundhit": 1}):
                out = corpus.search(patt=patt, sort=sort, first=first,
                                    number=10, **extra)
                got = [(r["doc_id"], r["start"]) for r in out.collect()]
                assert got == full[first:first + 10], (sort, first, extra)


def test_group_size_sort_docs_only_and_decade(micro):
    # sort=size/-size on a docs-only grouped request (count column
    # n_docs) and on a decade grouping
    for group, patt, size in (("role", None, "n_docs"),
                              ("decade", '"the"', "size")):
        for sort in ("size", "-size"):
            out = micro.search(patt=patt, group=group, sort=sort).collect()
            sizes = [r[size] for r in out]
            assert sizes and sizes == sorted(sizes,
                                             reverse=sort == "size")


def test_viewgroup_every_single_criterion(micro):
    # viewgroup drills into one group of any single criterion that
    # group accepts: filter_by_property(group, viewgroup)
    out = micro.search(patt='x:[pos="adj"] "fox"', group="capture:x",
                       viewgroup="brown")
    assert [(r["doc_id"], r["start"]) for r in out.collect()] == [(0, 2)]
    out = micro.search(patt='"the"', group="wordright", viewgroup="lazy")
    assert [(r["doc_id"], r["start"]) for r in out.collect()] == [(0, 6)]


def test_viewgroup_compound_is_rejected(micro):
    with pytest.raises(ValueError, match="single group criterion"):
        micro.search(patt='"the"', group="field:role,hit",
                     viewgroup="user, the")


def test_group_level_sort(micro):
    # sort=identity / -size on grouped requests (reference
    # HitGroupProperty.deserialize: size desc-by-default, identity asc,
    # '-' reverses)
    out = micro.search(patt='"the"', group="hit", sort="identity")
    assert [r["hit"] for r in out.collect()] == ["the"]
    out = micro.search(patt="[]", group="field:role", sort="identity")
    keys = [r["field_role"] for r in out.collect()]
    assert keys == sorted(keys)
    out = micro.search(patt="[]", group="field:role", sort="-identity")
    assert [r["field_role"] for r in out.collect()] \
        == sorted(keys, reverse=True)
    by_size = micro.search(patt="[]", group="hit:lemma", sort="size")
    sizes = [r["size"] for r in by_size.collect()]
    assert sizes == sorted(sizes, reverse=True)
    asc = micro.search(patt="[]", group="hit:lemma", sort="-size")
    assert [r["size"] for r in asc.collect()] == sorted(sizes)
    # docs-only grouped request honors identity sort too
    d = micro.search(group="role", sort="identity")
    roles = [r["role"] for r in d.collect()]
    assert roles == sorted(roles)


def test_doc_level_hit_properties(micro):
    # the remaining HitProperty.deserialize names (reference
    # HitProperty.java:67-110): doc/docid, fieldlen, numhits
    g = micro.search(patt='"the"', group="docid", sort="identity")
    rows = [(r["docid"], r["size"]) for r in g.collect()]
    assert rows == [(0, 2), (2, 1), (3, 1)]
    s = micro.search(patt='"the"', sort="-numhits,docid")
    got = [(r["doc_id"], r["start"]) for r in
           s.select("doc_id", "start").collect()]
    assert got[:2] == [(0, 0), (0, 6)]  # doc 0 has 2 hits -> first
    g = micro.search(patt='"the"', group="fieldlen", sort="identity")
    assert [(r["fieldlen"], r["size"]) for r in g.collect()] == [
        (6, 1), (9, 2), (10, 1)]


def test_csv_sepline_and_summary(micro):
    # csvsepline prepends Excel's separator declaration
    # (WriteCsv.java:159); csvsummary appends summary.* rows
    csv = micro.search(patt='"the"', outputformat="csv",
                       csvsepline=True, csvsummary=True)
    lines = csv.splitlines()
    assert lines[0] == "sep=,"
    assert lines[1].startswith("doc_id,")
    assert any(ln.startswith('summary.searchParam.patt,') for ln in lines)
    n = next(ln for ln in lines if ln.startswith("summary.numberOfResults"))
    assert n.split(",")[1] == "4"  # 4 hits of 'the'


def test_docpid_restricts_search(micro):
    # BLS docpid: a hits request scoped to ONE document (reference
    # BlackLabServerParams.java:34 "docs to search")
    s = micro.search(patt='"the"', docpid="doc0/0")
    assert {r["doc_id"] for r in s.collect()} == {0}
    # bare doc_id works as a pid too
    s2 = micro.search(patt='"the"', docpid="2")
    assert [r["doc_id"] for r in s2.collect()] == [2]
    # docs-only request scoped to the pid
    d = micro.search(docpid="doc3/0")
    assert [r["doc_id"] for r in d.collect()] == [3]
    # unknown pid is a request error, not silence
    import pytest as _pytest
    with _pytest.raises(ValueError, match="document not found"):
        micro.search(patt='"the"', docpid="nope/9")


def test_resolve_pid(micro):
    from blacklab_spark.search.facade import resolve_pid

    assert resolve_pid(micro, "doc1/0") == 1
    assert resolve_pid(micro, "3") == 3
    assert resolve_pid(micro, "unknown") is None
    assert resolve_pid(micro, "doc1/x") is None


def test_annotation_values_subprops(micro):
    # reference RequestHandlerFieldInfo `subprops`: annotation value
    # lists + subannotation listing (BlackLabServerParams.java:57,421)
    from blacklab_spark.search.facade import annotation_values

    # word@i has postings: values come from the terms dict
    av = annotation_values(micro, "word")
    assert av["fromPostings"] is True
    assert av["values"]["the"] == 4
    assert av["values"]["aap"] == 5
    assert av["valueListComplete"] is True
    # pos has no postings field: sidecar fallback, flagged as such
    ap = annotation_values(micro, "pos")
    assert ap["fromPostings"] is False
    assert ap["values"]["vrb"] == 6
    assert ap["values"]["art"] == 4
    assert ap["subannotations"] == []
    import pytest as _pytest
    with _pytest.raises(KeyError):
        annotation_values(micro, "nosuch")


def test_pattlang_corpusql_alias(micro):
    # the reference's default pattlang NAME is "corpusql"
    # (BlackLabServerParams.java:96); bcql is this repo's alias
    a = {tuple(r) for r in micro.search(patt='"the"').collect()}
    b = {tuple(r) for r in
         micro.search(patt='"the"', pattlang="corpusql").collect()}
    assert a == b and a
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown pattlang"):
        micro.search(patt='"the"', pattlang="sparql")


def test_filterlang_contextql(micro):
    # reference BlsUtils.parseFilter:92-100: filterlang=contextql keeps
    # the parsed CompleteQuery's metadata-filter side
    base = {tuple(r) for r in
            micro.search(patt='"the"', filter="role:user").collect()}
    got = {tuple(r) for r in
           micro.search(patt='"the"', filter='role = "user"',
                        filterlang="contextql").collect()}
    assert got == base and got
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no metadata clause"):
        micro.search(patt='"x"', filter='"the"', filterlang="contextql")


def test_term_frequencies_annotation(micro):
    from blacklab_spark.search.results import term_frequencies

    df = term_frequencies(micro, annotation="pos")
    freqs = {r["term"]: r["freq"] for r in df.collect()}
    # pos counts over the micro corpus (doc1 has empty annotations,
    # which surface as '' values — excluded from the real tags' counts)
    assert freqs["vrb"] == 6 and freqs["art"] == 4
    # filtered to one doc's worth via metadata
    df2 = term_frequencies(micro, annotation="pos",
                           filter_expr="conv_id = 'doc3'")
    f2 = {r["term"]: r["freq"] for r in df2.collect()}
    assert f2["vrb"] == 3 and f2["pre"] == 2

"""BlackLab-Server parameter-algebra facade.

One entry point mirroring the BLS request surface (reference
server/.../requesthandlers/RequestHandler.java:54-73 endpoints and
wslib/.../lib/PlainWebserviceParams.java:19-110 parameters):

    search(corpus,
           patt=..., pattlang="bcql"|"contextql",
           filter=..., filterlang="luceneql"|"sql",
           sort=..., group=..., viewgroup=...,
           sample=..., samplenum=..., sampleseed=...,
           first=..., number=..., wordsaroundhit=...,
           calc=...)

Returns a DataFrame shaped by the terminal operation, exactly like the
BLS response kinds: hits (KWIC rows), hits-grouped, docs, docs-grouped,
or collocations (`calc="colloc"`). No HTTP layer — the parameter
algebra IS the capability being grafted.

``sort``, ``group`` and ``viewgroup`` name hit properties — one
criterion or a comma-separated compound — and all go through the one
property path in search.results (`Hits.sort_by`, `Hits.group_by`,
`Hits.filter_by_property`). Hits-grouped results have one schema: a
key column per criterion (`group_key_name`), then ``size`` (hits) and
``n_docs`` (documents). A docs-only grouping (no ``patt``) has one key
column named the same way, then ``n_docs``; its criterion, like a
facet's, is a document criterion resolved by `results.doc_key`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from blacklab_spark.search.results import (
    Hits, doc_key, group_key_name, parse_criteria,
)


def resolve_pid(corpus, pid: str) -> int | None:
    """Document pid → doc_id. The stable synthetic pid is
    ``"<conv_id>/<turn_idx>"`` (transcript turns have no configured
    pidField; see search/server.py divergence notes); a bare integer is
    taken as a doc_id directly — the reference falls back to Lucene doc
    ids when no pidField is configured (reference docPid parameter,
    BlackLabServerParams.java:271)."""
    from pyspark.sql import functions as F

    if pid.isdigit():
        return int(pid)
    if "/" not in pid:
        return None
    conv_id, _, turn_idx = pid.rpartition("/")
    if not turn_idx.isdigit():
        return None
    rows = (
        corpus.doc_stats
        .filter((F.col("conv_id") == conv_id)
                & (F.col("turn_idx") == int(turn_idx)))
        .select("doc_id").collect()
    )
    return rows[0]["doc_id"] if rows else None


def annotation_values(corpus, annotation: str, limit: int = 200) -> dict:
    """Indexed value list of one annotation, with its subannotations
    (reference RequestHandlerFieldInfo ``subprops`` — "show all
    subannotations and values for annotation",
    BlackLabServerParams.java:57,421; subannotation naming is
    ``parent_sub``, the AnnotatedFieldNameUtil subannotation-separator
    convention). Values come from the terms dict when the annotation
    has its own postings field (a pruned scan over C terms); otherwise
    from the forward-index sidecar column — a corpus scan acceptable
    for the explore page, flagged ``fromPostings: False``."""
    from pyspark.sql import functions as F

    anns = corpus.fields()["annotated_field"]["annotations"]
    if annotation not in anns:
        raise KeyError(f"unknown annotation: {annotation}")
    field = f"{annotation}@i"
    from_postings = field in corpus.index_fields
    if from_postings:
        rows = (
            corpus.terms_for(field)
            .orderBy(F.desc("cf"), "term")
            .limit(limit + 1)
            .collect()
        )
        values = {r["term"]: int(r["cf"]) for r in rows[:limit]}
    else:
        # tokens_i and the ann_* sidecars are array<string> columns
        src = F.col(
            "tokens_i" if annotation == "word" else f"ann_{annotation}"
        )
        rows = (
            corpus.tokenized
            .select(F.explode(src).alias("v"))
            .groupBy("v").agg(F.count(F.lit(1)).alias("cf"))
            .orderBy(F.desc("cf"), "v").limit(limit + 1).collect()
        )
        values = {r["v"]: int(r["cf"]) for r in rows[:limit]}
    return {
        "annotation": annotation,
        "values": values,
        "valueListComplete": len(rows) <= limit,
        "fromPostings": from_postings,
        "subannotations": sorted(
            a for a in anns if a.startswith(annotation + "_")
        ),
    }


def _sort_groups(g: DataFrame, sort: str | None, keys: list[str],
                 size: str) -> DataFrame:
    """Group-level sort on a grouped result with key columns ``keys``
    and count column ``size`` (reference HitGroupProperty/
    DocGroupProperty deserialization: ``size`` — descending by default,
    HitGroupPropertySize.sortDescendingByDefault — and ``identity``
    (the group key) ascending; a ``-`` prefix reverses). Hit-level sort
    criteria don't apply to grouped output and leave the default
    size-desc order."""
    from pyspark.sql import functions as F

    if not sort:
        return g
    rev = sort.startswith("-")
    crit = sort[1:] if rev else sort
    if crit in ("size", "numhits"):
        return g.orderBy(
            F.col(size).asc() if rev else F.col(size).desc(), *keys
        )
    if crit == "identity":
        return g.orderBy(
            *[F.col(k).desc() if rev else F.col(k).asc() for k in keys]
        )
    return g


def search(
    corpus,
    patt: str | None = None,
    pattlang: str = "bcql",
    pattgapdata: str | None = None,
    filter: str | None = None,  # noqa: A002 - BLS parameter name
    filterlang: str = "luceneql",
    sort: str | None = None,
    group: str | None = None,
    viewgroup: str | None = None,
    hitfiltercrit: str | None = None,
    hitfilterval: str | None = None,
    sample: float | None = None,
    samplenum: int | None = None,
    sampleseed: int = 42,
    first: int = 0,
    number: int | None = None,
    wordsaroundhit: int | None = None,
    usecontent: str = "fi",
    calc: str | None = None,
    facets: str | None = None,
    maxretrieve: int | None = None,
    outputformat: str | None = None,
    csvsepline: bool = False,
    csvsummary: bool = False,
    fimatch: int | None = None,
    waitfortotal: bool | None = None,
    listvalues: str | None = None,
    docpid: str | None = None,
    subtree_cache=None,
) -> DataFrame:
    """Run one BLS-style request against the corpus.

    ``maxretrieve`` caps how many hits are processed (BLS maxretrieve /
    maxHitsToProcess, reference HitsFromQuery.java:63-70);
    ``outputformat='csv'`` returns a CSV string of the final result
    (the hits-csv/docs-csv endpoints); ``pattgapdata`` fills `@@` gaps
    in ``patt`` from TSV rows and ORs the filled patterns (reference
    GapFiller.java); ``hitfiltercrit``/``hitfilterval`` keep hits whose
    property equals the value (HitsFiltered.java); ``usecontent`` picks
    the concordance source — 'fi' (forward index, default) or 'orig'
    (content store, reference ConcordanceType / BlackLabServerParams
    .java:104,357); ``facets`` returns independent 1-D doc counts
    (facet, value, n_docs) for the comma-separated doc criteria
    (Facets.java:9); ``fimatch`` overrides the forward-index strategy
    threshold for this request — 0 disables FI probing, a positive
    value is the df ratio above which a neighbor is probed over the
    forward index instead of joined (the BLS fimatch / nfaFactor knob,
    reference ClauseCombinerNfa.java:66-74, default 900);
    ``listvalues`` (comma-separated annotation names) adds per-
    annotation context columns ``left_<a>/match_<a>/right_<a>`` to the
    KWIC output (the reference includes every annotation in hit
    contexts, Kwic.java:19-96; BLS listvalues restricts which);
    ``waitfortotal`` mirrors the BLS parameter (reference
    PlainWebserviceParams.java:19-110, HitsAbstract.ensureResultsRead):
    when set on a hits request, the FULL result count (pre-window) is
    attached to the returned DataFrame as ``._blspark_total`` — with
    waitfortotal=True an exact int (the request blocked on counting),
    with waitfortotal=False a live RunningCount handle whose
    ``.running``/``.still_counting`` expose the growing tally while the
    windowed response is already usable.

    The fimatch override runs the request against a SHALLOW COPY of the
    corpus handle with the adjusted cfg — shared caches (tables, term
    stats, search cache) are reused by reference, but the caller's
    handle is never mutated, so concurrent searches on the same handle
    plan with their own ratio."""
    if fimatch is not None:
        import copy
        import dataclasses

        scoped = copy.copy(corpus)
        scoped.cfg = dataclasses.replace(corpus.cfg, fi_probe_ratio=fimatch)
        return search(
            scoped, patt=patt, pattlang=pattlang, pattgapdata=pattgapdata,
            filter=filter, filterlang=filterlang, sort=sort, group=group,
            viewgroup=viewgroup, hitfiltercrit=hitfiltercrit,
            hitfilterval=hitfilterval, sample=sample, samplenum=samplenum,
            sampleseed=sampleseed, first=first, number=number,
            wordsaroundhit=wordsaroundhit, usecontent=usecontent,
            calc=calc, facets=facets, maxretrieve=maxretrieve,
            outputformat=outputformat, csvsepline=csvsepline,
            csvsummary=csvsummary, waitfortotal=waitfortotal,
            listvalues=listvalues, docpid=docpid,
            subtree_cache=subtree_cache,
        )
    from pyspark.sql import functions as F

    from blacklab_spark.search.results import export_csv

    _state: dict = {"total": None}

    def _out(result):
        if outputformat == "csv":
            csv = export_csv(
                result if isinstance(result, DataFrame) else result.df
            )
            if csvsummary:
                # summary rows appended as CSV records (reference
                # WriteCsv.addSummaryCsvCommon: summary.searchParam.*
                # keys padded to the data column count)
                lines = csv.splitlines()
                ncols = lines[0].count(",") + 1 if lines else 2
                pad = "," * max(0, ncols - 2)
                n_results = max(0, len(lines) - 1)  # data rows only
                echo = {"patt": patt, "filter": filter, "sort": sort,
                        "group": group, "first": first, "number": number}
                for k, v in echo.items():
                    if v is not None:
                        lines.append(
                            f'summary.searchParam.{k},"{v}"{pad}'
                        )
                lines.append(f"summary.numberOfResults,{n_results}{pad}")
                csv = "\r\n".join(lines) + "\r\n"
            if csvsepline:
                # Excel separator declaration (WriteCsv.java:159)
                csv = "sep=,\r\n" + csv
            return csv
        if _state["total"] is not None and isinstance(result, DataFrame):
            # hits-request summary channel: exact int (waitfortotal=yes)
            # or a live RunningCount handle (waitfortotal=no)
            result._blspark_total = _state["total"]
        return result

    # ---- filter → SQL expression -----------------------------------
    filter_sql = None
    if filter:
        if filterlang == "luceneql":
            from blacklab_spark.cql.luceneql import parse_luceneql

            filter_sql = parse_luceneql(filter)
        elif filterlang == "contextql":
            # the reference's other filterlang: parse the ContextQL
            # query and keep its metadata-filter side
            # (BlsUtils.parseFilter:92-100 -> CompleteQuery.filter())
            from blacklab_spark.cql.contextql import parse_contextql

            filter_sql = parse_contextql(filter).filter
            if filter_sql is None:
                raise ValueError(
                    "contextql filter query has no metadata clause"
                )
        elif filterlang == "sql":
            filter_sql = filter
        else:
            raise ValueError(f"unknown filterlang: {filterlang}")

    # ---- docpid → single-document restriction ----------------------
    # (reference BlackLabServerParams.java:34 "docs to search": a hits
    # request scoped to ONE document, the article-viewer flow)
    docpid_id = None
    if docpid is not None:
        docpid_id = resolve_pid(corpus, docpid)
        if docpid_id is None:
            raise ValueError(f"document not found: {docpid}")

    # ---- pattern → Hits --------------------------------------------
    if patt is None:
        # docs-only request (reference DocResults.java:86-88)
        docs = corpus.doc_stats
        if filter_sql:
            docs = docs.filter(filter_sql)
        if docpid_id is not None:
            docs = docs.filter(F.col("doc_id") == docpid_id)
        if group:
            key = doc_key(group, docs.columns)
            if key is None:
                raise ValueError(f"unknown document property: {group!r}")
            name = group_key_name(group)
            g = (
                docs.groupBy(key.alias(name))
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .orderBy(F.desc("n_docs"), name)
            )
            return _out(_sort_groups(g, sort, [name], "n_docs"))
        return _out(docs)

    # "corpusql" is the reference's name for BCQL and its pattlang
    # default (BlackLabServerParams.java:96, BlsUtils.parsePatt:116)
    if pattlang in ("bcql", "corpusql"):
        if pattgapdata is not None:
            from blacklab_spark.cql.engine import translate
            from blacklab_spark.cql.gapfiller import parse_gap_query

            ast = parse_gap_query(patt, pattgapdata)
            hits = Hits(corpus, translate(corpus, ast))
        else:
            hits = corpus.find(patt)
    elif pattlang == "contextql":
        res = corpus.find_contextql(patt)
        if isinstance(res, DataFrame):  # metadata-only ContextQL
            return _out(res)
        hits = res
    else:
        raise ValueError(f"unknown pattlang: {pattlang}")

    if filter_sql:
        hits = hits.filter_docs(filter_sql)

    if docpid_id is not None:
        # plain predicate, not a join: one doc_id, pushed into the scan
        hits = Hits(corpus, hits.df.filter(F.col("doc_id") == docpid_id))

    # ---- hit-property filter (BLS hitfiltercrit/hitfilterval) ------
    if hitfiltercrit is not None:
        if hitfilterval is None:
            raise ValueError("hitfiltercrit requires hitfilterval")
        hits = hits.filter_by_property(hitfiltercrit, hitfilterval)

    # ---- facets (independent 1-D doc counts, Facets.java:9) --------
    crits = parse_criteria(facets) if facets is not None else []
    if crits:
        return _out(hits.facets(crits))

    # ---- result cap (maxHitsToProcess analogue) --------------------
    if maxretrieve is not None:
        hits = hits.limited(maxretrieve)

    # ---- SUBTREE reuse (reference BlsCache shares the hits of a
    # running search across requests — re-sorting/re-grouping a big
    # result must not re-run the span query, BlsCacheEntry /
    # doc/blacklab-internals.md:213-241). The hit SET is keyed by the
    # pattern+filter subtree only; sort/group/window decoration happens
    # over the persisted hits DataFrame.
    if subtree_cache is not None:
        import json as _json

        skey = "hits:" + _json.dumps(
            {
                "patt": patt, "pattlang": pattlang,
                "pattgapdata": pattgapdata, "filter": filter_sql,
                "hfc": hitfiltercrit, "hfv": hitfilterval,
                "maxretrieve": maxretrieve,
                "fimatch": corpus.cfg.fi_probe_ratio,
            },
            sort_keys=True,
        )
        frozen = hits
        hits = Hits(
            corpus, subtree_cache.get_or_compute(skey, lambda: frozen.df)
        )

    # ---- sample (before sort/group, like BLS) ----------------------
    if sample is not None or samplenum is not None:
        hits = hits.sample(n=samplenum, fraction=sample, seed=sampleseed)

    # ---- total count (BLS waitfortotal / stillCounting) -------------
    # counts the FULL post-filter hit set (not the requested window),
    # like the reference's numberOfHits summary field. waitfortotal=
    # False starts the count concurrently with the window job below.
    if waitfortotal is not None:
        rc = hits.count_running()
        _state["total"] = rc.total() if waitfortotal else rc

    # ---- hit properties: group / viewgroup / sort ------------------
    # one criterion or a comma-separated compound (HitPropertyMultiple);
    # every key derives in Hits._with_keys
    if group and viewgroup is None:
        crits = parse_criteria(group)
        g = hits.group_by(crits)
        return _out(_sort_groups(g, sort, g.columns[:len(crits)], "size"))

    if viewgroup is not None:
        # hits of one group (reference RequestHandler viewgroup param)
        if not group:
            raise ValueError("viewgroup requires group")
        crits = parse_criteria(group)
        if len(crits) != 1:
            raise ValueError(
                f"viewgroup needs a single group criterion; {group!r} "
                f"has {len(crits)}"
            )
        hits = hits.filter_by_property(crits[0], viewgroup)

    if sort:
        hits = hits.sort_by(parse_criteria(sort))

    # ---- collocations ----------------------------------------------
    if calc == "colloc":
        return _out(hits.collocations(wordsaroundhit))

    # ---- window + KWIC ----------------------------------------------
    if number is not None:
        hits = hits.window(first, number)
    ord_cols = hits._order_cols
    if wordsaroundhit is not None:
        if usecontent == "orig":
            # concordances from the content store (original text) with
            # the match highlighted, char-based context (reference
            # Concordances.java / ConcordanceType.CONTENT_STORE)
            from blacklab_spark.search.snippets import snippets

            snip = snippets(corpus, hits.df, context_chars=8 * wordsaroundhit)
            if ord_cols:
                # snippets drops the hidden sort keys; join them back
                # from the (already windowed, small) hit set and
                # re-assert the sorted order
                j = snip.join(
                    hits.df.select("doc_id", "start", "end", *ord_cols),
                    ["doc_id", "start", "end"],
                )
                snip = j.orderBy(*Hits(corpus, j)._hit_order()).drop(*ord_cols)
            return _out(snip)
        anns = [a.strip() for a in listvalues.split(",") if a.strip()] \
            if listvalues else None
        return _out(hits.kwic(wordsaroundhit, annotations=anns))
    # hidden sort keys stay out of the response schema; the projection
    # preserves the orderBy they established
    return _out(hits.df.drop(*ord_cols) if ord_cols else hits.df)

"""BlackLab-Server JSON response envelopes.

The reference's primary user surface is blacklab-server's JSON wire
format (server/.../requesthandlers/RequestHandlerHits.java:58-117
assembles {summary, hits, docInfos}; DStream.java:180-341 writes the
summary/hit/docInfo shapes; site/docs/server/rest-api/ documents the
endpoints). This module produces the same envelopes from the Spark
engine: the parameter algebra and all heavy lifting stay in
`search.facade` / `search.results` DataFrame plans — response assembly
collects ONLY the requested page (≤ `number` rows, the BLS pageSize
contract), so building a response is O(page), never O(corpus),
regardless of result-set size. Each page is read once: its rows carry
their documents' doc_stats columns (a hits page and a group's stored
hits through `Hits.kwic`, a docs page through `Hits.per_doc` or
`Corpus.doc_stats`), and `_doc_info` formats a docInfo from such a
row, so no envelope looks its documents up again.

Documented divergences from the reference:
- totals are exact and `stillCounting` is false unless the caller asks
  for a running count (`waitfortotal=False` still returns the exact
  total here once the count job finishes; the reference may answer
  with a partial count sooner);
- `docPid` is the stable synthetic pid `"<conv_id>/<turn_idx>"` (the
  reference reads a configured pidField; transcript turns have no
  natural pid field);
- `searchTime`/`countTime` are wall-clock ms of the Spark jobs this
  request ran (the reference reports its own processing timings);
- zero-length capture groups are never emitted: the span algebra
  records an optional clause that matched empty as NULL, so the
  default output equals the reference's `omitemptycaptures=true` mode
  (the reference default emits (pos,pos) spans; the parameter is
  accepted and is a no-op here).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def _sort_docs(df, sort: str | None):
    """DocProperty sort for docs responses (reference
    DocProperty.deserialize: ``field:<name>``, ``decade``, ``id``,
    ``numhits`` — numhits descending by default like
    DocPropertyNumberOfHits.sortDescendingByDefault; ``-`` reverses).
    Document criteria resolve through results.doc_key. Unknown criteria
    keep the default order."""
    from blacklab_spark.search.results import doc_key

    if not sort:
        return df
    rev = sort.startswith("-")
    crit = sort[1:] if rev else sort
    if crit in ("numhits", "size") and "n_hits" in df.columns:
        c = F.col("n_hits")
        return df.orderBy(c.asc() if rev else c.desc(), "doc_id")
    if crit in ("id", "docid"):
        c = F.col("doc_id")
        return df.orderBy(c.desc() if rev else c.asc())
    key = doc_key(crit, df.columns)
    if key is None:
        return df
    return df.orderBy(key.desc() if rev else key.asc(), "doc_id")


def _pid(row) -> str:
    return f"{row['conv_id']}/{row['turn_idx']}"


def _split(joined: str) -> list[str]:
    # kwic columns are space-joined token arrays; tokens never contain
    # spaces (the tokenizer excludes whitespace), so the split is
    # lossless for word/lemma/pos-style annotations. The `punct`
    # annotation's values may BE whitespace — request it via
    # Hits.with_context (arrays) rather than a listvalues context here.
    return joined.split(" ") if joined else []


def _context_entry(row, side: str, annotations: list[str]) -> dict:
    # DStream.contextList (DataStreamJson.java:122-145): one JSON key
    # per annotation, each a token-aligned list
    out = {"word": _split(row[side])}
    for a in annotations:
        out[a] = _split(row[f"{side}_{a}"])
    return out


_NOT_METADATA = ("doc_id", "segment_id", "num_tokens")


def _metadata_fields(corpus) -> list[str]:
    """The doc_stats columns a docInfo lists as metadata fields."""
    return [c for c in corpus.doc_stats.columns if c not in _NOT_METADATA]


def _doc_info(row, fields: list[str]) -> dict:
    """docInfo of one page row that carries its document's doc_stats
    columns (DStream.documentInfo, DStream.java:101-136): every
    metadata field in ``fields`` as a value list, plus lengthInTokens
    and mayView."""
    info = {k: [str(row[k])] for k in fields if row[k] is not None}
    info["lengthInTokens"] = row["num_tokens"]
    info["mayView"] = True
    return info


def _summary_common(search_param: dict, first: int, number: int,
                    actual: int, total: int, t_search: float) -> dict:
    # DStream.summaryCommonFields + summaryNumHits (DStream.java:180-258)
    return {
        "searchParam": {k: str(v) for k, v in search_param.items()
                        if v is not None},
        "searchTime": int(t_search * 1000),
        "countTime": int(t_search * 1000),
        "windowFirstResult": first,
        "requestedWindowSize": number,
        "actualWindowSize": actual,
        "windowHasPrevious": first > 0,
        "windowHasNext": first + number < total,
        "stillCounting": False,
    }


def _sum0(col: str):
    """Sum of a group-count column that reads 0, not null, over zero
    groups: a pattern without hits reports numberOfHits = 0."""
    return F.coalesce(F.sum(col), F.lit(0))


def _num_hits(hits_df) -> tuple[int, int]:
    """(numberOfHits, numberOfDocs) in ONE aggregation job."""
    row = hits_df.agg(
        F.count(F.lit(1)).alias("h"),
        F.countDistinct("doc_id").alias("d"),
    ).collect()[0]
    return row["h"], row["d"]


def hits_response(
    corpus,
    patt: str,
    first: int = 0,
    number: int = 50,
    wordsaroundhit: int = 5,
    listvalues: str | None = None,
    group: str | None = None,
    viewgroup: str | None = None,
    calc: str | None = None,
    facets: str | None = None,
    explain: bool = False,
    includegroupcontents: bool = False,
    **params,
) -> dict:
    """The /corpus/hits endpoint (RequestHandlerHits.java:30-117).

    Returns the hits page envelope; with ``group`` (and no
    ``viewgroup``) the hitGroups envelope; with ``calc='colloc'`` the
    tokenFrequencies envelope — the same dispatch the reference handler
    performs. ``explain=True`` adds the query-rewrite trace to the
    summary (RequestHandlerHits.java:84-100 explanation block). Extra
    ``params`` pass through to the facade (filter, sample,
    hitfiltercrit, maxretrieve, usecontent, ...); ``sort`` orders the
    hit set here, before the page window.
    """
    t0 = time.time()
    echo = {"patt": patt, "first": first, "number": number,
            "wordsaroundhit": wordsaroundhit, "group": group,
            "viewgroup": viewgroup, "calc": calc, "facets": facets,
            "listvalues": listvalues, **params}

    # ---- collocations envelope (dstreamCollocationsResponse) --------
    if calc == "colloc":
        df = corpus.search(patt=patt, calc="colloc",
                           wordsaroundhit=wordsaroundhit, **params)
        toks = {r[0]: r[1] for r in df.collect()}
        return {"tokenFrequencies": toks}

    # ---- grouped envelope (RequestHandlerHitsGrouped.java:40-104) ---
    if group is not None and viewgroup is None:
        return _hits_grouped(corpus, patt, group, echo, first, number,
                             wordsaroundhit, t0, params,
                             includegroupcontents)

    # ---- plain hits page ---------------------------------------------
    from blacklab_spark.search.results import Hits, parse_criteria

    anns = [a.strip() for a in listvalues.split(",") if a.strip()] \
        if listvalues else []
    # full hit set (filter/sample/viewgroup applied), no window: the
    # facade returns the bare hits DataFrame when no kwic/window params
    # are passed. The sort is applied here, so its keys reach the
    # window (the facade drops them from bare hits)
    maxcount = params.pop("maxcount", None)
    sort = params.pop("sort", None)
    params.pop("omitemptycaptures", None)  # accepted; see divergences
    full = corpus.search(patt=patt, viewgroup=viewgroup, group=group,
                         **params)
    stopped_counting = False
    if maxcount is not None:
        # BLS maxcount: cap the counting work (reference
        # maxHitsToCount / SearchSettings); the cap pushes into the
        # plan as a limit, and the summary reports the cap with
        # stoppedCountingHits=true like the reference
        cs = Hits(corpus, full).count_stats(max_count=int(maxcount))
        total = cs["count"]
        stopped_counting = cs["max_exceeded"]
        n_docs = None
        if not stopped_counting:
            _, n_docs = _num_hits(full)
    else:
        total, n_docs = _num_hits(full)
    # ONE collect of the page: positions, capture groups, contexts and
    # each hit's doc_stats columns, in the window's order (O(page))
    hits = Hits(corpus, full)
    if sort:
        hits = hits.sort_by(parse_criteria(sort))
    rows = hits.window(first, number).kwic(
        wordsaroundhit, annotations=anns or None
    ).collect()
    fields = _metadata_fields(corpus)
    cap_names = sorted(
        c[len("cap_"):-len("_start")]
        for c in full.columns
        if c.startswith("cap_") and c.endswith("_start")
    )
    out_hits, infos = [], {}
    for r in rows:
        pid = _pid(r)
        h = {"docPid": pid, "start": r["start"], "end": r["end"]}
        if cap_names:
            h["captureGroups"] = [
                {"name": n, "start": r[f"cap_{n}_start"],
                 "end": r[f"cap_{n}_end"]}
                for n in cap_names
                if r[f"cap_{n}_start"] is not None
                # omitemptycaptures (BlackLabServerParams.java:82) is
                # always-on here: empty captures are NULL (see module
                # divergences) and already skipped by this check
            ]
        h["left"] = _context_entry(r, "left", anns)
        h["match"] = _context_entry(r, "match", anns)
        h["right"] = _context_entry(r, "right", anns)
        out_hits.append(h)
        if pid not in infos:
            infos[pid] = _doc_info(r, fields)

    summary = _summary_common(echo, first, number, len(out_hits), total,
                              time.time() - t0)
    summary.update({
        "numberOfHits": total,
        "numberOfHitsRetrieved": total,
        "stoppedCountingHits": stopped_counting,
        "stoppedRetrievingHits": stopped_counting,
        "numberOfDocs": n_docs,
        "numberOfDocsRetrieved": n_docs,
        **_doc_fields(fields),
    })
    if explain:
        # {originalQuery, rewrittenQuery} (RequestHandlerHits explain
        # block); our rewrite trace carries the AST + rewrite list
        summary["explanation"] = {
            "originalQuery": patt,
            "rewrittenQuery": corpus.explain(patt),
        }
    resp = {
        "summary": summary,
        "hits": out_hits,
        "docInfos": infos,
    }

    # ---- facets entry (RequestHandlerHits facets block) --------------
    if facets:
        fdf = corpus.search(patt=patt, facets=facets, **params)
        # {facet: [{value, size}]} (saved-responses/hits/document
        # facets.json shape)
        fmap: dict[str, list] = {}
        for r in fdf.collect():
            fmap.setdefault(r["facet"], []).append(
                {"value": r["value"], "size": r["n_docs"]}
            )
        resp["facets"] = fmap
    return resp


def _hits_grouped(corpus, patt, group, echo, first, number,
                  wordsaroundhit, t0, params, contents: bool,
                  max_stored: int = 10) -> dict:
    """hitGroups envelope, optionally with per-group hits (BLS
    includegroupcontents; RequestHandlerHitsGrouped.java:60-66 attaches
    each group's stored hits). The groups are the facade's grouped
    result (Hits.group_by: key columns, ``size``, ``n_docs``); only the
    requested page is collected. The summary totals come from one
    aggregation over the same keys (Hits.group_summary), so a document
    counts once in numberOfDocs however many groups hold it; the
    result rides on the group table, so a cached table computes it
    once.

    Stored hits: restricted to the PAGE's groups first (a corpus can
    have millions of groups; only ≤`number` are in the response), then
    a row_number cap per group BEFORE the context join, then ONE kwic
    collect over the capped set, which carries the group keys and the
    docInfo columns too — never O(hits) on the driver (the reference
    likewise stores at most maxHitsToStorePerGroup per group)."""
    from pyspark.sql.window import Window

    from blacklab_spark.search.results import Hits, parse_criteria

    crits = parse_criteria(group)
    gdf = corpus.search(patt=patt, group=group, **params)
    names = gdf.columns[:len(crits)]
    page = gdf.offset(first).limit(number).collect() \
        if first else gdf.limit(number).collect()
    # the hit set itself: a group-level sort does not apply to hits
    hits = Hits(corpus, corpus.search(
        patt=patt, **{k: v for k, v in params.items() if k != "sort"}
    ))
    # the summary is computed once per group table: a cached table
    # (usecache) keeps it, so a repeated request runs no rollup
    totals = getattr(gdf, "_blspark_summary", None)
    if totals is None:
        totals = gdf._blspark_summary = hits.group_summary(crits)

    def ident(row, cols):
        return tuple(str(row[c]) for c in cols)

    by_group: dict[tuple, list] = {}
    infos: dict[str, dict] = {}
    if contents and page:
        hk, keys = hits._with_keys(crits)
        gid = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
        w = Window.partitionBy(*keys).orderBy("doc_id", "start", "end")
        capped = (
            hk.filter(gid.isin(["\x1f".join(ident(r, names)) for r in page]))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_stored)
            .select(*hits.df.columns, *keys)
        )
        # one collect: each stored hit with its keys, context and doc
        # metadata; a group lists its hits in (doc, start, end) order
        rows = Hits(corpus, capped).kwic(
            wordsaroundhit or corpus.cfg.context_size
        ).collect()
        fields = _metadata_fields(corpus)
        rows.sort(key=lambda r: (r["doc_id"], r["start"], r["end"]))
        for r in rows:
            pid = _pid(r)
            by_group.setdefault(ident(r, keys), []).append({
                "docPid": pid, "start": r["start"], "end": r["end"],
                "left": {"word": _split(r["left"])},
                "match": {"word": _split(r["match"])},
                "right": {"word": _split(r["right"])},
            })
            if pid not in infos:
                infos[pid] = _doc_info(r, fields)

    groups = []
    for r in page:
        vals = ident(r, names)
        g = {
            "identity": ";".join(f"{c}={v}" for c, v in zip(crits, vals)),
            "identityDisplay": ", ".join(vals),
            "size": r["size"],
            "properties": [{"name": c, "value": v}
                           for c, v in zip(crits, vals)],
            "numberOfDocs": r["n_docs"],
        }
        if contents:
            g["hits"] = by_group.get(vals, [])
        groups.append(g)
    summary = _summary_common(echo, first, number, len(groups),
                              totals["groups"], time.time() - t0)
    summary.update({
        "numberOfGroups": totals["groups"],
        "largestGroupSize": totals["largest"],
        "numberOfHits": totals["hits"],
        "numberOfHitsRetrieved": totals["hits"],
        "stoppedCountingHits": False,
        "stoppedRetrievingHits": False,
        "numberOfDocs": totals["docs"],
        "numberOfDocsRetrieved": totals["docs"],
    })
    resp = {"summary": summary, "hitGroups": groups}
    if contents:
        resp["docInfos"] = infos
    return resp


def _doc_fields(fields: list[str]) -> dict:
    return {
        "docFields": {"pidField": "pid", "titleField": "conv_id"},
        "metadataFieldDisplayNames": {c: c for c in fields},
    }


def docs_response(
    corpus,
    patt: str | None = None,
    first: int = 0,
    number: int = 50,
    wordsaroundhit: int | None = None,
    maxsnippets: int = 3,
    group: str | None = None,
    **params,
) -> dict:
    """The /corpus/docs endpoint (RequestHandlerDocs.java): documents
    matching a pattern (with per-doc hit counts) or, with no ``patt``,
    a metadata-filtered document listing. With ``wordsaroundhit`` each
    doc entry carries up to ``maxsnippets`` KWIC snippets (the saved
    docs responses include snippets per doc). With ``group`` returns
    the docGroups envelope (RequestHandlerDocsGrouped /
    saved-responses/docs-grouped/)."""
    t0 = time.time()
    echo = {"patt": patt, "first": first, "number": number, **params}

    if group is not None:
        return _docs_grouped(corpus, patt, group, echo, first, number,
                             t0, params)

    # doc-level sort criteria are consumed here, not by the hit facade
    sort = params.pop("sort", None)
    include_tokens = bool(params.pop("includetokencount", False))

    if patt is None:
        docs = corpus.search(**params)  # doc_stats, optionally filtered
        total = docs.count()
        docs = _sort_docs(docs, sort) if sort else docs.orderBy("doc_id")
        page = docs.offset(first).limit(number).collect() \
            if first else docs.limit(number).collect()
        fields = _metadata_fields(corpus)
        out = [{"docPid": _pid(r), "docInfo": _doc_info(r, fields)}
               for r in page]
        summary = _summary_common(echo, first, number, len(out), total,
                                  time.time() - t0)
        summary.update({"numberOfDocs": total,
                        "numberOfDocsRetrieved": total,
                        **_doc_fields(fields)})
        if include_tokens:
            # RequestHandlerDocs.java:57 tokensInMatchingDocuments
            summary["tokensInMatchingDocuments"] = (
                docs.agg(F.sum("num_tokens")).collect()[0][0] or 0
            )
        return {"summary": summary, "docs": out}

    from blacklab_spark.search.results import Hits

    hits_df = corpus.search(patt=patt, **params)
    per_doc = _sort_docs(Hits(corpus, hits_df).per_doc(), sort)
    total_hits, n_docs = _num_hits(hits_df)
    page = per_doc.offset(first).limit(number).collect() \
        if first else per_doc.limit(number).collect()
    page_ids = [r["doc_id"] for r in page]

    # per-doc snippets (saved-responses/docs/*.json carry up to N KWIC
    # snippets per doc): one distributed job over the page's docs —
    # row_number caps hits per doc BEFORE the kwic join
    snips: dict[int, list] = {}
    if wordsaroundhit is not None and page_ids:
        from pyspark.sql.window import Window

        w = Window.partitionBy("doc_id").orderBy("start", "end")
        capped = (
            hits_df.filter(F.col("doc_id").isin(page_ids))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= maxsnippets).drop("_rn")
        )
        kw = Hits(corpus, capped).kwic(wordsaroundhit).collect()
        for r in kw:
            snips.setdefault(r["doc_id"], []).append({
                "left": {"word": _split(r["left"])},
                "match": {"word": _split(r["match"])},
                "right": {"word": _split(r["right"])},
            })

    fields = _metadata_fields(corpus)
    out = []
    for r in page:
        entry = {"docPid": _pid(r), "numberOfHits": r["n_hits"],
                 "docInfo": _doc_info(r, fields)}
        if wordsaroundhit is not None:
            entry["snippets"] = snips.get(r["doc_id"], [])
        out.append(entry)
    summary = _summary_common(echo, first, number, len(out), n_docs,
                              time.time() - t0)
    if include_tokens:
        # RequestHandlerDocs.java:57 tokensInMatchingDocuments
        summary["tokensInMatchingDocuments"] = (
            per_doc.agg(F.sum("num_tokens")).collect()[0][0] or 0
        )
    summary.update({
        "numberOfHits": total_hits,
        "numberOfHitsRetrieved": total_hits,
        "stoppedCountingHits": False,
        "stoppedRetrievingHits": False,
        "numberOfDocs": n_docs,
        "numberOfDocsRetrieved": n_docs,
        "stillCounting": False,
        **_doc_fields(fields),
    })
    return {"summary": summary, "docs": out}


def _docs_grouped(corpus, patt, group, echo, first, number, t0,
                  params) -> dict:
    """docGroups envelope (RequestHandlerDocsGrouped.java;
    saved-responses/docs-grouped/*.json): groups of documents by a
    metadata criterion, each with size, token count, and the group's
    share of the whole corpus (subcorpusSize, DStream.java:286-292)."""
    from blacklab_spark.search.results import doc_key

    sort = params.pop("sort", None)  # DocGroupProperty: size/identity
    stats = corpus.doc_stats
    key = doc_key(group, stats.columns)
    if key is None:
        raise ValueError(f"unknown document property: {group!r}")
    key = key.alias("_grp")

    # matched docs (with hit counts when a pattern is given)
    if patt is not None:
        hits_df = corpus.search(patt=patt, **params)
        docs = (
            hits_df.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .join(stats, "doc_id")
        )
    else:
        docs = corpus.search(**params).withColumn("n_hits", F.lit(0))
    gdf = docs.groupBy(key).agg(
        F.count(F.lit(1)).alias("size"),
        F.sum("num_tokens").alias("tokens"),
        F.sum("n_hits").alias("hits"),
    )
    rev = bool(sort) and sort.startswith("-")
    crit = (sort or "").lstrip("-")
    if crit == "identity":
        gdf = gdf.orderBy(F.col("_grp").desc() if rev else F.col("_grp"))
    elif crit in ("size", "numhits"):
        gdf = gdf.orderBy(
            F.col("size").asc() if rev else F.col("size").desc(), "_grp"
        )
    else:  # reference default: groups by size descending
        gdf = gdf.orderBy(F.desc("size"), "_grp")
    # subcorpus share per group value: the WHOLE corpus grouped the
    # same way (independent of the pattern), one broadcast-sized agg
    sub = {
        str(r["_grp"]): {"documents": r["sd"], "tokens": r["st"]}
        for r in stats.groupBy(key).agg(
            F.count(F.lit(1)).alias("sd"),
            F.sum("num_tokens").alias("st"),
        ).collect()
    }
    page = gdf.offset(first).limit(number).collect() \
        if first else gdf.limit(number).collect()
    totals = gdf.agg(
        F.count(F.lit(1)).alias("g"), _sum0("size").alias("d"),
        F.max("size").alias("mx"), _sum0("hits").alias("h"),
    ).collect()[0]
    groups = []
    for r in page:
        v = str(r["_grp"])
        groups.append({
            "identity": f"str:{v}",
            "identityDisplay": v,
            "size": r["size"],
            "properties": [{"name": group, "value": v}],
            "numberOfTokens": r["tokens"],
            "subcorpusSize": sub.get(v),
        })
    summary = _summary_common(echo, first, number, len(groups),
                              totals["g"], time.time() - t0)
    summary.update({
        "numberOfGroups": totals["g"],
        "largestGroupSize": totals["mx"] or 0,
        "numberOfHits": totals["h"], "numberOfHitsRetrieved": totals["h"],
        "stoppedCountingHits": False, "stoppedRetrievingHits": False,
        "numberOfDocs": totals["d"], "numberOfDocsRetrieved": totals["d"],
    })
    return {"summary": summary, "docGroups": groups}


def docs_csv(corpus, patt: str | None = None, **params) -> str:
    """docs-csv endpoint (RequestHandlerDocsCsv): the per-doc result
    table as CSV — distributed until the page-bounded export."""
    from blacklab_spark.search.results import Hits, export_csv

    if patt is None:
        return export_csv(corpus.search(**params))
    hits_df = corpus.search(patt=patt, **params)
    return export_csv(Hits(corpus, hits_df).per_doc())


_XML_PROLOG = '<?xml version="1.0" encoding="utf-8" ?>\n'


def doc_contents_response(
    corpus,
    doc_id: int,
    patt: str | None = None,
    wordstart: int = -1,
    wordend: int = -1,
) -> str:
    """The /corpus/docs/<pid>/contents endpoint
    (RequestHandlerDocContents.java + ResultDocContents.java:97-187):
    (part of) the original document content, with ``patt`` hits inside
    this doc highlighted as well-formed ``<hl>`` (DocUtil.java:257
    highlightContent). A word-bounded partial document is balanced,
    loses any XML declaration, and is wrapped in a <blacklabResponse>
    element carrying the root's namespace declarations
    (RequestHandlerDocContents.dstreamDocContents); a full document
    gains an XML prolog when it has none (needsXmlDeclaration).

    One single-doc content-store lookup; offsets + highlighting are
    driver-side over that one document, like the reference's per-doc
    content store read."""
    from blacklab_spark.search.snippets import (
        _XML_DECL_RE, collect_root_namespaces, highlight_content,
        token_char_offsets, word_element_offsets,
    )

    xml = "xml_text" in corpus.tokenized.columns
    content_col = "xml_text" if xml else "text"
    rows = (
        corpus.tokenized.filter(F.col("doc_id") == doc_id)
        .select(content_col, F.size("tokens").alias("_n")).collect()
    )
    if not rows:
        raise KeyError(f"document {doc_id} not found")
    text = rows[0][0] or ""
    n_tokens = int(rows[0]["_n"])
    full = wordstart == -1 and wordend == -1
    word_spans: list[tuple[int, int]] = []
    if patt:
        hits = corpus.find(patt).df.filter(F.col("doc_id") == doc_id)
        word_spans = [
            (int(r["start"]), int(r["end"]))
            for r in hits.select("start", "end").collect()
        ]
    offs: list[tuple[int, int]] = []
    win_offs: list[tuple[int, int]] | None = None
    if word_spans or not full:
        # word-element alignment first (exact for element wordPaths —
        # the document may hold non-indexed text like a teiHeader);
        # text-run scan as the fallback for token_pattern content
        offs = (word_element_offsets(text, n_tokens) if xml else None) \
            or token_char_offsets(corpus, text, xml)
        if not full and xml:
            # window boundaries use the whole element (tags included)
            # so a fragment keeps its first/last word's markup
            win_offs = word_element_offsets(text, n_tokens, outer=True)
    cs, ce = 0, len(text)
    if not full:
        w = win_offs or offs
        s = max(0, wordstart)
        cs = w[s][0] if s < len(w) else len(text)
        if wordend >= 0:
            e = min(wordend, len(w))
            ce = w[e - 1][1] if e > 0 else cs
        ce = max(cs, ce)
    char_spans = [
        (offs[ws][0], offs[we - 1][1])
        for ws, we in word_spans
        if ws < len(offs) and 0 < we <= len(offs) and we > ws
    ]
    frag = highlight_content(text, char_spans, cs, ce, xml=xml, full=full)
    if full:
        # full document: ensure exactly one XML declaration
        return frag if _XML_DECL_RE.match(frag) else _XML_PROLOG + frag
    ns = collect_root_namespaces(text, frag)
    attrs = "".join(f" {n}" for n in ns)
    return f"{_XML_PROLOG}<blacklabResponse{attrs}>{frag}</blacklabResponse>"


def doc_snippet_response(
    corpus,
    doc_id: int,
    hitstart: int | None = None,
    hitend: int | None = None,
    wordstart: int | None = None,
    wordend: int | None = None,
    wordsaroundhit: int = 5,
) -> dict:
    """The /corpus/docs/<pid>/snippet endpoint
    (RequestHandlerDocSnippet.java:34-100): a hit plus context
    ({left, match, right}, hitstart/hitend + wordsaroundhit) or a bare
    word-range fragment ({snippet}, wordstart/wordend). One single-doc
    lookup; slicing is driver-side over that one doc's tokens."""
    rows = (
        corpus.tokenized.filter(F.col("doc_id") == doc_id)
        .select("tokens").collect()
    )
    if not rows:
        raise KeyError(f"document {doc_id} not found")
    toks = list(rows[0]["tokens"])
    if wordstart is not None or wordend is not None:
        s, e = max(0, wordstart or 0), min(len(toks), wordend or len(toks))
        return {"snippet": {"word": toks[s:e]}}
    if hitstart is None or hitend is None:
        raise ValueError("need hitstart+hitend or wordstart+wordend")
    s, e = max(0, hitstart), min(len(toks), hitend)
    return {
        "left": {"word": toks[max(0, s - wordsaroundhit):s]},
        "match": {"word": toks[s:e]},
        "right": {"word": toks[e:e + wordsaroundhit]},
    }


def index_metadata_response(corpus, name: str = "corpus",
                            listmetadatavalues: bool = False) -> dict:
    """The /corpus info endpoint (RequestHandlerIndexMetadata /
    ResultIndexMetadata; DStream annotatedField + metadataFieldInfo
    writers): index-level counts, the annotated field's annotations,
    and metadata field descriptors. ``listmetadatavalues`` inlines each
    field's value list + valueListComplete flag (the reference's
    listvalues handling in the metadata writer)."""
    f = corpus.fields()
    af = f["annotated_field"]
    return {
        "indexName": name,
        "displayName": name,
        "description": "",
        "status": "available",
        # index-level flag (IndexMetadataIntegrated.java:230
        # contentViewable; set via `contentViewable: false` in the
        # index's meta.json to forbid serving full document contents)
        "contentViewable": bool(corpus.meta.get("contentViewable", True)),
        "textDirection": "ltr",
        "tokenCount": f["total_tokens"],
        "documentCount": f["n_docs"],
        "versionInfo": {
            "indexFormat": str(corpus.meta.get("block_size", "")),
            "generation": corpus.meta.get("generation", 0),
        },
        "fieldInfo": {"pidField": "pid", "titleField": "conv_id",
                      "authorField": "", "dateField": "ts"},
        "annotatedFields": {
            af["name"]: {
                "fieldName": af["name"],
                "isAnnotatedField": True,
                "hasContentStore": True,
                "hasXmlTags": True,
                "mainAnnotation": af["main_annotation"],
                "displayOrder": af["annotations"],
                "annotations": {
                    a: {"displayName": a, "hasForwardIndex": True,
                        "sensitivity": "SENSITIVE_AND_INSENSITIVE",
                        "isInternal": False}
                    for a in af["annotations"]
                },
            }
        },
        "metadataFields": {
            m: {
                "fieldName": m, "isAnnotatedField": False,
                "type": "TOKENIZED",
                **(
                    {
                        "fieldValues": (v := corpus.field_values(m))[
                            "values"
                        ],
                        "valueListComplete": v["valueListComplete"],
                    }
                    if listmetadatavalues else {}
                ),
            }
            for m in f["metadata_fields"]
        },
        "docFields": {"pidField": "pid", "titleField": "conv_id"},
    }


def error_response(code: str, message: str) -> dict:
    """BLS error envelope (reference ResponseStreamer error shape:
    {"error": {"code", "message"}})."""
    return {"error": {"code": code, "message": message}}

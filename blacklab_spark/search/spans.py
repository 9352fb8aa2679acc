"""Span algebra: every BlackLab Spans operator as a DataFrame combinator.

A *hits* DataFrame has columns (doc_id:long, start:int, end:int) plus
optional capture columns ``cap_<name>_start`` / ``cap_<name>_end``
(reference SpanQueryCaptureGroup.java:205 stores these per hit).

BlackLab executes these as per-segment pull iterators with sortedness/
uniqueness bookkeeping (reference SpansSequenceSimple.java,
PerDocumentSortedSpans.java). Under DataFrame set semantics all that
bookkeeping disappears: operators are joins/filters within doc_id, and
Catalyst + AQE pick physical strategies. All position joins carry the
``doc_id`` equi-key, so they hash-partition by doc — co-partitioned
with the tokenized table when both sides derive from it.

Semantics notes (matched against the reference, see tests):
- sequence produces ALL combinations, including overlaps
  (SpanQuerySequence.java:30-46);
- repetition A{min,max} emits every sub-sequence
  (SpanQueryRepetition.java:18-25);
- position_filter implements the 7-op enum of
  SpanQueryPositionFilter.java:155-178, invertible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from blacklab_spark.index import codec

HIT_COLS = ("doc_id", "start", "end")


def _caps(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c.startswith("cap_")]


# ---------------------------------------------------------------------------
# leaf producers
# ---------------------------------------------------------------------------

def _word_tokens_col(corpus, sens: str):
    """The word annotation's array column under one of the 4 match
    sensitivities (reference MatchSensitivity.java:14-17,
    AnnotatedFieldNameUtil.java:47 naming `contents%word@i`): s/i are
    the stored/derived views, ci/di are derived from `tokens`."""
    from blacklab_spark.analysis import desensitize_col

    if sens == "i":
        return F.col("tokens_i")
    if sens == "s":
        return F.col("tokens")
    return F.transform("tokens", lambda t: desensitize_col(t, sens))


def _extra_col(corpus, annotation: str) -> str | None:
    """Name of the secondary-values column for a multi-valued
    annotation, or None if the annotation is single-valued. New-layout
    indexes stamp the genuinely multi-valued annotations into meta
    (build-time observe detection) — single-valued annotations whose
    _extra column exists but is always empty never pay the
    secondary-scan cost; legacy indexes fall back to column presence."""
    c = f"ann_{annotation}_extra"
    if c not in corpus.tokenized.columns:
        return None
    mv = corpus.multivalue_anns
    if mv is not None and annotation not in mv:
        return None
    return c


def _postings_route(corpus, annotation: str, sens: str):
    """How to answer a (annotation, sensitivity) leaf from postings:
    ('direct', field)  — the exact field exists; filter blocks on the
                         normalized term string (parquet pushdown);
    ('expand', field)  — serve from the SENSITIVE field via a terms-dict
                         expansion (all raw terms whose sens-normalized
                         form matches), like the reference answering a
                         ci/di query against its indexed sensitivities;
    None               — no postings field can serve it: token scan.
    Reference: AnnotationSensitivities.java:8-13 — each indexed
    sensitivity is its own postings field."""
    a = annotation or "word"
    fields = set(corpus.index_fields)
    if sens in ("s", "i") and f"{a}@{sens}" in fields:
        return ("direct", f"{a}@{sens}")
    if f"{a}@s" in fields:
        return ("expand", f"{a}@s")
    return None


def _secondary_positions(corpus, annotation: str) -> DataFrame:
    """(doc_id, pos, term) rows of a multi-valued annotation's secondary
    values — a SPARSE column-pruned scan (doc_id + the _extra column
    only), unioned next to postings hits because postings index primary
    values."""
    extra = f"ann_{annotation}_extra"
    return corpus.tokenized.select(
        "doc_id", F.explode(extra).alias("_x")
    ).select(
        "doc_id", F.col("_x.pos").alias("pos"), F.col("_x.term").alias("term")
    )


def _uniq_positions(corpus, annotation: str, df: DataFrame) -> DataFrame:
    """When an annotation is multi-valued, a query can match more than
    one value at the SAME position (e.g. a regex matching both the
    primary and a secondary) — the reference emits the position once,
    so dedup; single-valued annotations skip the shuffle entirely."""
    if _extra_col(corpus, annotation):
        return df.dropDuplicates(["doc_id", "start", "end"])
    return df


def token_positions(
    corpus, annotation: str = "word", sensitive=False
) -> DataFrame:
    """(doc_id, pos, term) for every token — the exploded forward
    index, with `term` ALREADY normalized for the requested
    sensitivity (s / i / ci / di; bools mean s / i)."""
    from blacklab_spark.analysis import desensitize_col, norm_sensitivity

    sens = norm_sensitivity(sensitive)
    if annotation in ("word", ""):
        src = corpus.tokenized.select(
            "doc_id", _word_tokens_col(corpus, sens).alias("_toks")
        )
        tp = src.select("doc_id", F.posexplode("_toks").alias("pos", "term"))
        if _extra_col(corpus, "word"):
            # a multi-valued MAIN annotation (reference TestIndex's
            # "The|DOH|ZZZ", AnnotationWriter.java:246-263): secondary
            # word values ride the ann_word_extra sidecar and are
            # searchable like any secondary annotation value
            sec = _secondary_positions(corpus, "word")
            if sens != "s":
                sec = sec.withColumn("term", desensitize_col(F.col("term"), sens))
            return tp.unionByName(sec)
        return tp
    tp = corpus.tokenized.select(
        "doc_id", F.posexplode(f"ann_{annotation}").alias("pos", "term")
    )
    extra = _extra_col(corpus, annotation)
    if extra:
        # secondary values at the same position (reference
        # PayloadUtils.java:25-62): search matches any value, the
        # forward index / concordances keep only the primary
        sec = corpus.tokenized.select(
            "doc_id", F.explode(extra).alias("_x")
        ).select("doc_id", F.col("_x.pos").alias("pos"), F.col("_x.term").alias("term"))
        tp = tp.unionByName(sec)
    if sens == "s":
        return tp
    return tp.withColumn("term", desensitize_col(F.col("term"), sens))


def _decode_posting_positions(corpus, posts: DataFrame) -> DataFrame:
    """Posting blocks -> (doc_id, start, end) rows: one codec pass per
    column of each Arrow batch. The generation's tombstones (sorted,
    collected once per generation) ride in the closure and are dropped
    in the kernel, so a tombstoned index runs the plain plan."""
    import pyarrow as pa

    dead = corpus.state.dead

    def decode(batches):
        for batch in batches:
            dids, _ = codec.varint_decode(batch.column("doc_ids"), "row")
            tf, _ = codec.varint_decode(batch.column("freqs"))
            pos, _ = codec.varint_decode(batch.column("positions"), tf)
            d = np.repeat(dids, tf)
            if dead.size:
                live = ~np.isin(d, dead)
                d, pos = d[live], pos[live]
            if d.size:
                start = pos.astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [d, start, start + 1], names=["doc_id", "start", "end"]
                )

    return posts.select("doc_ids", "freqs", "positions").mapInArrow(
        decode, schema="doc_id long, start int, end int"
    )


def postings_hits(corpus, terms: list[str], field: str = "word@i") -> DataFrame:
    """(doc_id, start, end) for every occurrence of the given terms in
    one postings field, decoded FROM THE POSTINGS — the reverse index
    is the leaf scan (reference BLSpanTermQuery.java reads Lucene
    postings), so only the query terms' blocks are read (parquet
    predicate pushdown on field + term); the token table is never
    scanned. For EXPLICIT small term lists only (query terms, phrase
    parts) — dictionary expansions (regex/fuzzy) must stay distributed,
    use postings_hits_for_terms."""
    posts = corpus.postings_for(field).filter(F.col("term").isin(list(terms)))
    return _decode_posting_positions(corpus, posts)


def postings_hits_for_terms(
    corpus, terms_df: DataFrame, field: str = "word@i"
) -> DataFrame:
    """postings_hits with the term set as a DataFrame: broadcast
    semi-join into the postings scan. The matched-terms set never
    visits the driver (reference BLSpanMultiTermQueryWrapper rewrites
    to an OR over dict matches segment-side, never driver-global) —
    the terms dict is tiny relative to the corpus, so broadcasting the
    matched subset is always cheap."""
    posts = corpus.postings_for(field).join(
        F.broadcast(terms_df.select("term")), "term", "leftsemi"
    )
    return _decode_posting_positions(corpus, posts)


def term_hits(
    corpus, term: str, annotation: str = "word", sensitive=False
) -> DataFrame:
    """All positions of one term (reference BLSpanTermQuery.java).
    ``sensitive`` is a bool (s / i) or one of 's'/'i'/'ci'/'di'.

    Leaf plan, in preference order (reference resolves every
    annotation×sensitivity from its own Lucene postings field,
    AnnotatedFieldNameUtil.java:47): exact postings field -> sensitive
    field + terms-dict expansion -> token-table scan (only when the
    index has no field that can serve the request)."""
    from blacklab_spark.analysis import (
        desensitize_col, desensitize_value, norm_sensitivity,
    )

    sens = norm_sensitivity(sensitive)
    a = annotation if annotation not in ("word", "") else "word"
    route = _postings_route(corpus, a, sens)
    if route is not None:
        kind, field = route
        want = desensitize_value(term, sens)
        if kind == "direct":
            # @i fields store desensitized terms, @s fields raw terms —
            # `want` is normalized the same way on both routes
            out = postings_hits(corpus, [want], field=field)
        else:
            # ci/di (or i) from the sensitive field: tiny dict filter,
            # then a broadcast semi-join into the postings scan
            tdf = corpus.terms_for(field).filter(
                desensitize_col(F.col("term"), sens) == F.lit(want)
            ).select("term")
            out = postings_hits_for_terms(corpus, tdf, field=field)
        if _extra_col(corpus, a):
            # postings hold primary values only; secondary values ride
            # a sparse column-pruned scan of the _extra sidecar (for
            # the main annotation too: multivalue word rows land in
            # ann_word_extra at build)
            sec = _secondary_positions(corpus, a).filter(
                desensitize_col(F.col("term"), sens) == F.lit(want)
            ).select(
                "doc_id",
                F.col("pos").alias("start"),
                (F.col("pos") + 1).alias("end"),
            )
            out = out.unionByName(sec).dropDuplicates(["doc_id", "start", "end"])
        return out
    # no postings field can serve this (ann, sens): token scan over the
    # desensitized view
    tp = token_positions(corpus, annotation, sens)
    out = tp.filter(F.col("term") == desensitize_value(term, sens)).select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")
    )
    return _uniq_positions(corpus, annotation, out)


def term_set_hits(
    corpus, terms: list[str], annotation: str = "word", sensitive=False
) -> DataFrame:
    """All positions of ANY term in the set — ONE postings scan with an
    IN filter instead of a union per alternative (the reference
    rewrites multi-term queries into a single OR over dictionary
    matches, BLSpanMultiTermQueryWrapper; a 1000-branch `"a"|"b"|...`
    must not become 1000 chained DataFrame unions). Same routing as
    term_hits: exact field -> sensitive field + dict expansion ->
    token scan."""
    from blacklab_spark.analysis import (
        desensitize_col, desensitize_value, norm_sensitivity,
    )

    sens = norm_sensitivity(sensitive)
    a = annotation if annotation not in ("word", "") else "word"
    wants = sorted({desensitize_value(t, sens) for t in terms})
    route = _postings_route(corpus, a, sens)
    if route is not None:
        kind, field = route
        if kind == "direct":
            posts = corpus.postings_for(field).filter(
                F.col("term").isin(wants)
            )
            out = _decode_posting_positions(corpus, posts)
        else:
            tdf = corpus.terms_for(field).filter(
                desensitize_col(F.col("term"), sens).isin(wants)
            ).select("term")
            out = postings_hits_for_terms(corpus, tdf, field=field)
        if _extra_col(corpus, a):
            sec = _secondary_positions(corpus, a).filter(
                desensitize_col(F.col("term"), sens).isin(wants)
            ).select(
                "doc_id",
                F.col("pos").alias("start"),
                (F.col("pos") + 1).alias("end"),
            )
            out = out.unionByName(sec).dropDuplicates(["doc_id", "start", "end"])
        return out
    tp = token_positions(corpus, annotation, sens)
    out = tp.filter(F.col("term").isin(wants)).select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")
    )
    return _uniq_positions(corpus, annotation, out)


def regex_hits(
    corpus, pattern: str, annotation: str = "word", sensitive=False
) -> DataFrame:
    """Term-set scan via the terms dict (reference
    BLSpanMultiTermQueryWrapper.java rewrites regex to an OR over dict
    matches), then postings decode for the matching set.

    Desensitized matching folds the PATTERN text (accent map over its
    characters — the reference's approach too: StringUtil.stripAccents
    over the pattern in desensitized searches) and adds the (?i) flag;
    the pattern is never lowercased, which would invert escape classes
    (\\W -> \\w)."""
    from blacklab_spark.analysis import desensitize_col, fold_py, norm_sensitivity

    sens = norm_sensitivity(sensitive)
    pat = pattern if sens in ("s", "ci") else fold_py(pattern)
    anchored = f"^(?:{pat})$"
    if sens in ("i", "ci"):
        anchored = f"(?i){anchored}"
    a = annotation if annotation not in ("word", "") else "word"
    route = _postings_route(corpus, a, sens)
    if route is not None:
        # matched-terms set stays DISTRIBUTED: broadcast semi-join into
        # the postings scan (no driver collect, no giant isin). The
        # terms dict is tiny relative to the corpus, so the broadcast
        # is always small even for wide regexes. A 'direct' field's dict
        # terms are already sens-normalized; the 'expand' route matches
        # the sensitive field's raw terms through the sens fold.
        kind, field = route
        tcol = (
            F.col("term") if kind == "direct"
            else desensitize_col(F.col("term"), sens)
        )
        matching_df = corpus.terms_for(field).filter(
            tcol.rlike(anchored)
        ).select("term")
        out = postings_hits_for_terms(corpus, matching_df, field=field)
        if _extra_col(corpus, a):
            sec = _secondary_positions(corpus, a).filter(
                desensitize_col(F.col("term"), sens).rlike(anchored)
            ).select(
                "doc_id",
                F.col("pos").alias("start"),
                (F.col("pos") + 1).alias("end"),
            )
            out = out.unionByName(sec).dropDuplicates(["doc_id", "start", "end"])
        return out
    tp = token_positions(corpus, annotation, sens)
    out = tp.filter(F.col("term").rlike(anchored)).select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")
    )
    return _uniq_positions(corpus, annotation, out)


def any_token(corpus, min_len: int = 1, max_len: int | None = 1) -> DataFrame:
    """`[]{min,max}` — every n-gram window (reference SpanQueryAnyToken /
    SpansNGrams). The planner avoids materializing this next to another
    clause (expansion rewrite); standalone it derives windows from doc
    lengths, not from a token scan. ``max_len=None`` (`[]*` / `[]+`) is
    data-driven: windows up to each doc's own length, no artificial cap."""
    ds = corpus.doc_stats.select("doc_id", "num_tokens")
    hi = F.col("num_tokens") if max_len is None else F.least(
        F.lit(max_len), F.col("num_tokens")
    )
    with_n = ds.filter(F.col("num_tokens") >= min_len).select(
        "doc_id",
        "num_tokens",
        F.explode(F.sequence(F.lit(min_len), hi)).alias("n"),
    )
    return with_n.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("num_tokens") - F.col("n"))).alias("start"),
        "n",
    ).select("doc_id", "start", (F.col("start") + F.col("n")).alias("end"))


def tag_spans(corpus, tag: str, attrs: dict[str, str] | None = None) -> DataFrame:
    """Spans of an inline tag, optional attribute filters (reference
    SpanQueryTags.java:252; attrs ANDed, AnnotatedFieldNameUtil.java:96-107)."""
    df = corpus.spans.filter(F.col("tag") == tag)
    for k, v in (attrs or {}).items():
        df = df.filter(F.col("attrs").getItem(k) == v)
    return df.select("doc_id", "start", "end")


# ---------------------------------------------------------------------------
# composition operators
# ---------------------------------------------------------------------------

def sequence(a: DataFrame, b: DataFrame) -> DataFrame:
    """Adjacency join: all combinations with A.end == B.start
    (reference SpanQuerySequence.java:30-46)."""
    L, R = a.alias("L"), b.alias("R")
    cond = (F.col("L.doc_id") == F.col("R.doc_id")) & (
        F.col("L.end") == F.col("R.start")
    )
    out_cols = [
        F.col("L.doc_id").alias("doc_id"),
        F.col("L.start").alias("start"),
        F.col("R.end").alias("end"),
    ]
    out_cols += [F.col(f"L.{c}").alias(c) for c in _caps(a)]
    out_cols += [F.col(f"R.{c}").alias(c) for c in _caps(b) if c not in _caps(a)]
    return L.join(R, cond).select(*out_cols)


# matcher specs for forward-index probes: ('term', v) | ('set', [v..])
# | ('regex', pattern) — the single-token NFA states our linear walk
# supports (reference NfaState.java:96-121 token/or states)


def _probe_match_col(elem: Column, matcher: tuple) -> Column:
    """Positive single-annotation matcher kinds; negated kinds
    ('nterm'/'nset'/'nregex' — the reference's NOT NFA states,
    fimatch NfaState) require the token to EXIST and not match."""
    from blacklab_spark.analysis import desensitize_py, fold_py

    kind, val = matcher
    if kind.startswith("n"):
        return elem.isNotNull() & ~_probe_match_col(elem, (kind[1:], val))
    if kind == "term":
        return elem == F.lit(desensitize_py(val))
    if kind == "set":
        return elem.isin([desensitize_py(v) for v in val])
    # regex over the desensitized token (pattern folded like regex_hits)
    return elem.rlike(f"(?i)^(?:{fold_py(val)})$")


def _match_fn(matcher: tuple, ann: str):
    """Element-wise matcher as a lambda usable inside higher-order
    functions (forall/aggregate) — same semantics as _probe_match_col.
    (Elements inside a sliced window always exist, so negated kinds
    reduce to plain negation here.)"""
    from blacklab_spark.analysis import desensitize_col, desensitize_py, fold_py

    kind, val = matcher
    neg = kind.startswith("n") and kind[1:] in ("term", "set", "regex")
    if neg:
        kind = kind[1:]

    def f(x: Column) -> Column:
        e = x if ann in ("word", "") else desensitize_col(x, "i")
        if kind == "term":
            out = e == F.lit(desensitize_py(val))
        elif kind == "set":
            out = e.isin([desensitize_py(v) for v in val])
        else:
            out = e.rlike(f"(?i)^(?:{fold_py(val)})$")
        return ~out if neg else out

    return f


def probe_steps(
    corpus,
    hits: DataFrame,
    steps: list[tuple],
    direction: str = "right",
) -> DataFrame:
    """Bounded multi-step forward-index walk: extend each anchor hit,
    each step checked against adjacent tokens in the doc's token arrays.

    A step is ``(annotation, matcher)`` — consumes exactly one token —
    or ``(annotation, matcher, rmin, rmax)`` — a REPETITION state
    consuming rmin..rmax consecutive matching tokens (``rmax=None`` =
    unbounded, scans to the doc edge). ANY number of repetition states
    is supported: the walk threads a consumed-token-count Column
    through the steps, each variable step contributing one run-length
    scan (`aggregate` over the sliced token window) plus an explode of
    its valid lengths — never a per-length Spark job.

    The reference's cost-based NFA strategy (ClauseCombinerNfa.java:144-282,
    SpanQueryFiSeq.java:20-24, NfaState.java:96-121 — repetition states
    NfaStateRepetition-style): resolve the RARE clause from the reverse
    index, walk the FREQUENT neighbors over the forward index. Our NFA
    collapses to ONE doc_id equi-join plus JVM-side expressions — the
    frequent terms' positions (potentially a large fraction of the
    corpus) are never materialized or shuffled."""
    from blacklab_spark.analysis import desensitize_col

    anns = set()
    for s in steps:
        if s[1][0] == "and":  # composite state: one ann per conjunct
            anns.update(sa or "word" for sa, _ in s[1][1])
        else:
            anns.add(s[0] or "word")
    anns = sorted(anns)
    cols = ["doc_id"]
    for a in anns:
        if a in ("word", ""):
            cols.append(F.col("tokens_i").alias("_toks_word"))
            if _extra_col(corpus, "word"):
                cols.append(F.col("ann_word_extra").alias("_extra_word"))
        else:
            cols.append(F.col(f"ann_{a}").alias(f"_toks_{a}"))
            if _extra_col(corpus, a):
                cols.append(F.col(f"ann_{a}_extra").alias(f"_extra_{a}"))
    tk = corpus.context_store.select(*cols)
    j = hits.join(tk, "doc_id")
    right = direction == "right"

    def toks(ann: str) -> Column:
        a = ann or "word"
        return F.col(f"_toks_{a if a != '' else 'word'}")

    def elem(ann: str, pos: Column) -> Column:
        a = ann or "word"
        e = F.try_element_at(f"_toks_{a if a != '' else 'word'}", pos)
        # tokens_i is already desensitized; sidecar values fold here
        return e if a in ("word", "") else desensitize_col(e, "i")

    def _any_value_matches(ann: str, pos: Column, positive: tuple) -> Column:
        """ANY value at the position (primary or — for a multi-valued
        annotation — secondary) matches the positive matcher
        (reference PayloadUtils.java secondary values are searchable).
        Sidecar values are stored RAW, so the desensitizing matcher
        variant applies there."""
        a = ann or "word"
        c = _probe_match_col(elem(ann, pos), positive)
        if _extra_col(corpus, a):
            m = _match_fn(positive, "_raw_sidecar")
            c = c | F.exists(
                F.col(f"_extra_{a}"),
                lambda x: (x["pos"] == pos - 1) & m(x["term"]),
            )
        return c

    def step_cond(ann: str, pos: Column, matcher: tuple) -> Column:
        """One walk step. Composite states: 'and' conjoins per-
        annotation conditions at the same position (reference AND NFA
        states); negated kinds require the token to exist and NO value
        at the position to match."""
        kind = matcher[0]
        if kind == "and":
            conds = [step_cond(sa, pos, sm) for sa, sm in matcher[1]]
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out
        if kind.startswith("n") and kind[1:] in ("term", "set", "regex"):
            e = elem(ann, pos)
            return e.isNotNull() & ~_any_value_matches(
                ann, pos, (kind[1:], matcher[1])
            )
        return _any_value_matches(ann, pos, matcher)

    # `off` = tokens consumed by the walk so far, as a Column (fixed
    # steps add 1 each; each repetition adds its exploded length)
    off: Column = F.lit(0)
    n_var = 0
    for step in steps:
        if len(step) == 2:
            ann, matcher = step
            pos = (F.col("end") + off + 1) if right else (F.col("start") - off)
            j = j.filter(step_cond(ann, pos, matcher))
            off = off + F.lit(1)
            continue
        # repetition state: run length of consecutive matches from the
        # current slot; rmax=None scans to the doc edge (slice clamps)
        ann_v, m_v, rmin, rmax = step
        match_v = _match_fn(m_v, ann_v)
        if right:
            wlen = F.size(toks(ann_v)) if rmax is None else F.lit(rmax)
            window = F.slice(toks(ann_v), F.col("end") + off + 1, wlen)
        else:
            avail = F.col("start") - off
            wfrom = (
                F.lit(1)
                if rmax is None
                else F.greatest(F.lit(1), avail - rmax + 1)
            )
            wlen = avail if rmax is None else F.least(F.lit(rmax), avail)
            window = F.when(
                avail > 0,
                F.reverse(F.slice(toks(ann_v), wfrom, wlen)),
            ).otherwise(F.array().cast("array<string>"))
        acc0 = F.struct(F.lit(0).alias("r"), F.lit(False).alias("d"))
        runlen = F.aggregate(
            window,
            acc0,
            lambda a, x: F.struct(
                F.when(a["d"] | ~F.coalesce(match_v(x), F.lit(False)), a["r"])
                .otherwise(a["r"] + 1)
                .alias("r"),
                (a["d"] | ~F.coalesce(match_v(x), F.lit(False))).alias("d"),
            ),
        )["r"]
        run_c, n_c = f"_run{n_var}", f"_n{n_var}"
        j = j.withColumn(run_c, runlen).filter(F.col(run_c) >= rmin)
        n_hi = (
            F.col(run_c)
            if rmax is None
            else F.least(F.lit(rmax), F.col(run_c))
        )
        j = j.withColumn(n_c, F.explode(F.sequence(F.lit(rmin), n_hi)))
        off = off + F.col(n_c)
        n_var += 1

    if right:
        return j.select(
            "doc_id", "start", (F.col("end") + off).alias("end"), *_caps(hits)
        )
    return (
        j.select(
            "doc_id", (F.col("start") - off).alias("start"), "end", *_caps(hits)
        )
        .filter(F.col("start") >= 0)
    )


def sequence_with_gap(
    a: DataFrame, b: DataFrame, gmin: int, gmax: int | None
) -> DataFrame:
    """A, then a gap of [gmin,gmax] tokens, then B
    (reference SpansSequenceWithGap.java:10-20). ``gmax=None`` is an
    unbounded gap (`A []* B`) — no upper-bound predicate, data-driven."""
    L, R = a.alias("L"), b.alias("R")
    cond = (F.col("L.doc_id") == F.col("R.doc_id")) & (
        F.col("R.start") >= F.col("L.end") + gmin
    )
    if gmax is not None:
        cond = cond & (F.col("R.start") <= F.col("L.end") + gmax)
    out_cols = [
        F.col("L.doc_id").alias("doc_id"),
        F.col("L.start").alias("start"),
        F.col("R.end").alias("end"),
    ]
    out_cols += [F.col(f"L.{c}").alias(c) for c in _caps(a)]
    out_cols += [F.col(f"R.{c}").alias(c) for c in _caps(b) if c not in _caps(a)]
    return L.join(R, cond).select(*out_cols)


def union(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR of clauses (reference BLSpanOrQuery.java). Set semantics."""
    return a.unionByName(b, allowMissingColumns=True).dropDuplicates()


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """N-way OR in ONE shot (reference BLSpanOrQuery takes all clauses
    at once): union every branch, then dedup ONCE. The chained
    pairwise union() deduped per step — k clauses meant k dedup
    shuffles; here a k-branch mixed OR is one Union + one exchange
    regardless of k."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out.dropDuplicates() if len(dfs) > 1 else out


def and_spans(a: DataFrame, b: DataFrame) -> DataFrame:
    """Positional intersection — same (doc, start, end)
    (reference SpansAnd.java:251)."""
    L, R = a.alias("L"), b.alias("R")
    cond = (
        (F.col("L.doc_id") == F.col("R.doc_id"))
        & (F.col("L.start") == F.col("R.start"))
        & (F.col("L.end") == F.col("R.end"))
    )
    caps_b = [c for c in _caps(b) if c not in _caps(a)]
    if caps_b:
        out = [F.col(f"L.{c}").alias(c) for c in a.columns] + [
            F.col(f"R.{c}").alias(c) for c in caps_b
        ]
        return L.join(R, cond).select(*out)
    return L.join(R.select(*HIT_COLS), [*HIT_COLS], "leftsemi")


def and_not(a: DataFrame, b: DataFrame) -> DataFrame:
    """A at spans where B does not match the same span
    (reference SpanQueryAndNot.java token-level `[a & !b]`)."""
    return a.join(b.select(*HIT_COLS), [*HIT_COLS], "leftanti")


def token_not(corpus, clause: DataFrame) -> DataFrame:
    """`[!x]` — all single tokens not matched by clause
    (reference SpanQueryNot.java:22-25). Standalone form only: inside a
    sequence the planner inverts to NOTCONTAINING (not_token_right/
    not_token_left) so the corpus-wide any-token scan never happens."""
    return and_not(any_token(corpus, 1, 1), clause)


def not_token_right(hits: DataFrame, corpus, x_hits: DataFrame) -> DataFrame:
    """`A [!x]`: extend each hit right by one in-bounds token, drop
    extensions whose LAST token matches x — the ClauseCombinerNot
    inversion (reference ClauseCombinerNot.java:14-56,
    BLSpanQuery.okayToInvertForOptimization:205): an anchored
    NOTCONTAINING filter instead of materializing the any-token
    complement of x across the corpus."""
    ext = expand(hits, corpus, "right", 1, 1)
    # x hits are single tokens: f.end == p.end <=> p's last token is x
    return position_filter(ext, x_hits, "ends_at", invert=True)


def not_token_left(hits: DataFrame, corpus, x_hits: DataFrame) -> DataFrame:
    """`[!x] A`: mirror of not_token_right (first token must not be x)."""
    ext = expand(hits, corpus, "left", 1, 1)
    return position_filter(ext, x_hits, "starts_at", invert=True)


# position-filter ops (reference SpanQueryPositionFilter.java:155-178)
_POS_OPS = {
    "within": lambda p, f: (p["start"] >= f["start"]) & (p["end"] <= f["end"]),
    "containing": lambda p, f: (p["start"] <= f["start"]) & (p["end"] >= f["end"]),
    "starts_at": lambda p, f: p["start"] == f["start"],
    "ends_at": lambda p, f: p["end"] == f["end"],
    "matches": lambda p, f: (p["start"] == f["start"]) & (p["end"] == f["end"]),
    "containing_at_start": lambda p, f: (p["start"] == f["start"])
    & (p["end"] >= f["end"]),
    "containing_at_end": lambda p, f: (p["start"] <= f["start"])
    & (p["end"] == f["end"]),
}


def position_filter(
    producer: DataFrame,
    filter_hits: DataFrame,
    op: str = "within",
    invert: bool = False,
    ladj: int = 0,
    radj: int = 0,
) -> DataFrame:
    """Keep producer hits standing in positional relation ``op`` to some
    filter hit (reference SpansPositionFilter.java:517). Semi/anti join —
    producer hits and their captures survive unchanged. ``ladj``/``radj``
    shift the producer edges used in the positional test only (reference
    SpanQueryPositionFilter leftAdjust/rightAdjust): an internalized
    fixed-length neighbor widens the hit but not the filtered region."""
    P, Q = producer.alias("P"), filter_hits.select(*HIT_COLS).alias("Q")
    pcol = {k: F.col(f"P.{k}") for k in HIT_COLS}
    if ladj:
        pcol["start"] = pcol["start"] + ladj
    if radj:
        pcol["end"] = pcol["end"] + radj
    fcol = {k: F.col(f"Q.{k}") for k in HIT_COLS}
    cond = (pcol["doc_id"] == fcol["doc_id"]) & _POS_OPS[op](pcol, fcol)
    how = "leftanti" if invert else "leftsemi"
    return P.join(Q, cond, how)


def expand(
    hits: DataFrame,
    corpus,
    direction: str,
    min_exp: int,
    max_exp: int | None,
) -> DataFrame:
    """Stretch hits left/right by [min,max] `[]`s, one output hit per
    expansion length, clipped to doc bounds
    (reference SpanQueryExpansion.java:21-33). ``max_exp=None``
    (`A []*`) expands to the doc edge — per-row data-driven bound."""
    if direction == "right":
        h = hits.join(corpus.doc_stats.select("doc_id", "num_tokens"), "doc_id")
        room = F.col("num_tokens") - F.col("end")
        hi = room if max_exp is None else F.least(F.lit(max_exp), room)
        h = h.filter(room >= min_exp).select(
            "*", F.explode(F.sequence(F.lit(min_exp), hi)).alias("n")
        )
        return h.select(
            "doc_id",
            "start",
            (F.col("end") + F.col("n")).alias("end"),
            *_caps(hits),
        )
    room = F.col("start")
    hi = room if max_exp is None else F.least(F.lit(max_exp), room)
    h = hits.filter(room >= min_exp).select(
        "*", F.explode(F.sequence(F.lit(min_exp), hi)).alias("n")
    )
    return h.select(
        "doc_id",
        (F.col("start") - F.col("n")).alias("start"),
        "end",
        *_caps(hits),
    )


# docs per repetition-kernel batch: hits of this many consecutive docs
# are chained together in one Arrow group (adjacency never crosses a
# doc, so any doc-contiguous grouping is correct; batching avoids a
# one-Python-call-per-doc regime)
_REP_BATCH_DOCS = 4096


def repetition(
    clause: DataFrame, rmin: int, rmax: int, hard_cap: int | None = None
) -> DataFrame:
    """A{min,max}: consecutive self-concatenation; ALL sub-sequences
    emitted (reference SpanQueryRepetition.java:18-25 — B+ over 'ABBBA'
    yields 3+2+1 hits).

    One per-doc-batch vectorized chain kernel: the clause is
    materialized ONCE, hits shuffle by doc range, and a numpy DP walks
    adjacency chains level by level (searchsorted on a (doc,start)
    composite key) emitting every chain of length rmin..rmax. No
    per-length Spark actions and no O(rmax²) join tree — the whole
    repetition is a single shuffle + Arrow pass. Capture columns carry
    the FIRST element's values, matching the former left-biased
    sequence-join behavior.

    Unbounded (`rmax=-1`): the chain loop is DATA-DRIVEN — it runs
    until no chain extends (a chain cannot outgrow its doc, so
    termination is inherent; reference SpanQueryRepetition has no
    artificial bound either). ``hard_cap`` is only a logged safety
    valve, not a silent truncation."""
    import pandas as pd

    if rmin < 1:
        raise ValueError("use planner empty-sequence rewrite for min=0")
    rmax_eff: int | None = rmax if rmax >= 0 else None
    if rmax_eff is not None and rmin > rmax_eff:
        return clause.limit(0)
    if rmin == 1 and rmax_eff == 1:
        return clause
    caps = _caps(clause)
    out_cols = ["doc_id", "start", "end", *caps]
    schema = "doc_id long, start int, end int" + "".join(
        f", {c} int" for c in caps
    )

    def chain_kernel(pdf: pd.DataFrame):
        d = pdf["doc_id"].to_numpy(np.int64)
        s = pdf["start"].to_numpy(np.int64)
        e = pdf["end"].to_numpy(np.int64)
        order = np.lexsort((e, s, d))
        d, s, e = d[order], s[order], e[order]
        capv = {c: pdf[c].to_numpy()[order] for c in caps}
        if not caps and len(d):
            # set semantics: duplicate spans chain multiplicatively for
            # no benefit — dedupe input rows up front
            uniq = np.ones(len(d), dtype=bool)
            uniq[1:] = (d[1:] != d[:-1]) | (s[1:] != s[:-1]) | (e[1:] != e[:-1])
            d, s, e = d[uniq], s[uniq], e[uniq]
        m = int(e.max()) + 2 if len(e) else 2
        key_start = d * m + s
        # current chains: (first input row, chain start, chain end)
        cur_first = np.arange(len(d))
        cur_d, cur_s, cur_e = d, s.copy(), e.copy()
        parts: list[tuple] = []
        level = 1
        if rmin <= 1:
            parts.append((cur_d, cur_s, cur_e, cur_first))
        while (rmax_eff is None or level < rmax_eff) and len(cur_first):
            if hard_cap is not None and level >= hard_cap:
                import sys

                print(
                    f"[blacklab_spark] repetition safety valve hit at "
                    f"level {level} (hard_cap={hard_cap}); results "
                    f"truncated",
                    file=sys.stderr,
                )
                break
            tgt = cur_d * m + cur_e
            lo = np.searchsorted(key_start, tgt, "left")
            hi = np.searchsorted(key_start, tgt, "right")
            cnt = hi - lo
            keep = cnt > 0
            reps = cnt[keep]
            if reps.size == 0:
                break
            # flat indices of each chain's extension candidates
            offs = np.arange(int(reps.sum())) - np.repeat(
                np.cumsum(reps) - reps, reps
            )
            nxt = np.repeat(lo[keep], reps) + offs
            cur_first = np.repeat(cur_first[keep], reps)
            cur_d = np.repeat(cur_d[keep], reps)
            cur_s = np.repeat(cur_s[keep], reps)
            cur_e = e[nxt]
            level += 1
            if level >= rmin:
                parts.append((cur_d, cur_s, cur_e, cur_first))
        if not parts:
            return pd.DataFrame({c: [] for c in out_cols})
        od = np.concatenate([p[0] for p in parts])
        os_ = np.concatenate([p[1] for p in parts])
        oe = np.concatenate([p[2] for p in parts])
        of = np.concatenate([p[3] for p in parts])
        out = pd.DataFrame(
            {
                "doc_id": od.astype(np.int64),
                "start": os_.astype(np.int32),
                "end": oe.astype(np.int32),
                **{c: capv[c][of].astype(np.int32) for c in caps},
            }
        )
        # set semantics (the old path ended in dropDuplicates())
        return out.drop_duplicates()

    src = clause.select(*out_cols).withColumn(
        "_g", F.expr(f"doc_id DIV {_REP_BATCH_DOCS}")
    )
    return src.groupBy("_g").applyInPandas(
        lambda pdf: chain_kernel(pdf.drop(columns=["_g"])), schema=schema
    )


def edge(hits: DataFrame, right: bool) -> DataFrame:
    """Zero-length hit at an edge (reference SpanQueryEdge.java:16-19)."""
    if right:
        return hits.select("doc_id", F.col("end").alias("start"), "end", *_caps(hits))
    return hits.select("doc_id", "start", F.col("start").alias("end"), *_caps(hits))


def capture(hits: DataFrame, name: str) -> DataFrame:
    """Tag the clause's span as a named capture group
    (reference SpanQueryCaptureGroup.java:205)."""
    return hits.withColumn(f"cap_{name}_start", F.col("start")).withColumn(
        f"cap_{name}_end", F.col("end")
    )


def unique(hits: DataFrame) -> DataFrame:
    return hits.dropDuplicates([*HIT_COLS])


def fuzzy_hits(corpus, term: str, max_edits: int = 2,
               annotation: str = "word") -> DataFrame:
    """Fuzzy term match via levenshtein over the terms dict
    (reference SpanFuzzyQuery.java — Lucene expands the fuzzy term to
    an OR over dictionary matches; our matched set stays distributed
    as a broadcast semi-join, never a driver roundtrip)."""
    from blacklab_spark.analysis import desensitize_col, desensitize_py

    a = annotation if annotation not in ("word", "") else "word"
    route = _postings_route(corpus, a, "i")
    if route is not None:
        kind, field = route
        tcol = (
            F.col("term") if kind == "direct"
            else desensitize_col(F.col("term"), "i")
        )
        matching_df = corpus.terms_for(field).filter(
            F.levenshtein(tcol, F.lit(desensitize_py(term))) <= max_edits
        ).select("term")
        out = postings_hits_for_terms(corpus, matching_df, field=field)
        if _extra_col(corpus, a):
            sec = _secondary_positions(corpus, a).filter(
                F.levenshtein(
                    desensitize_col(F.col("term"), "i"),
                    F.lit(desensitize_py(term)),
                ) <= max_edits
            ).select(
                "doc_id",
                F.col("pos").alias("start"),
                (F.col("pos") + 1).alias("end"),
            )
            out = out.unionByName(sec).dropDuplicates(["doc_id", "start", "end"])
        return out
    matching_df = corpus.terms.filter(
        F.levenshtein(F.col("term"), F.lit(desensitize_py(term))) <= max_edits
    ).select("term")
    tp = token_positions(corpus, annotation, sensitive=False)
    out = tp.join(F.broadcast(matching_df), "term").select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")
    )
    return _uniq_positions(corpus, annotation, out)

"""CQL AST → hits-DataFrame planner/translator.

The analogue of the reference's TextPattern.translate(...) →
BLSpanQuery tree → optimize/rewrite passes (reference
text-pattern/.../TextPattern.java:36, BLSpanQuery.java:151-156,
optimize/ClauseCombiner*.java). Our rewrites, applied while walking
the AST:

- sequence flattening (reference SpanQuerySequence.java:71-83);
- empty-sequence alternatives: `A B?` → `A | A B`
  (reference SpanQuerySequence.makeAlternatives:364-385);
- any-token folding: `[] A` / `A []{1,3}` become Expansion(A), never a
  full token scan (reference ClauseCombinerAnyExpansion.java:16);
- regex → plain-term fast path (reference TextPatternRegex.java:62-117);
- global constraints compiled to Column expressions over forward-index
  lookups (reference SpanQueryConstrained.java:174).

Every produced operator is a DataFrame combinator from
blacklab_spark.search.spans; Catalyst handles the physical planning.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, functions as F

from blacklab_spark.cql import parser as P
from blacklab_spark.search import spans as S
from blacklab_spark.search.results import Hits



def find(corpus, cql: str) -> Hits:
    ast = P.parse(cql)
    return Hits(corpus, translate(corpus, ast))


# ---------------------------------------------------------------------------
# rewrites
# ---------------------------------------------------------------------------

def _flatten_seq(parts: list) -> list:
    out = []
    for p in parts:
        if isinstance(p, P.Seq):
            out.extend(_flatten_seq(p.parts))
        else:
            out.append(p)
    return out


def _matches_empty(node) -> bool:
    if isinstance(node, P.Repeat):
        # a repetition matches empty when it can run 0 times OR its
        # clause itself can match empty — (X*)+ matches ε even though
        # rmin=1 (reference BLSpanQuery.matchesEmptySequence)
        return node.rmin == 0 or _matches_empty(node.clause)
    if isinstance(node, P.Seq):
        return all(_matches_empty(p) for p in node.parts)
    if isinstance(node, P.Capture):
        return _matches_empty(node.clause)
    if isinstance(node, P.Or):
        return any(_matches_empty(c) for c in node.clauses)
    if isinstance(node, P.SpanAnd):
        # reference TextPatternAnd.matchesEmptySequence: ALL clauses
        # must match ε (a negated clause never does)
        return all(_matches_empty(c) for c in node.clauses)
    return False


def _no_empty(node):
    """The ≥1-repetition variant of a may-match-empty node, or None when
    the node can ONLY match empty — e.g. X{0,0} — so the with-this-part
    alternative must be dropped, not clamped to an impossible {1,0}
    (reference BLSpanQuery.noEmpty contract, BLSpanQuery.java:162-186)."""
    if isinstance(node, P.Repeat):
        if node.rmax == 0:
            return None
        if _matches_empty(node.clause):
            # REP(C, lo, hi) with ε-matching C: non-empty hits are
            # 1..hi iterations of the non-empty variant of C (empty
            # iterations are no-ops, so rmin never forces one) —
            # REP(REP(a,0,∞),1,∞) → REP(REP(a,1,∞),1,∞) ≡ a+
            inner = _no_empty(node.clause)
            if inner is None:
                return None
            return P.Repeat(clause=inner, rmin=1, rmax=node.rmax)
        if node.rmin == 0:
            return replace(node, rmin=1)
    if isinstance(node, P.SpanAnd) and _matches_empty(node):
        # non-ε hits of an intersection = intersection of each
        # clause's non-ε hits (a hit is in the AND iff in every
        # clause; width is a property of the hit itself)
        inners = [_no_empty(c) for c in node.clauses]
        if any(i is None for i in inners):
            return None
        return P.SpanAnd(clauses=inners)
    return node


def _seq_alternatives(parts: list) -> list[list]:
    """Expand optional parts into explicit alternatives:
    [A, B?] -> [[A], [A, B]] (cross product, reference
    SpanQuerySequence.makeAlternatives:364-385)."""
    alts: list[list] = [[]]
    for p in parts:
        if _matches_empty(p):
            ne = _no_empty(p)
            if ne is None:
                continue
            alts = [a + [] for a in alts] + [a + [ne] for a in alts]
        else:
            alts = [a + [p] for a in alts]
    # drop the fully-empty alternative (matches ε — not a hit)
    return [a for a in alts if a]


def _merge_repetitions(parts: list) -> list:
    """Adjacent equal clauses merge into one repetition — `A A` →
    `A{2}`, `A A+` → `A{2,}`, `A{a,b} A{c,d}` → `A{a+c,b+d}`
    (reference ClauseCombinerRepetition.java:11-49). The merged form
    runs as ONE chain-kernel pass instead of an adjacency join per
    occurrence. Captures are never merged (their per-element bindings
    would collapse); any-token runs are left to the gap folding."""

    def base_bounds(p):
        if isinstance(p, P.Repeat):
            return p.clause, p.rmin, (p.rmax if p.rmax >= 0 else None)
        return p, 1, 1

    out: list = []
    for p in parts:
        if out:
            b1, lo1, hi1 = base_bounds(out[-1])
            b2, lo2, hi2 = base_bounds(p)
            if (
                b1 == b2
                and not isinstance(b1, (P.AnyToken, P.Capture))
                and not (isinstance(b1, P.TermNode) and b1.negate)
            ):
                hi = None if (hi1 is None or hi2 is None) else hi1 + hi2
                out[-1] = P.Repeat(b1, lo1 + lo2, -1 if hi is None else hi)
                continue
        out.append(p)
    return out


def _rewrite_matching_tags(parts: list) -> list:
    """Bracketing tag edges become position filters (reference
    SpanQuerySequence.java:94-163 findMatchingTags):

    - ``<s> A ... </s>`` (matching open/close anywhere in the sequence,
      nesting-aware) → ``PosFilter(Seq(inner), <s/>, MATCHES)`` — the
      producer must coincide with ONE element span, so the two
      zero-width edge joins collapse into a single semi-join and
      mismatched open/close pairings of distinct same-name elements
      are excluded;
    - a lone LEADING ``<s>`` → ``STARTS_AT`` anchor, a lone TRAILING
      ``</s>`` → ``ENDS_AT`` anchor (one semi-join instead of a
      zero-width edge adjacency join).

    Interior lone edges keep their zero-width adjacency semantics."""
    for i, p in enumerate(parts):
        if not (isinstance(p, P.Tag) and p.edge == "start"):
            continue
        depth = 0
        for j in range(i + 1, len(parts)):
            q = parts[j]
            if not (isinstance(q, P.Tag) and q.name == p.name):
                continue
            if q.edge == "start":
                depth += 1
            elif q.edge == "end":
                if depth:
                    depth -= 1
                    continue
                if j == i + 1:
                    break  # <s> </s>: empty-element probe, keep edges
                node = P.PosFilter(
                    producer=P.Seq(parts=list(parts[i + 1 : j])),
                    filter=P.Tag(p.name, dict(p.attrs), "full"),
                    op="matches",
                )
                return _rewrite_matching_tags(
                    parts[:i] + [node] + parts[j + 1 :]
                )
        # no matching close for this open: keep scanning later opens
    if (
        len(parts) >= 2
        and isinstance(parts[0], P.Tag)
        and parts[0].edge == "start"
        and not any(
            isinstance(q, P.Tag) and q.name == parts[0].name and q.edge == "end"
            for q in parts[1:]
        )
    ):
        return [
            P.PosFilter(
                producer=P.Seq(parts=_rewrite_matching_tags(parts[1:])),
                filter=P.Tag(parts[0].name, dict(parts[0].attrs), "full"),
                op="starts_at",
            )
        ]
    if (
        len(parts) >= 2
        and isinstance(parts[-1], P.Tag)
        and parts[-1].edge == "end"
        and not any(
            isinstance(q, P.Tag) and q.name == parts[-1].name and q.edge == "start"
            for q in parts[:-1]
        )
    ):
        return [
            P.PosFilter(
                producer=P.Seq(parts=_rewrite_matching_tags(parts[:-1])),
                filter=P.Tag(parts[-1].name, dict(parts[-1].attrs), "full"),
                op="ends_at",
            )
        ]
    return parts


def _fixed_len(node) -> int | None:
    """Token length when every hit of ``node`` has the same fixed
    length ≥ 1 (reference BLSpanQuery.hitsAllSameLength /
    guaranteesAllHitsHaveSameLength); None otherwise."""
    if isinstance(node, (P.TermNode, P.AnyToken, P.TokenAnd, P.TokenOr)):
        return 1
    if isinstance(node, P.Repeat):
        if node.rmin == node.rmax and node.rmin >= 1:
            inner = _fixed_len(node.clause)
            return None if inner is None else node.rmin * inner
        return None
    if isinstance(node, P.Seq):
        total = 0
        for p in node.parts:
            l = _fixed_len(p)
            if l is None:
                return None
            total += l
        return total if total >= 1 else None
    if isinstance(node, P.Capture):
        return _fixed_len(node.clause)
    if isinstance(node, P.Or):
        lens = {_fixed_len(c) for c in node.clauses}
        return lens.pop() if len(lens) == 1 and None not in lens else None
    return None


def _internalize(parts: list) -> list:
    """Pull fixed-length neighbors inside an adjacent position filter
    (reference ClauseCombinerInternalisation.java:11,
    BLSpanQuery.canInternalizeNeighbour:316-333): ``"the" ([pos="adj"]
    within <turn/>)`` becomes ``(("the" [pos="adj"]) within <turn/>)``
    with a +1 left-edge adjustment on the positional test. The win here
    is planner visibility: the producer becomes a plain sequence, so
    the cost-based forward-index probe applies to the annotation clause
    instead of materializing every annotation position before the
    filter semi-join. Capture internalisation is unnecessary in this
    engine — captures are columns carried through joins, they never
    block a plan. Producers that may match empty are left alone (their
    ε-alternative handling must stay inside the filter)."""
    changed = True
    while changed:
        changed = False
        for i, p in enumerate(parts):
            if not isinstance(p, P.PosFilter) or _matches_empty(p.producer):
                continue
            if i > 0:
                l = _fixed_len(parts[i - 1])
                if l is not None:
                    node = replace(
                        p,
                        producer=P.Seq(parts=[parts[i - 1], p.producer]),
                        ladj=p.ladj + l,
                    )
                    parts = parts[: i - 1] + [node] + parts[i + 1 :]
                    changed = True
                    break
            if i + 1 < len(parts):
                l = _fixed_len(parts[i + 1])
                if l is not None:
                    node = replace(
                        p,
                        producer=P.Seq(parts=[p.producer, parts[i + 1]]),
                        radj=p.radj - l,
                    )
                    parts = parts[:i] + [node] + parts[i + 2 :]
                    changed = True
                    break
    return parts


def _anytoken_bounds(node) -> tuple[int, int | None] | None:
    """(min,max) if node is pure any-token filler ([], []{n,m}); else
    None. An unbounded filler ([]* / []+) yields max=None — downstream
    gap/expansion operators treat it as a data-driven doc-edge bound."""
    if isinstance(node, P.AnyToken):
        return (1, 1)
    if isinstance(node, P.Repeat) and isinstance(node.clause, P.AnyToken):
        return (node.rmin, node.rmax if node.rmax >= 0 else None)
    return None


# ---------------------------------------------------------------------------
# translation
# ---------------------------------------------------------------------------

def translate(corpus, node) -> DataFrame:
    if isinstance(node, P.TermNode):
        return _term(corpus, node)
    if isinstance(node, P.AnyToken):
        return S.any_token(corpus, 1, 1)
    if isinstance(node, P.FISeq):
        return _fi_seq(corpus, node)
    if isinstance(node, P.TokenAnd):
        return _token_and(corpus, node)
    if isinstance(node, P.SpanAnd):
        return _span_and(corpus, node)
    if isinstance(node, P.TokenOr):
        ts = _plain_term_set(node)
        if ts is not None:
            ann, sens, vals = ts
            return S.term_set_hits(corpus, vals, ann, sens)
        return S.union_all([translate(corpus, c) for c in node.clauses])
    if isinstance(node, P.Or):
        ts = _plain_term_set(node)
        if ts is not None:
            # OR of plain same-annotation terms: ONE postings IN-scan,
            # not a chained union per alternative (a wide machine-built
            # alternation must stay a single job)
            ann, sens, vals = ts
            return S.term_set_hits(corpus, vals, ann, sens)
        return S.union_all([translate(corpus, c) for c in node.clauses])
    if isinstance(node, P.Seq):
        parts = _internalize(
            _rewrite_matching_tags(_merge_repetitions(_flatten_seq(node.parts)))
        )
        if len(parts) == 1:
            return translate(corpus, parts[0])
        return _sequence(corpus, parts)
    if isinstance(node, P.Repeat):
        rmin = max(1, node.rmin)  # standalone X* ≡ X+ (ε hits dropped)
        rmax = node.rmax if node.rmax >= 0 else -1
        inner = translate(corpus, node.clause)
        if rmin == 1 and node.rmax == 1:
            return inner
        # unbounded repetition is DATA-DRIVEN: the chain kernel runs
        # until no chain extends (no silent truncation cap)
        return S.repetition(inner, rmin, rmax)
    if isinstance(node, P.Capture):
        return S.capture(translate(corpus, node.clause), node.name)
    if isinstance(node, P.Tag):
        spans = S.tag_spans(corpus, node.name, node.attrs or None)
        if node.edge == "start":
            return S.edge(spans, right=False)
        if node.edge == "end":
            return S.edge(spans, right=True)
        return spans
    if isinstance(node, P.PosFilter):
        prod = translate(corpus, node.producer)
        filt = translate(corpus, node.filter)
        return S.position_filter(
            prod, filt, node.op, invert=node.invert,
            ladj=node.ladj, radj=node.radj,
        )
    if isinstance(node, P.Constrained):
        hits = translate(corpus, node.clause)
        return _constrained(corpus, hits, node.constraint)
    raise TypeError(f"cannot translate {type(node).__name__}")


def _term(corpus, node: P.TermNode) -> DataFrame:
    if node.negate:
        return S.token_not(corpus, _term(corpus, replace(node, negate=False)))
    if P.is_plain_term(node.value):
        return S.term_hits(
            corpus, node.value, annotation=node.annotation, sensitive=node.sensitive
        )
    return S.regex_hits(
        corpus, node.value, annotation=node.annotation, sensitive=node.sensitive
    )


def _plain_term_set(node) -> tuple | None:
    """(annotation, sensitive, values) when every clause of an Or /
    TokenOr is a non-negated plain term of the same annotation and
    sensitivity — the shape that collapses to one postings IN-scan."""
    clauses = node.clauses
    if len(clauses) < 2:
        return None
    ann0 = sens0 = None
    vals: list[str] = []
    for c in clauses:
        if not (
            isinstance(c, P.TermNode)
            and not c.negate
            and P.is_plain_term(c.value)
        ):
            return None
        a, s = (c.annotation or "word"), c.sensitive
        if ann0 is None:
            ann0, sens0 = a, s
        elif a != ann0 or s != sens0:
            return None
        vals.append(c.value)
    return (ann0, sens0, vals)


def _combine_pos_neg(corpus, pos: list, neg: list) -> DataFrame:
    """Shared AND/NOT combine (reference SpanQueryAndNot include/
    exclude lists): intersect the positive clauses on identical
    (doc, start, end), then subtract each negative's exact spans."""
    if pos:
        out = translate(corpus, pos[0])
        for c in pos[1:]:
            out = S.and_spans(out, translate(corpus, c))
    else:
        out = S.any_token(corpus, 1, 1)
    for c in neg:
        out = S.and_not(out, translate(corpus, c))
    return out


def _span_and(corpus, node: P.SpanAnd) -> DataFrame:
    """Span-level `A & B` (reference TextPatternAnd -> SpanQueryAndNot,
    SpansAnd.java:251): intersect on identical (doc, start, end). A
    negated clause (`A & !B`) subtracts B's hits instead of
    intersecting with the corpus-wide token complement — the
    reference's AND(a, NOT(b)) -> POSFILTER(a, b, NOTMATCHES) rewrite
    (TestQueryRewrite.java:146-151)."""
    pos, neg = [], []
    for c in node.clauses:
        if (
            isinstance(c, P.TokenAnd)
            and len(c.clauses) == 1
            and c.clauses[0][0] == "not"
        ):
            neg.append(c.clauses[0][1])
        elif isinstance(c, P.TermNode) and c.negate:
            neg.append(replace(c, negate=False))
        else:
            pos.append(c)
    return _combine_pos_neg(corpus, pos, neg)


def _token_and(corpus, node: P.TokenAnd) -> DataFrame:
    pos, neg = [], []
    for kind, clause in node.clauses:
        # inner negation on a term clause (word!="x")
        if isinstance(clause, P.TermNode) and clause.negate:
            clause = replace(clause, negate=False)
            kind = "not" if kind == "and" else "and"
        (pos if kind == "and" else neg).append(clause)
    return _combine_pos_neg(corpus, pos, neg)


def _sequence(corpus, parts: list) -> DataFrame:
    alts = _seq_alternatives(parts)
    dfs = [_sequence_one(corpus, a) for a in alts]
    out = dfs[0]
    for d in dfs[1:]:
        out = S.union(out, d)
    if len(dfs) > 1:
        out = S.unique(out)
    return out


def _invertible_neg(part) -> P.TermNode | None:
    """A negated plain-term part eligible for NOTCONTAINING inversion
    inside a sequence (reference ClauseCombinerNot.java:14-56;
    BLSpanQuery.okayToInvertForOptimization:205 — cheap negations get
    rewritten so the corpus-wide any-token complement is never built)."""
    if (
        isinstance(part, P.TermNode)
        and part.negate
        and not part.sensitive
        and P.is_plain_term(part.value)
    ):
        return part
    return None


def _probe_spec(part) -> tuple[str, tuple] | None:
    """(annotation, matcher) when the part is matchable by a single
    forward-index token probe: a plain term, a regex term, an OR of
    plain terms, a NEGATED term/regex ('n*' matcher kinds — the
    reference's NOT NFA states), or an AND of such conditions at one
    position ('and' composite — reference AND states; fimatch
    NfaState.java:96-121). All insensitive-only."""
    if isinstance(part, P.TermNode) and not part.sensitive:
        ann = part.annotation or "word"
        kind = "regex" if not P.is_plain_term(part.value) else "term"
        if part.negate:
            kind = "n" + kind
        return (ann, (kind, part.value))
    if isinstance(part, P.TokenAnd):
        specs: list[tuple[str, tuple]] = []
        for ckind, clause in part.clauses:
            st = _probe_spec(clause)
            if st is None or st[1][0] == "and":
                return None
            if ckind == "not":  # [a & !b] / &-chained negation:
                # ¬term/¬regex flip to n-kinds; ¬(a|b) = nset (exists
                # and not in the set) — De Morgan stays one state
                m = st[1]
                neg = (
                    (m[0][1:], m[1]) if m[0].startswith("n")
                    else ("n" + m[0], m[1])
                )
                st = (st[0], neg)
            specs.append(st)
        if specs:
            return (specs[0][0], ("and", specs))
        return None
    if isinstance(part, (P.TokenOr, P.Or)):
        vals: list[str] = []
        ann0 = None
        for c in part.clauses:
            if (
                isinstance(c, P.TermNode)
                and not c.negate
                and not c.sensitive
                and P.is_plain_term(c.value)
            ):
                a = c.annotation or "word"
                if ann0 is None:
                    ann0 = a
                if a != ann0:
                    return None
                vals.append(c.value)
            else:
                return None
        if vals:
            return (ann0, ("set", vals))
    return None


def _probe_rep_spec(part, corpus=None) -> tuple | None:
    """(ann, matcher, rmin, rmax) when the part is a repetition of a
    single-token probe-able clause — the NFA repetition state (reference
    NfaState.java repetition states via ClauseCombinerNfa): `[pos=
    "adj"]+` next to an anchor walks the forward index as ONE run-length
    scan instead of materializing every annotation position.

    Multi-valued annotations are rejected (run-length aggregate reads
    only the primary array); those fall back to the position join,
    which unions secondary values."""
    if isinstance(part, P.Repeat):
        inner = _probe_spec(part.clause)
        if inner is not None:
            if inner[1][0] == "and":
                # composite state inside the run-length aggregate would
                # need one window per conjunct annotation: fall back
                return None
            if corpus is not None and S._extra_col(corpus, inner[0] or "word"):
                return None
            # unbounded: rmax=None -> the FI walk scans to the doc edge
            rmax = part.rmax if part.rmax >= 0 else None
            return (inner[0], inner[1], max(1, part.rmin), rmax)
    return None


_ANN_COST = float("inf")  # an annotation with NO postings field:
# materializing its positions is a full token-table scan, so the cost
# model treats it as infinitely frequent — always probed when anchored.
# Annotations that DO have postings (cfg.index_fields) get real df
# estimates from their own terms dict instead.

_MAX_FI_WALK = 8  # bounded multi-step walk length
_MAX_FI_ALTS = 8  # bounded OR-of-sequence alternation branches


def _probe_walks_for(node, corpus=None) -> list[list[tuple]] | None:
    """Alternative walk specs for a whole clause, or None when any part
    is not probe-able. A Seq of probe-able parts is ONE walk — any
    number of single-token states and repetition states (the linear NFA
    fragment, reference NfaState.java:96-121 token/or/repetition
    states); an Or whose clauses all yield walks is their UNION
    (alternation of different-length sequences — reference NFAs branch;
    we run each branch's walk from the same anchor and union)."""
    if isinstance(node, (P.TokenOr, P.Or)):
        # single-token OR collapses to one 'set' state when possible
        st = _probe_spec(node)
        if st is not None:
            return [[st]]
        if isinstance(node, P.Or):
            walks: list[list[tuple]] = []
            for c in node.clauses:
                w = _probe_walks_for(c, corpus)
                if w is None:
                    return None
                walks.extend(w)
            # bounded alternation: each branch is one more probe pass
            return walks if 0 < len(walks) <= _MAX_FI_ALTS else None
        return None
    if isinstance(node, P.Seq):
        parts = _flatten_seq(node.parts)
        specs = []
        for p in parts:
            st = _probe_spec(p) or _probe_rep_spec(p, corpus)
            if st is None:
                return None
            specs.append(st)
        if specs and len(specs) <= _MAX_FI_WALK:
            return [specs]
        return None
    st = _probe_spec(node) or _probe_rep_spec(node, corpus)
    return [[st]] if st is not None else None


def _fi_seq(corpus, node: P.FISeq) -> DataFrame:
    """Forced forward-index strategy (reference
    TextPatternQueryFunction.java:38-61 → SpanQueryFiSeq): _FI1 anchors
    on the RIGHT clause and probes the left backward over the token
    arrays; _FI2 anchors LEFT and probes right. The probed clause may
    be a plain term, a regex, an OR of terms, a bounded sequence of
    those with any number of repetition states, or an OR of such
    sequences (each alternative walks from the same anchor, results
    unioned — reference NfaState.java:96-121 branch states /
    ClauseCombinerNfa.java:144-282); anything else falls back to the
    adjacency join."""
    if node.fi_clause == 1:
        walks = _probe_walks_for(node.left, corpus)
        if walks is not None:
            anchor = translate(corpus, node.right)
            # left walk moves away from the anchor: reverse clause order
            outs = [
                S.probe_steps(corpus, anchor, list(reversed(w)), "left")
                for w in walks
            ]
            out = outs[0]
            for d in outs[1:]:
                out = S.union(out, d)
            return out
    else:
        walks = _probe_walks_for(node.right, corpus)
        if walks is not None:
            anchor = translate(corpus, node.left)
            outs = [S.probe_steps(corpus, anchor, w, "right") for w in walks]
            out = outs[0]
            for d in outs[1:]:
                out = S.union(out, d)
            return out
    return _sequence(corpus, [node.left, node.right])


def _df_est_view(views: dict, field: str, d: dict) -> dict:
    """Vocab views for VECTORIZED df estimation over the cached terms
    dict: a newline-joined blob + line-start offsets + a df array, so a
    novel regex estimates its df with ONE C-level ``finditer`` scan
    over the whole vocab instead of an O(vocab) Python ``pat.match``
    loop (the r4 'driver-side novel-regex loop' finding — at 2M vocab
    the loop cost seconds of driver time per first-touch regex).
    Desensitized views for the rare sensitive-field-queried-
    insensitively route are built lazily, once, with pandas str ops.
    ``views`` is the corpus generation's df_est_views dict, which lives
    next to field_stats, so a write that commits a new generation drops
    both together."""
    import numpy as np

    view = views.get(field)
    if view is None:
        terms = list(d)
        dfs = np.fromiter(d.values(), dtype=np.int64, count=len(d))
        lens = np.fromiter(
            (len(t) + 1 for t in terms), dtype=np.int64, count=len(terms)
        )
        starts = np.zeros(len(terms), dtype=np.int64)
        if len(terms) > 1:
            np.cumsum(lens[:-1], out=starts[1:])
        view = {"terms": terms, "blob": "\n".join(terms),
                "starts": starts, "dfs": dfs,
                "desens": None, "desens_sum": None}
        views[field] = view
    return view


def _desens_series(view: dict):
    """Desensitized term values, 1:1 with view['terms'] (vectorized
    lower+fold — pandas C loops, not per-term Python)."""
    import pandas as pd

    from blacklab_spark.analysis import _PY_FOLD_TABLE

    return (
        pd.Series(view["terms"], dtype="object")
        .str.lower().str.translate(_PY_FOLD_TABLE)
    )


def _regex_df_scan(blob: str, starts, dfs, pattern: str) -> int | None:
    """Sum df over vocab lines matching the anchored case-folded
    pattern — one multiline scan; matches start exactly at line starts
    so index recovery is a searchsorted."""
    import re as _re

    import numpy as np

    try:
        pat = _re.compile(f"(?im)^(?:{pattern})$")
    except _re.error:
        return None
    ms = np.fromiter(
        (m.start() for m in pat.finditer(blob)), dtype=np.int64
    )
    if ms.size == 0:
        return None
    return int(dfs[np.searchsorted(starts, ms)].sum())


def _py_match_df(views: dict, field: str, d: dict, kind_r: str, kind: str,
                 val) -> int | None:
    """Matching-df sum over the cached in-memory terms dict, mirroring
    the distributed agg's semantics exactly: term/set compare under
    desensitize, regex under the engine's case-folded anchored pattern.
    None = no matching term (SUM over an empty WHEN set is NULL).

    This feeds a COST ESTIMATE only (probe-vs-join plan choice, never
    results), so Python `re` standing in for the JVM rlike on the regex
    kind is acceptable; unsupported syntax degrades to None (unknown),
    the same as a dictionary miss. All O(vocab) work is vectorized
    (blob scan / pandas fold) and cached per field in ``views``."""
    import numpy as np

    from blacklab_spark.analysis import desensitize_py, fold_py

    if kind == "term" and kind_r == "direct":
        v = d.get(desensitize_py(val))
        return int(v) if v is not None else None
    if kind == "set" and kind_r == "direct":
        s = [d[w] for w in {desensitize_py(v) for v in val} if w in d]
        return sum(s) if s else None
    view = _df_est_view(views, field, d)
    if kind in ("term", "set"):
        if view["desens_sum"] is None:
            import pandas as pd

            view["desens_sum"] = (
                pd.Series(view["dfs"]).groupby(_desens_series(view).values)
                .sum().to_dict()
            )
        want = (
            {desensitize_py(val)} if kind == "term"
            else {desensitize_py(v) for v in val}
        )
        s = [view["desens_sum"][w] for w in want if w in view["desens_sum"]]
        return int(sum(s)) if s else None
    pattern = fold_py(val)
    if kind_r == "direct":
        return _regex_df_scan(view["blob"], view["starts"], view["dfs"],
                              pattern)
    if view["desens"] is None:
        dterms = _desens_series(view).tolist()
        lens = np.fromiter(
            (len(t) + 1 for t in dterms), dtype=np.int64, count=len(dterms)
        )
        dstarts = np.zeros(len(dterms), dtype=np.int64)
        if len(dterms) > 1:
            np.cumsum(lens[:-1], out=dstarts[1:])
        view["desens"] = ("\n".join(dterms), dstarts)
    dblob, dstarts = view["desens"]
    return _regex_df_scan(dblob, dstarts, view["dfs"], pattern)


def _seq_part_dfs(corpus, parts: list) -> dict[int, int]:
    """Per-part df estimate for the sequence's probe-able parts — one
    tiny agg over each involved field's terms dict (the planner's
    cost-model input, like the reference's term-frequency cost source,
    BLSpanQuery.reverseMatchingCost via ClauseCombinerNfa.java:144-282).
    Regex / OR parts estimate df as the sum over matching dict terms.
    Annotation parts whose annotation has a postings field get REAL df
    estimates (they are no longer unconditionally 'infinitely
    frequent')."""
    from blacklab_spark.analysis import desensitize_col, desensitize_py, fold_py

    def base_cond(tcol, kind: str, val) -> "F.Column":
        if kind == "term":
            return tcol == desensitize_py(val)
        if kind == "set":
            return tcol.isin([desensitize_py(v) for v in val])
        return tcol.rlike(f"(?i)^(?:{fold_py(val)})$")

    # (part_idx, conj_idx) -> estimable matcher; 'and' composites
    # contribute one estimate per conjunct and take the MIN (the
    # conjunction is at most as frequent as its rarest condition);
    # negated kinds estimate total_df - matching_df (a NOT state is
    # frequent — exactly what the probe walk is for,
    # reference ClauseCombinerNfa + NfaState NOT)
    per_field: dict[str, list[tuple]] = {}
    need_total: set[str] = set()
    for i, part in enumerate(parts):
        spec = _probe_spec(part)
        if spec is None:
            continue
        conjs = spec[1][1] if spec[1][0] == "and" else [spec]
        for j, (ann, matcher) in enumerate(conjs):
            route = S._postings_route(corpus, ann or "word", "i")
            if route is None:
                continue
            kind_r, field = route
            kind, val = matcher
            negated = kind.startswith("n") and kind[1:] in ("term", "set", "regex")
            base_kind = kind[1:] if negated else kind
            per_field.setdefault(field, []).append(
                (i, j, kind_r, base_kind, val, negated)
            )
            if negated:
                need_total.add(field)
    ests: dict[tuple[int, int], int] = {}
    for field, items in per_field.items():
        fs = corpus.field_stats(field)
        if fs is not None:
            # planner fast path: pure-Python lookups over the cached
            # in-memory terms dict (Corpus.field_stats) + a per-matcher
            # memo — ZERO terms-dict Spark jobs per query (the former
            # per-query agg was a sub-second fixed floor on every
            # planned sequence)
            d, total = fs
            st = corpus.state
            memo = st.df_est_memo
            for i, j, kind_r, base_kind, val, negated in items:
                key = (
                    field, kind_r, base_kind,
                    tuple(val) if isinstance(val, (list, tuple, set)) else val,
                )
                if key not in memo:
                    memo[key] = _py_match_df(
                        st.df_est_views, field, d, kind_r, base_kind, val
                    )
                v = memo[key]
                ests[(i, j)] = (
                    max(total - (v if v is not None else 0), 1) if negated
                    else v
                )
            continue
        # huge-vocab fallback: one tiny distributed agg per field
        aggs = []
        for i, j, kind_r, base_kind, val, _neg in items:
            tcol = (
                F.col("term") if kind_r == "direct"
                else desensitize_col(F.col("term"), "i")
            )
            aggs.append(
                F.sum(F.when(base_cond(tcol, base_kind, val), F.col("df")))
                .alias(f"p{i}_{j}")
            )
        if field in need_total:
            aggs.append(F.sum("df").alias("_tot"))
        row = corpus.terms_for(field).agg(*aggs).collect()[0]
        total = int(row["_tot"] or 0) if field in need_total else None
        for i, j, _kr, _bk, _val, negated in items:
            v = row[f"p{i}_{j}"]
            match_df = int(v) if v is not None else 0
            ests[(i, j)] = (
                max(total - match_df, 1) if negated and total is not None
                else match_df if v is not None
                else None
            )
    out: dict[int, int] = {}
    by_part: dict[int, list[int]] = {}
    for (i, _j), v in ests.items():
        if v is not None:
            by_part.setdefault(i, []).append(v)
    for i, vals in by_part.items():
        out[i] = min(vals)
    return out


def _sequence_one(corpus, parts: list) -> DataFrame:
    """One alternative with no empty-matching parts: left-to-right
    adjacency joins, folding [] fillers into expansions.

    Cost-based forward-index strategy (reference ClauseCombinerNfa):
    an adjacent probe-able clause (plain term, regex, OR of terms)
    whose df estimate dwarfs the running anchor estimate is matched by
    probing the token arrays from the anchor hits (S.probe_steps)
    instead of joining its position list; a frequent LEADING clause is
    deferred so the rare right neighbor anchors a backward probe."""
    ratio = corpus.cfg.fi_probe_ratio
    dfs = _seq_part_dfs(corpus, parts) if ratio else {}

    current: DataFrame | None = None
    cur_df: int | None = None  # df estimate (min term df so far)
    pending_left_probe: tuple | None = None  # deferred frequent (part, spec)
    pending_gap: tuple[int, int] | None = None  # leading/infix [] bounds
    pending_neg_lefts: list[DataFrame] = []  # leading [!x] parts deferred

    for i, part in enumerate(parts):
        at = _anytoken_bounds(part)
        if at is not None:
            if pending_gap is None:
                pending_gap = at
            else:
                hi = (
                    None
                    if pending_gap[1] is None or at[1] is None
                    else pending_gap[1] + at[1]
                )
                pending_gap = (pending_gap[0] + at[0], hi)
            continue
        neg = _invertible_neg(part)
        if neg is not None and pending_gap is None and pending_left_probe is None:
            # ClauseCombinerNot inversion: never materialize [!x] as an
            # any-token anti-join inside a sequence
            x_hits = translate(corpus, replace(neg, negate=False))
            if current is None:
                pending_neg_lefts.append(x_hits)
            else:
                current = S.not_token_right(current, corpus, x_hits)
                cur_df = None
            continue
        spec = _probe_spec(part)
        rep = _probe_rep_spec(part, corpus) if spec is None else None
        step = spec if spec is not None else rep  # 2-tuple or 4-tuple
        df_t = dfs.get(i)
        if (
            ratio
            and df_t is None
            and step is not None
            and step[0] not in ("word", "")
            and S._postings_route(corpus, step[0], "i") is None
        ):
            df_t = _ANN_COST  # no postings field: positions = full scan

        if current is None:
            # frequent leading clause directly followed by a rarer
            # part: defer it and probe backward from the rare anchor
            if (
                ratio
                and step is not None
                and df_t is not None
                and pending_gap is None
                and pending_left_probe is None
                and i + 1 < len(parts)
            ):
                df_n = dfs.get(i + 1)
                if df_n is None:
                    nxt = parts[i + 1]
                    s2 = _probe_spec(nxt) or _probe_rep_spec(nxt, corpus)
                    if (
                        s2 is not None
                        and s2[0] not in ("word", "")
                        and S._postings_route(corpus, s2[0], "i") is None
                    ):
                        df_n = _ANN_COST
                if df_n is not None and df_t >= ratio * max(df_n, 1):
                    pending_left_probe = (part, step)
                    continue
            t = translate(corpus, part)
            if pending_gap is not None:
                # leading []s: expand first clause left
                t = S.expand(t, corpus, "left", pending_gap[0], pending_gap[1])
            current = t
            cur_df = df_t
            if pending_left_probe is not None:
                current = S.probe_steps(
                    corpus, current, [pending_left_probe[1]], "left"
                )
                pending_left_probe = None
            if pending_neg_lefts:
                for x_hits in reversed(pending_neg_lefts):
                    current = S.not_token_left(current, corpus, x_hits)
                pending_neg_lefts = []
        elif pending_gap is not None:
            gmin, gmax = pending_gap
            current = S.sequence_with_gap(current, translate(corpus, part), gmin, gmax)
            cur_df = None
        elif (
            ratio
            and step is not None
            and df_t is not None
            and cur_df is not None
            and df_t >= ratio * max(cur_df, 1)
        ):
            current = S.probe_steps(corpus, current, [step], "right")
        else:
            current = S.sequence(current, translate(corpus, part))
            if df_t is not None:
                cur_df = df_t if cur_df is None else min(cur_df, df_t)
        pending_gap = None

    if pending_left_probe is not None:
        # the deferred frequent clause turned out to be the only part
        part0, spec0 = pending_left_probe
        current = (
            translate(corpus, part0)
            if current is None
            else S.probe_steps(corpus, current, [spec0], "left")
        )

    if current is None and pending_gap is not None:
        # pure any-token sequence: [] []{1,2} -> n-grams
        gmin, gmax = pending_gap
        current = S.any_token(corpus, gmin, gmax)
        pending_gap = None
    if pending_neg_lefts:
        if current is None:
            # only negated terms: ONE any-token complement for the last,
            # the rest invert onto it
            current = S.token_not(corpus, pending_neg_lefts.pop())
        for x_hits in reversed(pending_neg_lefts):
            current = S.not_token_left(current, corpus, x_hits)
    if pending_gap is not None:
        # trailing []s: expand right
        current = S.expand(current, corpus, "right", pending_gap[0], pending_gap[1])
    if sum(1 for p in parts if _fixed_len(p) is None) >= 2:
        # two+ variable-length parts can derive the SAME total span
        # from different length splits (A{1,3} B{1,3}: |A|=1,|B|=2 vs
        # |A|=2,|B|=1) — set semantics requires one row per distinct
        # hit (reference ensureSortedUnique, BLSpanQuery.java:105-112).
        # Fixed-length sequences cannot duplicate, so the common
        # phrase path pays no extra shuffle.
        current = current.dropDuplicates()
    return current


# ---------------------------------------------------------------------------
# global constraints
# ---------------------------------------------------------------------------

def _cexpr_captures(expr) -> set[tuple[str, str]]:
    if isinstance(expr, P.CCompare):
        out = set()
        for v in (expr.left, expr.right):
            if v is not None and v.capture is not None and expr.op != "defined":
                out.add((v.capture, v.annotation or "word"))
        return out
    if isinstance(expr, P.CBool):
        out = set()
        for c in expr.clauses:
            out |= _cexpr_captures(c)
        return out
    return set()


def _constrained(corpus, hits: DataFrame, expr) -> DataFrame:
    """Compile a MatchFilter expression to Column predicates over
    element_at() forward-index lookups (reference MatchFilter.java:41,
    SpansConstrained.java:190) — a single doc_id equi-join, zero Python."""
    needed = _cexpr_captures(expr)
    anns = sorted({a for _, a in needed})
    cols = ["doc_id"]
    for a in anns:
        src = "tokens_i" if a in ("word", "") else f"ann_{a}"
        cols.append(F.col(src).alias(f"_toks_{a}"))
    tk = corpus.context_store.select(*cols)
    joined = hits.join(tk, "doc_id")

    from blacklab_spark.analysis import desensitize_col, desensitize_py

    env: dict[tuple[str, str], Column] = {}
    for cap, ann in needed:
        elem = F.element_at(F.col(f"_toks_{ann}"), F.col(f"cap_{cap}_start") + 1)
        # tokens_i is already fully desensitized; sidecar values fold here
        env[(cap, ann)] = (
            elem if ann in ("word", "") else desensitize_col(elem, "i")
        )

    def val(v: P.CVal) -> Column:
        if v.literal is not None:
            return F.lit(desensitize_py(v.literal))
        return env[(v.capture, v.annotation or "word")]

    def compile_expr(e) -> Column:
        if isinstance(e, P.CCompare):
            if e.op == "defined":
                # bare capture: truthy iff the group matched (reference
                # ConstraintValueUndefined is not truthy)
                return F.col(f"cap_{e.left.capture}_start").isNotNull()
            c = val(e.left) == val(e.right)
            return c if e.op == "=" else ~c
        if isinstance(e, P.CBool):
            if e.op == "!":
                return ~compile_expr(e.clauses[0])
            if e.op == "->":
                # a -> b: vacuously true when a is not truthy (null =
                # undefined = falsy), else b's truthiness (reference
                # MatchFilterImplication.java:62-66)
                a = F.coalesce(compile_expr(e.clauses[0]), F.lit(False))
                b = F.coalesce(compile_expr(e.clauses[1]), F.lit(False))
                return ~a | b
            parts = [compile_expr(c) for c in e.clauses]
            out = parts[0]
            for p in parts[1:]:
                out = (out & p) if e.op == "&" else (out | p)
            return out
        raise TypeError(type(e).__name__)

    drop = [f"_toks_{a}" for a in anns]
    return joined.filter(compile_expr(expr)).drop(*drop)

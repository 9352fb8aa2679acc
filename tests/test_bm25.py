"""BM25 rank-identity vs the exact oracle (FIXTURES.md §4)."""

import numpy as np
import pytest

from blacklab_spark.oracle import OracleIndex


@pytest.fixture(scope="module")
def oracle(small_corpus):
    _, pdf = small_corpus
    return OracleIndex.from_rows(pdf.to_dict("records"))


@pytest.fixture(scope="module")
def tombstoned(small_corpus, oracle, tmp_path_factory):
    """A copy of the shared index with tombstones: every 7th doc plus
    the top-2 docs of every _query_set query, so deletes reach into
    the rankings. Not compacted, so N and df still count the dead docs
    (Lucene's stats until a merge). Returns (corpus, live doc ids)."""
    import shutil

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.index.incremental import delete_documents

    corpus, pdf = small_corpus
    d = str(tmp_path_factory.mktemp("tomb") / "idx")
    shutil.copytree(corpus.index_dir, d)
    dead = set(range(0, len(pdf), 7))
    for q in _query_set(oracle):
        dead |= {did for did, _ in oracle.bm25_topk(q, k=2)}
    spark = corpus.spark
    delete_documents(spark, d, spark.createDataFrame(
        [(int(i),) for i in sorted(dead)], "doc_id long"))
    return Corpus.open(spark, d), set(range(len(pdf))) - dead


def _assistant_ids(pdf) -> set[int]:
    """Oracle doc ids (dense rank over (conv_id, turn_idx)) of the
    assistant turns."""
    return {
        i
        for i, row in enumerate(
            pdf.sort_values(["conv_id", "turn_idx"]).to_dict("records")
        )
        if row["role"] == "assistant"
    }


def _query_set(oracle, n_single=8, n_or=6, seed=42):
    """Deterministic queries mixing head/tail df terms."""
    rng = np.random.default_rng(seed)
    vocab = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    head, tail = vocab[:20], vocab[len(vocab) // 2 :]
    queries = []
    for i in range(n_single):
        pool = head if i % 2 == 0 else tail
        queries.append(pool[rng.integers(0, len(pool))])
    for i in range(n_or):
        k = int(rng.integers(2, 5))
        terms = [vocab[rng.integers(0, len(vocab))] for _ in range(k)]
        queries.append(" ".join(terms))
    return queries


def test_rank_identity(small_corpus, oracle):
    corpus, _ = small_corpus
    for q in _query_set(oracle):
        want = oracle.bm25_topk(q, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=10).select("doc_id", "score").collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )


def test_topk_with_metadata_filter(small_corpus, oracle):
    corpus, pdf = small_corpus
    allowed = _assistant_ids(pdf)
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[0]
    want = oracle.bm25_topk(q, k=10, allowed=allowed)
    got = [
        (r["doc_id"], r["score"])
        for r in corpus.topk(q, k=10, filter_expr="role = 'assistant'")
        .select("doc_id", "score")
        .collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    roles = corpus.topk(q, k=10, filter_expr="role = 'assistant'").select("role").collect()
    assert all(r["role"] == "assistant" for r in roles)


def test_large_k_stays_lazy_and_rank_identical(small_corpus, oracle):
    """Above DRIVER_HYDRATE_MAX_K the result must be a distributed plan
    (no k full-text rows on the driver — ADVICE r4 on maxretrieve-scale
    requests) with the same ranking as the eager path."""
    from blacklab_spark.search import bm25

    corpus, _ = small_corpus
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[0]
    big_k = bm25.DRIVER_HYDRATE_MAX_K + 1
    df = corpus.topk(q, k=big_k)
    # lazy plan: a parquet scan feeds the result, not a LocalTableScan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan.split("\n")[0]
    want = oracle.bm25_topk(q, k=big_k)
    got = [(r["doc_id"], r["score"])
           for r in df.select("doc_id", "score").collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want],
                               rtol=1e-6)
    # and the schema matches the eager path exactly
    assert df.columns == corpus.topk(q, k=5).columns


def test_empty_and_missing_terms(small_corpus):
    corpus, _ = small_corpus
    assert corpus.topk("", k=5).count() == 0
    assert corpus.topk("zzzznotaword", k=5).count() == 0


def test_result_text_matches_source(small_corpus, oracle):
    """Per-turn text equality on query results."""
    corpus, pdf = small_corpus
    q = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))[1]
    src = {(r["conv_id"], r["turn_idx"]): r["text"] for r in pdf.to_dict("records")}
    for r in corpus.topk(q, k=10).collect():
        assert src[(r["conv_id"], r["turn_idx"])] == r["text"]


def _by_query(rows) -> dict[int, list]:
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return by_q


def test_batch_topk_rank_identical(small_corpus):
    corpus, pdf = small_corpus
    from blacklab_spark.oracle import OracleIndex

    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    queries = [
        "word00001 word00050",
        "word00002",
        "zzz_not_a_term",
        "word00003 word00007 word00100",
    ]
    by_q = _by_query(corpus.batch_topk(queries, k=5).collect())
    for qid, q in enumerate(queries):
        exp = oracle.bm25_topk(q, k=5)
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in exp], q
        for (_, s1), (_, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9


def test_batch_topk_matches_single_query(small_corpus, oracle):
    """Shared-kernel guarantee: batch_topk == topk per query, rank- and
    score-exact — the batch path runs the same MaxScore/block-max
    kernel (_maxscore_query) per query over memoized blocks, so any
    divergence in skipping logic would show up here."""
    corpus, _ = small_corpus
    queries = _query_set(oracle)
    by_q = _by_query(corpus.batch_topk(queries, k=7).collect())
    for qid, q in enumerate(queries):
        single = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=7).select("doc_id", "score").collect()
        ]
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in single], q
        for (_, s1), (_, s2) in zip(have, single):
            assert abs(s1 - s2) < 1e-9


def test_phrase_scored_topk(small_corpus, oracle):
    """Phrase-scored BM25 (SURVEY §2.5 'phrase-scored queries' — Lucene
    SpanWeight at slop 0): the phrase is one scoring unit, tf = per-doc
    occurrence count, df = docs containing the phrase. Verified against
    a brute-force recomputation over the oracle's token lists."""
    corpus, _ = small_corpus
    # pick a phrase that actually occurs: most frequent adjacent pair
    from collections import Counter

    pairs = Counter()
    for toks in oracle.tokens:
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] += 1
    (w1, w2), _n = pairs.most_common(1)[0]

    tf = {}
    for did, toks in enumerate(oracle.tokens):
        c = sum(1 for a, b in zip(toks, toks[1:]) if (a, b) == (w1, w2))
        if c:
            tf[did] = c
    n = len(oracle.tokens)
    avgdl = sum(len(t) for t in oracle.tokens) / n
    df = len(tf)
    idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
    want = sorted(
        (
            (
                did,
                idf * c / (c + 1.2 * (1.0 - 0.75 + 0.75 * len(oracle.tokens[did]) / avgdl)),
            )
            for did, c in tf.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]

    got = [
        (r["doc_id"], r["score"])
        for r in corpus.topk_phrase(f"{w1} {w2}", k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    )
    # unknown phrase -> empty, not an error
    assert corpus.topk_phrase("zzz qqq", k=5).count() == 0


def test_batch_topk_matches_single_query_after_deletes(tombstoned, oracle):
    """On a tombstoned index batch_topk runs the doc-set plan with the
    tombstones as each segment's doc set; it must still equal per-query
    topk rank- and score-exact, and both must equal the oracle over the
    live docs."""
    corpus, live = tombstoned
    queries = _query_set(oracle, n_single=4, n_or=3)
    by_q = _by_query(corpus.batch_topk(queries, k=7).collect())
    for qid, q in enumerate(queries):
        single = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=7).select("doc_id", "score").collect()
        ]
        want = oracle.bm25_topk(q, k=7, allowed=live)
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in single], q
        assert [d for d, _ in single] == [d for d, _ in want], q
        for (_, s1), (_, s2) in zip(have, single):
            assert abs(s1 - s2) < 1e-9
        np.testing.assert_allclose(
            [s for _, s in single], [s for _, s in want], rtol=1e-6
        )


def test_filtered_topk_after_deletes(small_corpus, tombstoned, oracle):
    """A metadata filter on a tombstoned index: the filter's allowed
    docs are the segment doc set, and they already exclude the
    tombstones — no dead doc may come back, and the ranking is the
    oracle's over filter ∩ live."""
    _, pdf = small_corpus
    corpus, live = tombstoned
    allowed = _assistant_ids(pdf) & live
    vocab = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    for q in (vocab[0], f"{vocab[1]} {vocab[40]}"):
        got = [
            (r["doc_id"], r["score"])
            for r in corpus.topk(q, k=10, filter_expr="role = 'assistant'")
            .select("doc_id", "score").collect()
        ]
        assert got and {d for d, _ in got} <= live, q
        want = oracle.bm25_topk(q, k=10, allowed=allowed)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )


# Spark jobs per warm call on the 1000-turn test corpus, one row per
# plan the top-k paths can take. Single-query latency is floor-bound by
# job count: the scoring kernel runs 1-2 jobs (AQE) and the k-row
# metadata decoration is one scan plus a driver-side join, never a join
# plan (bm25.py topk_bm25 tail).
TOPK_JOB_BUDGET = {
    "plain": 4,
    "filtered": 5,
    "tombstoned": 9,
    "batch": 5,
}


def test_topk_job_count_floor(small_corpus, tombstoned):
    """Job budget per top-k path: a regression guard for a plan
    re-growing extra jobs (a second tombstone read, a hydration join)."""
    corpus, _ = small_corpus
    dead_corpus, _ = tombstoned
    role = "role = 'assistant'"
    paths = {
        "plain": lambda q: corpus.topk(q, k=5).collect(),
        "filtered": lambda q: corpus.topk(q, k=5, filter_expr=role).collect(),
        "tombstoned": lambda q: dead_corpus.topk(q, k=5).collect(),
        "batch": lambda q: corpus.batch_topk(
            [q, "word00004", "word00005 word00006"], k=5).collect(),
    }
    tracker = corpus.spark.sparkContext.statusTracker()
    used = {}
    for path, run in paths.items():
        run("word00001 word00002")  # warm
        before = set(tracker.getJobIdsForGroup(None) or [])
        run("word00003 word00007")
        used[path] = len(set(tracker.getJobIdsForGroup(None) or []) - before)
    over = {p: n for p, n in used.items() if n > TOPK_JOB_BUDGET[p]}
    assert not over, f"Spark jobs {used} over budget {TOPK_JOB_BUDGET}"

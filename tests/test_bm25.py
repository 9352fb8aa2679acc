"""BM25 rank-identity vs the exact oracle (FIXTURES.md §4)."""

import numpy as np
import pytest

from blacklab_spark.oracle import OracleIndex


@pytest.fixture(scope="module")
def oracle(small_corpus):
    _, pdf = small_corpus
    return OracleIndex.from_rows(pdf.to_dict("records"))


def _tombstone(corpus, oracle, n_docs, dest):
    """A copy of ``corpus``'s index at ``dest`` with tombstones: every
    7th doc plus the top-2 docs of every _query_set query, so deletes
    reach into the rankings. Not compacted, so N and df still count the
    dead docs (Lucene's stats until a merge). Returns (corpus, live doc
    ids)."""
    import shutil

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.index.incremental import delete_documents

    d = str(dest / "idx")
    shutil.copytree(corpus.index_dir, d)
    dead = set(range(0, n_docs, 7))
    for q in _query_set(oracle):
        dead |= {did for did, _ in oracle.bm25_topk(q, k=2)}
    spark = corpus.spark
    delete_documents(spark, d, spark.createDataFrame(
        [(int(i),) for i in sorted(dead)], "doc_id long"))
    return Corpus.open(spark, d), set(range(n_docs)) - dead


@pytest.fixture(scope="module")
def tombstoned(small_corpus, oracle, tmp_path_factory):
    corpus, pdf = small_corpus
    return _tombstone(corpus, oracle, len(pdf), tmp_path_factory.mktemp("tomb"))


@pytest.fixture(scope="module")
def fine_corpus(small_corpus, tmp_path_factory):
    """The shared turns indexed in 32-doc segments: 32 segments, more
    than the test session's 8 cores, so each scoring task takes several
    segments."""
    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus

    corpus, pdf = small_corpus
    spark = corpus.spark
    return Corpus.build(spark, spark.createDataFrame(pdf),
                        str(tmp_path_factory.mktemp("fine") / "idx"),
                        EngineConfig(segment_size=32, block_size=16))


@pytest.fixture(scope="module")
def fine_tombstoned(small_corpus, fine_corpus, oracle, tmp_path_factory):
    _, pdf = small_corpus
    return _tombstone(fine_corpus, oracle, len(pdf),
                      tmp_path_factory.mktemp("fine_tomb"))


def _spark_jobs(sc, fn):
    """(fn(), ids of the Spark jobs it ran). The listener bus is drained
    on both sides, so no job is missed or counted late."""
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty(30_000)
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    bus.waitUntilEmpty(30_000)
    return out, sorted(set(tracker.getJobIdsForGroup(None) or []) - before)


def _scoring_tasks(sc, jobs) -> list[int]:
    """Task counts of the stages of ``jobs`` that ran the scoring UDF:
    those whose plan nodes include a FlatMap(Co)GroupsInPandas.

    Reads Spark internals over py4j: the listener bus's waitUntilEmpty
    (in _spark_jobs), the status store's operationGraphForStage, and
    the plan node names in its RDD-scope clusters. The store keeps
    these with spark.ui.enabled=false. A Spark upgrade that renames the
    node or changes these private APIs makes this return [], which the
    callers report as "no scoring stage found", not as a regression."""
    store = sc._jsc.sc().statusStore()

    def names(cluster):
        yield cluster.name()
        it = cluster.childClusters().iterator()
        while it.hasNext():
            yield from names(it.next())

    tasks = []
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            graph = store.operationGraphForStage(sid)
            if any("InPandas" in n for n in names(graph.rootCluster())):
                tasks.append(stage.numTasks())
    return tasks


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


def test_rank_identity(small_corpus, fine_corpus, oracle):
    """On the shared index, and on the same turns in more segments than
    cores (each scoring task then scores several segments)."""
    for corpus in (small_corpus[0], fine_corpus):
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


def test_batch_topk_rank_identical(small_corpus, fine_corpus):
    """On the shared index, and on the same turns in more segments than
    cores (a batch then scores in several tasks per core)."""
    _, pdf = small_corpus
    from blacklab_spark.oracle import OracleIndex

    oracle = OracleIndex.from_rows(pdf.to_dict("records"))
    queries = [
        "word00001 word00050",
        "word00002",
        "zzz_not_a_term",
        "word00003 word00007 word00100",
    ]
    for corpus in (small_corpus[0], fine_corpus):
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
# job count: the scoring kernel runs 1-2 jobs (AQE), the k-row metadata
# decoration is one scan plus a driver-side join, never a join plan, and
# the eager result is a local relation whose collect runs no job
# (bm25.py topk_bm25 tail). A query with no dictionary term runs none.
TOPK_JOB_BUDGET = {
    "plain": 3,
    "filtered": 4,
    "tombstoned": 8,
    "batch": 5,
    "no_match": 0,
}


def test_topk_job_count_floor(small_corpus, tombstoned):
    """Job budget per top-k path, call and collect together: a
    regression guard for a plan re-growing extra jobs (a second
    tombstone read, a hydration join). Collecting the DataFrame an
    eager topk returns must run no job at all."""
    corpus, _ = small_corpus
    dead_corpus, _ = tombstoned
    sc = corpus.spark.sparkContext
    role = "role = 'assistant'"
    paths = {
        "plain": lambda q: corpus.topk(q, k=5),
        "filtered": lambda q: corpus.topk(q, k=5, filter_expr=role),
        "tombstoned": lambda q: dead_corpus.topk(q, k=5),
        "batch": lambda q: corpus.batch_topk(
            [q, "word00004", "word00005 word00006"], k=5),
        "no_match": lambda q: corpus.topk("zzzznotaword qqqqnotaword", k=5),
    }
    used, collect_jobs = {}, {}
    for path, run in paths.items():
        run("word00001 word00002").collect()  # warm
        df, call = _spark_jobs(sc, lambda: run("word00003 word00007"))
        _, coll = _spark_jobs(sc, df.collect)
        used[path] = len(call) + len(coll)
        collect_jobs[path] = len(coll)
    over = {p: n for p, n in used.items() if n > TOPK_JOB_BUDGET[p]}
    assert not over, f"Spark jobs {used} over budget {TOPK_JOB_BUDGET}"
    eager = {p: n for p, n in collect_jobs.items() if p != "batch" and n}
    assert not eager, f"collecting an eager topk result ran jobs: {eager}"


def test_scoring_runs_one_task_per_core(small_corpus, fine_corpus,
                                        fine_tombstoned, oracle):
    """With more segments (32) than cores (8), every top-k plan scores
    in one wave: its scoring stage runs at most defaultParallelism
    Python tasks, each scoring several segments, and the ranking is
    still the oracle's."""
    _, pdf = small_corpus
    dead_corpus, live = fine_tombstoned
    sc = fine_corpus.spark.sparkContext
    vocab = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    q = f"{vocab[0]} {vocab[40]}"
    paths = {
        "plain": (fine_corpus, None, None),
        "filtered": (fine_corpus, "role = 'assistant'", _assistant_ids(pdf)),
        "tombstoned": (dead_corpus, None, live),
    }
    for path, (corpus, filter_expr, allowed) in paths.items():
        rows, jobs = _spark_jobs(
            sc, lambda: corpus.topk(q, k=10, filter_expr=filter_expr).collect())
        tasks = _scoring_tasks(sc, jobs)
        assert tasks, (f"{path}: no scoring stage found in jobs {jobs} "
                       "(see _scoring_tasks for the Spark internals it reads)")
        assert max(tasks) <= sc.defaultParallelism, (path, tasks)
        want = oracle.bm25_topk(q, k=10, allowed=allowed)
        assert [r["doc_id"] for r in rows] == [d for d, _ in want], path
        np.testing.assert_allclose([r["score"] for r in rows],
                                   [s for _, s in want], rtol=1e-6)

"""bm25_topk: one client, closed loop, in-process
``Corpus.topk(q, k=10).collect()`` over the serving corpus.

It isolates the north-star BM25 latency and its fixed per-query floor:
head terms load the ``search.bm25`` kernel, tail terms leave the floor.
The timed phase never touches ``cql``, ``search.cache``, HTTP or index
writes. In traced runs the write-beside-read cycle of ingest.py runs
after it on a separate small index; its figures are per-layer metrics,
outside every end-to-end metric of this workload.
"""

from __future__ import annotations

import os
import time
import traceback

import common
import gen
import ingest
from oracle import topk_rows
from serving import BM25_TURNS, Serving, ensure_all

WARMUP = "w00007 w00420 w20000"
ROLE_FILTER = "role = 'user'"


def run(seed: int, seconds: float, tracer) -> dict:
    ensure_all()
    serving = Serving(BM25_TURNS)
    spark, session_s = common.start_spark()
    tracer.sc = spark.sparkContext
    from blacklab_spark.corpus import Corpus

    opens = []
    for _ in range(3):
        t0 = time.perf_counter()
        corpus = Corpus.open(spark, serving.index)
        opens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    corpus.topk(WARMUP, k=10).collect()
    corpus.topk(WARMUP, k=10, filter_expr=ROLE_FILTER).collect()
    warmup_s = time.perf_counter() - t0

    queries = gen.bm25_queries(seed, 4096)
    ops = []
    start = time.perf_counter()
    deadline = start + seconds
    i = 0
    while time.perf_counter() < deadline:
        # traced runs pair each query: once traced, once not, in
        # alternating order, so the tracing overhead is a paired gap
        if tracer.enabled:
            q, traced = queries[i // 2], (i % 2) == (i // 2) % 2
        else:
            q, traced = queries[i], False
        op = {"id": f"op-{i}", "q": q["q"], "filter": q["filter"], "traced": traced}
        t0 = time.perf_counter()
        try:
            with tracer.op(op["id"], traced):
                op["rows"] = topk_rows(corpus.topk(q["q"], k=10, filter_expr=q["filter"]))
            op["lat"] = time.perf_counter() - t0
        except Exception:  # counted as failed, never retried
            op["error"] = traceback.format_exc(limit=3)
        ops.append(op)
        i += 1
    elapsed = time.perf_counter() - start
    peak_rss_mb = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
    # the write cycle feeds per-layer metrics only, so only traced runs
    # pay for it
    cycle = ingest.cycle(spark, seed, tracer) if tracer.enabled else None

    oracle = serving.oracle()
    try:
        for op in ops:
            if "rows" in op:
                want = oracle.bm25(op["q"], 10, "user" if op["filter"] else None)
                if op["rows"] != want:
                    op["wrong"] = f"topk({op['q']!r}, filter={op['filter']!r}): " \
                        f"got {op['rows']} want {want}"
        oracle.save()
    finally:
        oracle.close()
    res = {
        "spark": spark,
        "session_s": session_s,
        "setup_s": session_s + common.median(opens) + warmup_s,
        "ops": ops,
        "elapsed": elapsed,
        "peak_rss_mb": peak_rss_mb,
    }
    if cycle is not None:
        res["ingest"] = cycle
    return res

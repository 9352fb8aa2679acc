"""The write-beside-read cycle, run after bm25_topk's timed phase.

A fresh index is built over a seeded corpus with ``Corpus.build``. One
round then runs ``add_documents`` with a delta that plants a
round-unique marker term, ``delete_documents`` of 100 older turns, a
reopen with one verified ``topk`` of the marker (the delta is visible)
and a verified ``find().count()`` of a term the deleted turns hold (the
tombstones are honoured). ``compact()`` runs last. This is where
``index.build``, ``index.incremental`` and the terms-dict invalidation
dominate. It is a phase, not a workload of its own: see RATIONALE.md.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np

import common
import gen
from oracle import Oracle, topk_rows

TURNS = 10_000
DELTA = 500
DELETES = 100
ROUNDS = 1
CHECK_TERM = gen.term(5)


def marker(seed: int, r: int) -> str:
    return f"zmark{seed}x{r}"


def snapshot(path: str) -> dict[str, tuple[int, float]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out


def plan(seed: int, work: str) -> tuple[list[dict], float]:
    """Write the base corpus and the round deltas; choose each round's
    deletions; compute every round's expected answers. Returns (rounds,
    source parquet bytes)."""
    base = gen.corpus(TURNS, seed)
    gen.write_parquet(base, os.path.join(work, "base.parquet"))
    oracle = Oracle(os.path.join(work, "oracle.duckdb"))
    try:
        oracle.add_source(os.path.join(work, "base.parquet"))
        holders = np.flatnonzero(
            base["text"].str.contains(rf"\b{CHECK_TERM}\b", regex=True).to_numpy()
        )
        rng = np.random.default_rng([seed, 3])
        victims = rng.permutation(holders)[: DELETES * ROUNDS]
        rounds = []
        for r in range(ROUNDS):
            path = os.path.join(work, f"delta-{r}.parquet")
            gen.write_parquet(
                gen.corpus(DELTA, seed * 100 + r + 1, conv_base=10**6 * (r + 1),
                           marker=marker(seed, r)),
                path,
            )
            rows = base.iloc[victims[r * DELETES:(r + 1) * DELETES]]
            keys = [(c, int(t)) for c, t in zip(rows["conv_id"], rows["turn_idx"])]
            oracle.add_source(path)
            oracle.delete(keys)
            rounds.append({
                "delta": path, "keys": keys, "marker": marker(seed, r),
                "topk": oracle.bm25(marker(seed, r), 10),
                "count": oracle.term_hits(CHECK_TERM)["hits"],
            })
    finally:
        oracle.close()
    return rounds, common.du(os.path.join(work, "base.parquet"))


def cycle(spark, seed: int, tracer) -> dict:
    """Build, the rounds and compaction in a scratch directory, with
    their timings, sizes and verified answers."""
    work = os.path.join(common.WORK, f"ingest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _cycle(spark, seed, tracer, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _cycle(spark, seed: int, tracer, work: str) -> dict:
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.index import incremental

    rounds, source_bytes = plan(seed, work)
    idx = os.path.join(work, "index")
    t0 = time.perf_counter()
    with tracer.op("build"):
        Corpus.build(spark, spark.read.parquet(os.path.join(work, "base.parquet")), idx)
    build_s = time.perf_counter() - t0
    tables = {t: common.du(os.path.join(idx, t)) for t in ("tokenized", "postings", "terms")}

    ops = []
    for r, rd in enumerate(rounds):
        op = {"id": f"round-{r}", "traced": True}
        t_round = time.perf_counter()
        try:
            with tracer.op(op["id"]):
                t0 = time.perf_counter()
                incremental.add_documents(spark, idx, spark.read.parquet(rd["delta"]))
                op["append_s"] = time.perf_counter() - t0
                op["terms_bytes"] = common.du(os.path.join(idx, "terms"))

                t0 = time.perf_counter()
                keys = spark.createDataFrame(rd["keys"], "conv_id string, turn_idx int")
                doc_ids = Corpus.open(spark, idx).doc_stats.join(
                    keys, ["conv_id", "turn_idx"]).select("doc_id")
                incremental.delete_documents(spark, idx, doc_ids)
                op["delete_s"] = time.perf_counter() - t0

                t0 = time.perf_counter()
                corpus = Corpus.open(spark, idx)
                got = topk_rows(corpus.topk(rd["marker"], k=10))
                op["read_s"] = time.perf_counter() - t0
                if got != rd["topk"]:
                    op["wrong"] = f"topk({rd['marker']!r}) after append: got {got} " \
                        f"want {rd['topk']}"

                t0 = time.perf_counter()
                n = corpus.find(f'"{CHECK_TERM}"').count()
                op["count_s"] = time.perf_counter() - t0
                if n != rd["count"] and "wrong" not in op:
                    op["wrong"] = f"find('\"{CHECK_TERM}\"').count() after delete: " \
                        f"{n} want {rd['count']}"
            op["lat"] = time.perf_counter() - t_round
        except Exception:  # counted as failed, never retried
            op["error"] = traceback.format_exc(limit=3)
        ops.append(op)

    before = snapshot(idx)
    t0 = time.perf_counter()
    with tracer.op("compact"):
        incremental.compact(spark, idx)
    compact_s = time.perf_counter() - t0
    after = snapshot(idx)
    rewritten = sum(size for p, (size, mtime) in after.items()
                    if before.get(p, (None, None))[1] != mtime)
    return {
        "ops": ops,
        "build_s": build_s,
        "turns": TURNS,
        "tables": tables,
        "source_bytes": source_bytes,
        "compact_s": compact_s,
        "compact_bytes": rewritten,
    }

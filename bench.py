"""Benchmark harness — the driver runs this per-round.

Runs the headline jobs at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries": {...}, "sf", ...}.

Headline jobs (matching BASELINE.json's metric):
- index_build:   inverted-index build over a deterministic synthetic
                 transcript corpus (SPARK_GRAFT_BENCH_TURNS turns,
                 default 100k) -> also reported as turns/sec
- bm25_q*:       top-k BM25 query latency over that index (p95 over
                 the query set reported)
- cql_phrase/gap: span query latency
- termfreq/group: analytics latency
- docs-table ops at sf_dir: minhash LSH dedup, simhash, cosine top-k
- queries_big:   the same per-query suite on a 6.4M-turn corpus (64x
                 the grading scale; SPARK_GRAFT_BENCH_BIG_TURNS, 0
                 disables) — the scale point validating the plans
                 beyond sf0.1

Timing methodology is FROZEN (BASELINE.md "Bench methodology"): min-of-2
query timings with untimed warmups, steady-state build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.session import get_spark
from blacklab_spark.synth import generate_spark

BM25_QUERIES = [
    "word00001 word00050",
    "word00002 word00100 word00500",
    "word00010",
    "word00003 word00007 word00250 word01000",
    "word00020 word00200",
    "word00005 word02000",
    "word00001 word00002 word00003",
    "word00042 word00420 word04200",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "100000"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    queries: dict[str, float] = {}
    t_total0 = time.time()

    # ---- index build over synthetic transcripts -------------------------
    idx_dir = f"/tmp/bench_idx_{cpus}_{n_turns}"
    shutil.rmtree(idx_dir, ignore_errors=True)
    # input corpus as a stored parquet table (the north-rule input
    # shape); generation happens outside the timed build
    src = f"/tmp/bench_src_{n_turns}.parquet"
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        generate_spark(spark, n_turns, seed=42, n_partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(src)
    transcripts = spark.read.parquet(src)
    # untimed warmup build on a tiny slice: JIT/codegen/Arrow paths and
    # the parquet writer committers warm once, so the timed figure is
    # steady-state build throughput (same treatment the BM25 section
    # and tools/scaling_run.py give their timed regions)
    warm_dir = f"/tmp/bench_idx_warm_{cpus}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    Corpus.build(
        spark, transcripts.limit(2000), warm_dir,
        EngineConfig(segment_size=1 << 13, block_size=128),
    )
    t0 = time.time()
    corpus = Corpus.build(
        spark, transcripts, idx_dir, EngineConfig(segment_size=1 << 13, block_size=128)
    )
    build_s = time.time() - t0
    queries["index_build"] = round(build_s, 3)
    turns_per_sec = n_turns / build_s

    # query-style entries: min of TIMING_REPS back-to-back runs — this
    # VM's window noise exceeds 2x run-to-run (BASELINE.md), and the
    # min is the reproducible steady-state figure (same methodology as
    # the pinned scaling runs' min-of-N)
    TIMING_REPS = 2

    def timed(name: str, fn) -> float:
        best = float("inf")
        for _ in range(TIMING_REPS):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        queries[name] = round(best, 3)
        return best

    # ---- BM25 top-k latencies -------------------------------------------
    # untimed warmup: loads the in-memory terms dict + JIT/codegen paths
    # once, so the timed numbers measure steady-state query latency (the
    # reference's reader similarly hydrates its Terms dict before serving)
    corpus.topk("word00000", k=1).collect()
    bm25_times = [
        timed(f"bm25_q{i}", lambda q=q: corpus.topk(q, k=10).collect())
        for i, q in enumerate(BM25_QUERIES)
    ]
    bm25_sorted = sorted(bm25_times)
    p95 = bm25_sorted[max(0, int(round(0.95 * len(bm25_sorted))) - 1)]

    # ---- span / CQL queries ----------------------------------------------
    timed("cql_phrase", lambda: corpus.find('"word00001" "word00002"').count())
    timed("cql_gap",
          lambda: corpus.find('"word00010" []{1,3} "word00005"').count())
    timed("cql_regex", lambda: corpus.find('"word0000.*"').count())

    # ---- analytics ---------------------------------------------------------
    from blacklab_spark.search.results import term_frequencies

    timed("termfreq", lambda: term_frequencies(corpus).limit(100).collect())
    timed("hits_grouped",
          lambda: corpus.find('"word00002"').group_by(["field:role"]).collect())
    timed("kwic",
          lambda: corpus.find('"word00003"').kwic(5).limit(100).collect())

    # ---- bucketed forward-index variant ---------------------------------
    # resume-build adds ONLY the doc_id-bucketed FI table to the same
    # index (also exercising stage-checkpoint resume); kwic then joins
    # hit->context with no Exchange on the token side
    t0 = time.time()
    corpus = Corpus.build(
        spark, transcripts, idx_dir,
        EngineConfig(segment_size=1 << 13, block_size=128, fi_buckets=cpus),
        resume=True,
    )
    queries["fi_build"] = round(time.time() - t0, 3)
    timed("kwic_fi",
          lambda: corpus.find('"word00003"').kwic(5).limit(100).collect())

    # ---- documents-table pipeline ops at sf_dir ----------------------------
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(docs_path):
        from blacklab_spark.pipeline import dedup as D
        from blacklab_spark.pipeline import similarity as SIM

        docs = spark.read.parquet(docs_path)
        # untimed warmup over a small slice: first-call JIT for the
        # shingle/hash codegen and the window+join pair plan
        D.lsh_candidate_pairs(docs.limit(200)).count()
        spark.catalog.clearCache()  # drop the warmup's persisted bands
        timed("minhash_lsh_dedup",
              lambda: D.lsh_candidate_pairs(docs).count())
        timed("simhash", lambda: D.simhash(docs).count())

        from blacklab_spark.pipeline.clean import clean_corpus

        timed("clean_corpus", lambda: clean_corpus(docs).count())

        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        if os.path.exists(emb_path):
            from pyspark.sql import functions as F

            emb = spark.read.parquet(emb_path)
            qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
            timed("cosine_topk",
                  lambda: SIM.cosine_topk(emb, list(qvec), k=20).collect())

            # the 100-TB shape: assignments materialized ONCE as a build
            # artifact (centroid-clustered layout), queries partition-
            # pruned against it — build and query timed separately
            ann_dir = f"/tmp/bench_ann_{os.path.basename(sf_dir.rstrip('/'))}"
            shutil.rmtree(ann_dir, ignore_errors=True)
            t0 = time.time()
            SIM.build_ann(emb, ann_dir, n_centroids=8)
            queries["ann_build"] = round(time.time() - t0, 3)
            timed("ivf_topk", lambda: SIM.ivf_topk(
                emb, list(qvec), k=20, nprobe=3, ann_dir=ann_dir).collect())

    # ---- large-scale per-query section ----------------------------------
    # The r4 verdict's last untested claim: every per-query latency above
    # is at 100k turns; this section re-runs the full suite on a 6.4M-turn
    # corpus (64x the grading scale) so BENCH carries both scale points.
    # The big index is built once and reused across bench runs (tools/
    # scaling_run.py builds the same corpora for the scaling track);
    # queries use the SAME min-of-N methodology. Disable with
    # SPARK_GRAFT_BENCH_BIG_TURNS=0.
    big_turns = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_TURNS", "6400000"))
    queries_big: dict[str, float] = {}
    if big_turns:
        big_src = f"/tmp/bench_src_{big_turns}.parquet"
        if not os.path.exists(os.path.join(big_src, "_SUCCESS")):
            generate_spark(
                spark, big_turns, seed=42, n_partitions=cpus * 2
            ).write.mode("overwrite").parquet(big_src)
        big_idx = f"/tmp/bench_idx_big_{big_turns}"
        big_cfg = EngineConfig(segment_size=1 << 16, block_size=128)
        if os.path.exists(os.path.join(big_idx, "meta.json")):
            big = Corpus.open(spark, big_idx)
            big_build_s = None
        else:
            t0 = time.time()
            big = Corpus.build(
                spark, spark.read.parquet(big_src), big_idx, big_cfg
            )
            big_build_s = time.time() - t0
            queries_big["index_build"] = round(big_build_s, 3)

        def timed_big(name: str, fn) -> float:
            best = float("inf")
            for _ in range(TIMING_REPS):
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
            queries_big[name] = round(best, 3)
            return best

        big.topk("word00000", k=1).collect()  # same untimed warmup
        big_bm25 = [
            timed_big(f"bm25_q{i}", lambda q=q: big.topk(q, k=10).collect())
            for i, q in enumerate(BM25_QUERIES)
        ]
        big_sorted = sorted(big_bm25)
        big_p95 = big_sorted[max(0, int(round(0.95 * len(big_sorted))) - 1)]
        timed_big("cql_phrase",
                  lambda: big.find('"word00001" "word00002"').count())
        timed_big("cql_gap",
                  lambda: big.find('"word00010" []{1,3} "word00005"').count())
        timed_big("cql_regex", lambda: big.find('"word0000.*"').count())
        timed_big("termfreq",
                  lambda: term_frequencies(big).limit(100).collect())
        timed_big("hits_grouped",
                  lambda: big.find('"word00002"').group_by(["field:role"]).collect())
        timed_big("kwic",
                  lambda: big.find('"word00003"').kwic(5).limit(100).collect())
        # dedup family at 64x: the transcript texts AS the documents
        # table shape (synthetic per the north rule; the sf_dir docs
        # table only exists at small SF)
        from pyspark.sql import functions as F

        from blacklab_spark.pipeline import dedup as D
        from blacklab_spark.pipeline.clean import clean_corpus

        big_docs = (
            spark.read.parquet(big_src)
            .select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col("text"),
            )
        )
        D.lsh_candidate_pairs(big_docs.limit(200)).count()
        spark.catalog.clearCache()
        timed_big("minhash_lsh_dedup",
                  lambda: D.lsh_candidate_pairs(big_docs).count())
        timed_big("simhash", lambda: D.simhash(big_docs).count())
        timed_big("clean_corpus", lambda: clean_corpus(big_docs).count())

    total = time.time() - t_total0
    # round-over-round comparable subset: the optional artifact builds
    # (fi_build, ann_build) and the bucketed-FI kwic variant were added
    # in round 4, and the entire 6.4M-turn section in round 5 — all
    # excluded so headline_sec stays comparable to BENCH_r04
    headline = sum(
        v for k, v in queries.items()
        if k not in ("fi_build", "ann_build", "kwic_fi")
    )
    out = {
        "metric": "index build + query latency (headline engine jobs)",
        "value": round(total, 3),
        "headline_sec": round(headline, 3),
        "query_timing": f"min_of_{TIMING_REPS}",
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_turns": n_turns,
        "cpus": cpus,
        "indexing_turns_per_sec": round(turns_per_sec, 1),
        "bm25_p95_sec": round(p95, 3),
    }
    if queries_big:
        out["queries_big"] = queries_big
        out["big_n_turns"] = big_turns
        out["bm25_p95_big_sec"] = round(big_p95, 3)
        if big_build_s is not None:
            out["big_indexing_turns_per_sec"] = round(big_turns / big_build_s, 1)
    # latest two-cluster-size scaling evidence (tools/scaling_bench.py,
    # pinned local[8] vs local[32], min-of-N over interleaved reps).
    # COMPACT summary only — the full pair history lives in
    # SCALING_HISTORY.jsonl / SCALING.json; embedding it here once blew
    # past the driver's output tail buffer and truncated the JSON head
    # (BENCH_r02 recorded parsed:null).
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            s = json.load(f)
        hw = s.get("hw_ceiling_latest_window") or {}
        out["scaling"] = {
            k: s.get(k)
            for k in (
                "pair", "n_pairs", "build_eff", "query_eff",
                "build_speedup", "query_speedup",
                "best_abs_build_turns_per_sec", "best_abs_queries_per_sec",
            )
        }
        out["scaling"]["ceilings"] = {
            k: (hw.get(k) or {}).get("ceiling_efficiency")
            for k in ("cpu", "stream", "build")
        }
        # corroborating pairs at other N->4N sizes (same compact shape)
        for key in ("corroboration_4_16", "corroboration_8_32"):
            c = s.get(key)
            if c:
                out["scaling"][key] = {
                    k: c.get(k)
                    for k in ("pair", "n_pairs", "build_eff", "query_eff")
                }
    line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

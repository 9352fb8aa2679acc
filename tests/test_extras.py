"""Tests for explain / fuzzy / n-gram filter / snippets, plus
plan-quality checks (predicate pushdown, column pruning) — the
".explain until it's the plan you'd want" gate."""

import pytest
from pyspark.sql import functions as F

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.search import spans as S

from micro_corpus import spans_pdf, transcripts_pdf


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("extras") / "idx")
    return Corpus.build(
        spark,
        spark.createDataFrame(transcripts_pdf()),
        d,
        EngineConfig(segment_size=2, block_size=4),
        extra_spans=spark.createDataFrame(
            spans_pdf(),
            schema="conv_id string, turn_idx long, tag string, "
            "start int, end int, attrs map<string,string>",
        ),
    )


def test_explain_renders(micro):
    out = micro.explain('"the" []{0,2} x:"fox" within <s/>')
    assert "AST:" in out and "rewrites:" in out
    assert "any-token -> expansion" in out
    assert "plain-term fast path" in out
    assert "CAPTURE x:" in out


def test_explain_physical_plan(micro):
    out = micro.explain('"the"', physical=True)
    assert "spark plan:" in out


def test_fuzzy_hits(micro):
    # 'foo' ~1 -> fox, for? corpus has fox (doc0), force is 3 edits away
    got = sorted(
        (r["doc_id"], r["start"]) for r in micro.fuzzy_hits("foo", 1).collect()
    )
    assert (0, 3) in got  # fox
    # levenshtein(fox, foo)=1; (for,foo)=1 (no 'for' in corpus)
    assert all(d == 0 for d, _ in got)


def test_filter_ngrams(micro):
    grams = micro.find("[]{2} within <entity/>").df
    got = sorted((r["doc_id"], r["start"], r["end"]) for r in grams.collect())
    # bigrams within entity [0,4) of doc0: (0,2),(1,3),(2,4); entity [6,9): (6,8),(7,9); doc2 entity [1,3): (1,3)
    assert (0, 0, 2) in got and (0, 7, 9) in got and (2, 1, 3) in got


def test_snippets(micro):
    h = micro.find('"quick brown"')
    snip = micro.snippets(h.df, context_chars=10).collect()
    assert len(snip) == 1
    s = snip[0]
    assert s["match_text"] == "quick brown"
    assert "<hl>quick brown</hl>" in s["snippet"]


def test_snippet_full_doc_span(micro):
    h = micro.find('"may"')
    s = micro.snippets(h.df).collect()[0]
    assert s["match_text"] == "May"


# ---- plan quality ----------------------------------------------------------

def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_postings_scan_pushdown(micro):
    """BM25's postings scan must push the term filter into parquet."""
    posts = micro.postings.filter(F.col("term").isin(["the", "fox"])).select(
        "segment_id", "term", "doc_ids"
    )
    plan = _formatted_plan(posts)
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must not read `positions`
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "positions" not in read_schema


def test_doc_stats_filter_pushdown(micro):
    df = micro.doc_stats.filter(F.col("conv_id") == "doc0").select("doc_id")
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "conv_id" in pushed


def test_term_hits_whole_stage_codegen(micro):
    """Leaf token scans stay inside whole-stage codegen (no Python)."""
    plan = _formatted_plan(S.term_hits(micro, "the"))
    assert "codegen id" in plan  # whole-stage codegen spans
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lsh_max_bucket_guard(spark):
    """Degenerate boilerplate buckets are dropped under max_bucket;
    genuine near-dup pairs survive."""
    import pandas as pd

    from blacklab_spark.pipeline.dedup import lsh_candidate_pairs

    rows = [{"doc_id": i, "text": "the same boilerplate text here"} for i in range(20)]
    rows += [
        {"doc_id": 100, "text": "a unique near duplicate document body one two three"},
        {"doc_id": 101, "text": "a unique near duplicate document body one two four"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    uncapped = lsh_candidate_pairs(docs)
    assert uncapped.count() >= 190  # 20*19/2 boilerplate pairs + near-dups
    capped = lsh_candidate_pairs(docs, max_bucket=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # boilerplate bucket dropped


def test_lsh_recall_vs_exact(spark):
    """SRP-LSH (8 planes x 6 tables) must recover >=90% of exact
    near-dup pairs at cos>=0.95 on clustered synthetic vectors."""
    import numpy as np
    import pandas as pd

    from blacklab_spark.pipeline import similarity as SIM

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 near-identical variants per cluster
            v = b + rng.normal(scale=0.02, size=64)
            rows.append({"vec_id": vid, "embedding": [float(x) for x in v]})
            vid += 1
    emb = spark.createDataFrame(pd.DataFrame(rows))
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in SIM.exact_neardup_pairs(emb, threshold=0.95).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in SIM.lsh_neardup_pairs(emb, threshold=0.95).collect()
    }
    assert exact, "fixture must produce exact near-dup pairs"
    assert lsh <= exact | lsh  # sanity
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(lsh)}/{len(exact)})"


def test_lsh_dropped_buckets_logged(spark):
    """Default-on bucket cap records WHAT it dropped (auditable), and a
    degenerate corpus (every doc identical) yields zero candidate pairs
    with the whole family in the drop log."""
    import pandas as pd

    from blacklab_spark.pipeline.dedup import N_HASHES, BAND_ROWS, lsh_candidate_pairs

    rows = [{"doc_id": i, "text": "same same same text in all docs"} for i in range(50)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = lsh_candidate_pairs(docs, max_bucket=10)
    assert out.count() == 0
    dropped = out._blspark_dropped_buckets.collect()
    n_bands = N_HASHES // BAND_ROWS
    assert len(dropped) == n_bands  # one degenerate bucket per band
    assert all(r["size"] == 50 for r in dropped)


def test_simhash_60bit_bands_cover_all_bits(spark):
    """60-bit fingerprints actually use the high bits, and the
    block-permutation bands partition ALL fingerprint bits (pigeonhole
    guarantee needs d+1 disjoint bands; coverage keeps buckets wide)."""
    import pandas as pd

    from blacklab_spark.pipeline.dedup import SIMHASH_BITS, simhash

    assert SIMHASH_BITS == 60
    rows = [
        {"doc_id": i, "text": f"document number {i} with words w{i} x{i} y{i}"}
        for i in range(40)
    ]
    fps = [r["simhash"] for r in simhash(spark.createDataFrame(pd.DataFrame(rows))).collect()]
    assert all(fp >= 0 for fp in fps)  # signed-BIGINT-safe
    assert any(fp >> 32 for fp in fps), "high 28 bits never set: hash too narrow"
    # band boundaries partition [0, bits)
    for d in (3, 6):
        n_bands = d + 1
        bounds = [i * 60 // n_bands for i in range(n_bands + 1)]
        assert bounds[0] == 0 and bounds[-1] == 60
        assert all(b2 > b1 for b1, b2 in zip(bounds, bounds[1:]))


def test_srp_constants_scaled():
    from blacklab_spark.pipeline import similarity as SIM

    assert SIM.N_PLANES >= 16 and SIM.N_TABLES >= 15


def test_ivf_topk_recall_and_pruning(spark):
    """IVF ANN: (1) assignments put every vector in exactly one list,
    with centroid ids drawn from the stride sample; (2) probing nprobe
    of C lists scans only those lists' vectors; (3) on clustered data
    the probed top-k recovers >=80% of the exact top-k."""
    import numpy as np
    import pandas as pd

    from blacklab_spark.pipeline import similarity as SIM

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 32))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(20):
            v = c + rng.normal(scale=0.05, size=32)
            rows.append({"vec_id": vid, "embedding": [float(x) for x in v]})
            vid += 1
    emb = spark.createDataFrame(pd.DataFrame(rows))
    n = len(rows)

    asg = SIM.ivf_assignments(emb, n_centroids=6).collect()
    assert len(asg) == n and len({r["vec_id"] for r in asg}) == n
    stride = -(-n // 6)
    valid_cids = {i for i in range(0, n, stride)}
    assert {r["centroid_id"] for r in asg} <= valid_cids

    q = rows[0]["embedding"]
    exact = [r["vec_id"] for r in SIM.cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in SIM.ivf_topk(emb, q, k=10, n_centroids=6,
                                                nprobe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"IVF recall {recall:.2f} < 0.8"

    # pruning: with nprobe=1 the candidate set is one list, so the
    # result can never exceed that list's size
    asg_df = SIM.ivf_assignments(emb, n_centroids=6)
    from pyspark.sql import functions as F
    sizes = {r["centroid_id"]: r["n"]
             for r in asg_df.groupBy("centroid_id").agg(
                 F.count(F.lit(1)).alias("n")).collect()}
    one = SIM.ivf_topk(emb, q, k=n, n_centroids=6, nprobe=1,
                       assignments=asg_df).collect()
    assert len(one) <= max(sizes.values())


def test_ivf_build_ann_artifact(spark, tmp_path):
    """build_ann materializes centroids + the centroid-clustered
    embeddings; the artifact-backed query path (1) returns the same
    rows as the inline path, and (2) runs NO assignment matmul and no
    join — its plan is a partition-pruned scan (no MapInPandas, a
    centroid_id partition filter, no Join)."""
    import numpy as np
    import pandas as pd

    from blacklab_spark.pipeline import similarity as SIM

    rng = np.random.default_rng(7)
    rows = [
        {"vec_id": i, "embedding": [float(x) for x in rng.normal(size=16)]}
        for i in range(120)
    ]
    emb = spark.createDataFrame(pd.DataFrame(rows))
    ann = SIM.build_ann(emb, str(tmp_path / "ann"), n_centroids=6)
    q = rows[3]["embedding"]
    inline = [tuple(r) for r in SIM.ivf_topk(
        emb, q, k=10, n_centroids=6, nprobe=2).collect()]
    stored = SIM.ivf_topk(emb, q, k=10, nprobe=2, ann_dir=ann)
    assert [tuple(r) for r in stored.collect()] == inline

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan  # no per-query assignment pass
    assert "Join" not in plan  # candidates come from pruning, not a join
    assert "centroid_id" in plan.split("PartitionFilters", 1)[-1][:200]

    # resumable: second call is a no-op returning the same dir
    assert SIM.build_ann(emb, str(tmp_path / "ann"), n_centroids=6) == ann


def test_clean_corpus_composition(spark):
    """clean_corpus = exact-dedup winners ∩ quality gate ∩ lang gate,
    and its per-doc numbers equal the individual ops' outputs."""
    import pandas as pd

    from blacklab_spark.pipeline.clean import clean_corpus
    from blacklab_spark.pipeline.text import lang_id, quality_score

    en = ("the quick brown fox jumps over the lazy dog and then it was "
          "here with all of that for you on this day in the house")
    rows = [
        {"doc_id": 0, "text": en},                       # kept
        {"doc_id": 1, "text": en},                       # exact dup of 0 -> dropped
        {"doc_id": 2, "text": "der und das ist nicht ein " * 5},  # de -> dropped
        {"doc_id": 3, "text": "zz qq xx"},               # low quality -> dropped
        {"doc_id": 4, "text": en + " extra tail words to stay unique"},  # kept
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    got = {r["doc_id"]: r for r in clean_corpus(docs, min_quality=500,
                                                langs=("en",)).collect()}
    assert set(got) == {0, 4}
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    l = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    for d in (0, 4):
        assert got[d]["quality_x1000"] == q[d]["quality_x1000"]
        assert got[d]["n_tokens"] == q[d]["n_tokens"]
        assert got[d]["lang_pred"] == l[d] == "en"


def test_dedup_clusters_transitive_chain(spark):
    # Connected components must merge TRANSITIVELY: a~b and b~c cluster
    # {a,b,c} even when a and c share no LSH bucket. The chain of
    # near-identical docs (one token changed per step) plus an exact
    # duplicate and two singletons exercises multi-round label
    # propagation and the exact-star edges.
    import pandas as pd

    from blacklab_spark.pipeline.dedup import dedup_clusters

    base = [f"tok{i:03d}" for i in range(40)]
    chain = []
    for j in range(4):  # doc j differs from doc j-1 by j tokens
        toks = list(base)
        for k in range(j):
            toks[k] = f"alt{k}"
        chain.append(" ".join(toks))
    rows = [
        {"doc_id": i, "text": t} for i, t in enumerate(chain)
    ] + [
        {"doc_id": 4, "text": chain[0]},              # exact dup of 0
        {"doc_id": 5, "text": "completely different words here"},
        {"doc_id": 6, "text": "another unrelated single document"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, threshold_x10000=8000).collect()
    }
    assert got[0] == got[1] == got[2] == got[3] == got[4] == 0
    assert got[5] == 5 and got[6] == 6

"""Top-k BM25 over the posting blocks.

The reference inherits scored top-k from Lucene 8's IndexSearcher
(BM25 k1=1.2 b=0.75, block-max WAND over impact-sorted postings;
reference search/BlackLabIndexAbstract.java:496,619). Our execution:

1. resolve query terms in the terms dict (driver-side; a filter over a
   table that is tiny relative to the corpus),
2. prune the postings scan to the query term_ids — parquet predicate
   pushdown means only those blocks' bytes are read,
3. one per-segment scorer (_segment_topk; Spark's analogue of Lucene's
   one-SpansReader-per-segment parallelism, HitsFromQuery.java:109-194)
   for topk_bm25 (a batch of one) and batch_topk alike: per query, a
   vectorized MaxScore-style term-at-a-time kernel with block-max
   skipping — terms in desc max-contribution order, θ = running k-th
   best, blocks skipped when their stored max impact cannot reach/tie
   θ or when their [min_doc,max_doc] range holds no remaining
   candidate — over memoized block decodes, then a per-segment exact
   top-k. Two plans, chosen from the input: a cogroup with one
   per-segment doc set (a metadata filter's allowed docs, else the
   tombstones), or the plain segment-partitioned groupBy. Both hash
   the segments into tasks (_seg_partitioned): one per core for a
   single query, so it scores in one wave of tasks that each score
   several segments; up to eight per core for a batch,
4. global top-k merge: orderBy(desc(score), doc_id).limit(k) over the
   tiny union of per-segment candidates (TakeOrderedAndProject;
   batch_topk takes a row_number window per query instead). For
   display-sized k, topk_bm25 joins the k winners to their metadata
   on the driver and returns them as an Arrow-backed local relation
   (_local_frame), which collects without a Spark job.

Scale: step 3's input shuffle moves only the query terms' postings
(KBs..MBs, not the index); step 4 moves ≤ k rows per segment.

score(q,d) = Σ_t idf(t) · tf/(tf + k1·(1−b+b·dl/avgdl)),
idf = ln(1 + (N − df + 0.5)/(df + 0.5)), ties broken by ascending
doc_id — the exact-arithmetic oracle contract (SURVEY.md §2.5).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from blacklab_spark.index import codec

# above this k, topk_bm25 keeps the plan lazy (broadcast-join hydration)
# instead of materializing k full-text rows on the driver — maxretrieve-
# scale requests must not shift O(k·doc_text) onto the driver
DRIVER_HYDRATE_MAX_K = 1024

# _segment_topk's output: every segment's top-k rows per query
_SEG_SCHEMA = T.StructType([
    T.StructField("query_id", T.IntegerType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])
_EMPTY_SEG = pd.DataFrame(
    {"query_id": pd.Series([], dtype=np.int32),
     "doc_id": pd.Series([], dtype=np.int64),
     "score": pd.Series([], dtype=np.float64)}
)


def _maxscore_query(
    scores: np.ndarray,
    blocks_by_term: dict,
    qidf_map: dict,
    k: int,
    base: int,
    seg_size: int,
    allow_arr,
    seg_dead_arr: np.ndarray,
    decode_block,
) -> None:
    """MaxScore / block-max scoring of ONE query into ``scores`` — the
    single kernel shared by topk_bm25 and batch_topk (the analogue of
    Lucene's block-max WAND over impact-sorted postings, which applies
    per query in a batch harness too; reference
    tools/.../performance/BatchQuery.java).

    Terms are processed in desc order of their max possible
    contribution U_t = idf_t * max(block_max_wtf). After each term,
    θ = current k-th best segment score. For term t with R = Σ U of the
    remaining terms:
     * if U_t + R <= θ, no unseen doc can reach the top-k, so only docs
       with score > θ - (U_t + R) (candidates) matter — blocks whose
       [min_doc, max_doc] range holds no candidate are skipped without
       decoding;
     * any block with idf_t*bmax + M + R <= θ (M = current max segment
       score) cannot change the top-k and is skipped.
    Strict comparisons everywhere: a doc that can still TIE the k-th
    score may win on the ascending-doc_id tie-break.

    ``blocks_by_term`` maps term -> (block rows, max block_max_wtf_raw);
    ``decode_block(term, block_idx, row) -> (local_doc_ids, w_base)``
    returns idf-independent weights (memoized per segment, so a block
    a batch's queries share decodes once). Tombstoned docs (``seg_dead_arr``,
    local ids) are zeroed as we go so they never contribute to θ
    (they'd cause over-pruning of live candidates)."""
    items = []
    for t, qidf in qidf_map.items():
        got = blocks_by_term.get(t)
        if got is not None:
            items.append((t, qidf, qidf * got[1]))
    if not items:
        return
    items.sort(key=lambda x: (-x[2], x[0]))
    u = np.array([it[2] for it in items])
    suffix_r = np.concatenate([np.cumsum(u[::-1])[::-1][1:], [0.0]])
    theta = 0.0
    for i, (t, qidf, u_t) in enumerate(items):
        rem = float(suffix_r[i])
        cand_cum = None
        if theta > 0.0 and u_t + rem < theta:
            cand = scores >= (theta - (u_t + rem))
            if not cand.any():
                continue
            cand_cum = np.concatenate([[0], np.cumsum(cand)])
        m_cur = float(scores.max()) if theta > 0.0 else np.inf
        for bi, r in enumerate(blocks_by_term[t][0]):
            if qidf * r.block_max_wtf_raw + m_cur + rem < theta:
                continue  # block-max skip: can't reach or tie top-k
            if cand_cum is not None:
                lo = max(int(r.min_doc) - base, 0)
                hi = min(int(r.max_doc) - base + 1, seg_size)
                if cand_cum[hi] - cand_cum[lo] == 0:
                    continue  # no candidate doc in this block's range
            local, w = decode_block(t, bi, r)
            if allow_arr is not None:
                keep = np.isin(local + base, allow_arr)
                local, w = local[keep], w[keep]
            np.add.at(scores, local, qidf * w)
        if seg_dead_arr.size:
            scores[seg_dead_arr] = 0.0
        nz_now = np.flatnonzero(scores)
        if nz_now.size >= k:
            s = scores[nz_now]
            theta = float(np.partition(s, nz_now.size - k)[nz_now.size - k])
    if seg_dead_arr.size:
        scores[seg_dead_arr] = 0.0


def _topk_select(scores: np.ndarray, k: int) -> np.ndarray:
    """Exact per-segment top-k over a dense score array with
    (score desc, doc_id asc) ties: threshold = k-th largest score; keep
    all above, fill ties by ascending local doc id. Returns selected
    local ids in final order (empty if no nonzero score)."""
    nz = np.flatnonzero(scores)
    if nz.size == 0:
        return nz
    n = nz.size
    if n > k:
        s = scores[nz]
        kth = np.partition(s, n - k)[n - k]
        above = nz[s > kth]
        equal = np.sort(nz[s == kth])[: k - above.size]
        nz = np.concatenate([above, equal])
    order = np.lexsort((nz, -scores[nz]))
    return nz[order]


def _seg_partitioned(corpus, df: DataFrame, n_queries: int) -> DataFrame:
    """Hash-repartition ``df`` on segment_id for the scoring kernel.

    A single query spends 1-20 ms per segment in the kernel, while every
    wave of Python tasks costs a fixed 0.1-0.2 s (on local[4], a no-op
    applyInPandas over 13 groups took 0.55-0.83 s in 13 tasks, 0.27-0.42
    s in 4), so it scores in one task per core: min(n_segments,
    defaultParallelism) partitions, each task scoring its segments one
    after another. A batch multiplies the kernel time per segment by its
    query count, and then the hash's uneven share of segments per task
    costs more than the extra waves (256 queries over 13 segments of 32k
    docs on local[4]: 28.5 q/s in 4 tasks, 34.9 q/s in 13), so a batch
    keeps min(n_segments, 8 x defaultParallelism) tasks, which the
    scheduler hands to cores as they free up. Both scoring plans
    partition through here — the cogroup's two sides alike, so they
    meet without another exchange. A user-specified partition count is
    exempt from AQE's byte-based coalescing, which would fuse the small
    posting blocks into fewer tasks than cores; groupBy reuses the
    partitioning."""
    meta = corpus.meta
    n_segments = max(1, -(-meta["n_docs"] // meta["segment_size"]))
    par = corpus.spark.sparkContext.defaultParallelism
    waves = 1 if n_queries == 1 else 8
    return df.repartition(min(n_segments, waves * par), "segment_id")


def _local_frame(spark, schema: T.StructType, rows: list[tuple] | tuple = ()) -> DataFrame:
    """``rows`` as an Arrow-backed local relation (LocalTableScan): its
    collect runs no Spark job. createDataFrame over a Python list builds
    a Python RDD instead, whose collect is a job of Python tasks even
    when the list is empty."""
    names = schema.names
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _idf_maps(corpus, term_lists: list[list[str]]) -> list[dict[str, float]]:
    """Per query {term: weighted idf} over the terms the dict knows.
    Repeated query terms accumulate idf weight, like Lucene's
    BooleanQuery with duplicate clauses; idf comes from LIVE stats
    (appends/compactions change N and df — stored per-block maxima are
    idf-independent for this reason)."""
    n_docs = corpus.meta["n_docs"]
    counts = [Counter(terms) for terms in term_lists]
    all_terms = sorted({t for c in counts for t in c})
    tinfo = corpus.term_stats(all_terms) if all_terms else {}
    return [
        {
            t: qtf * float(np.log(1.0 + (n_docs - tinfo[t] + 0.5) / (tinfo[t] + 0.5)))
            for t, qtf in c.items()
            if t in tinfo
        }
        for c in counts
    ]


def _segment_topk(corpus, idf_maps: list[dict], k: int,
                  allowed_df: DataFrame | None = None) -> DataFrame:
    """(query_id, doc_id, score): every segment's exact top-k for every
    query in ``idf_maps``, scored by ONE per-segment function.

    The scorer runs the MaxScore/block-max kernel (_maxscore_query) per
    query over shared block state: blocks are decoded lazily and
    memoized, so a block several queries need decodes once and a block
    no query's θ bound reaches is never decoded. One dense seg_size
    accumulator serves every query and is reset candidate-
    proportionally (scores[nz] = 0) between queries — no per-query
    memset.

    Plan, chosen from the input: with a per-segment doc set — the
    filter's allowed docs (``allowed_df``, segment_id/doc_id; doc_stats
    already excludes tombstones), else the tombstones (liveDocs
    analogue) — the postings cogroup with it, so the set ships straight
    into its segment's scoring task and never visits the driver
    (reference SpansFiltered.java:17-60 builds an acceptedDocs bitset
    per segment). Without one, the plain segment-partitioned groupBy.
    Tombstones are zeroed before per-segment selection so dead docs
    can't crowd out live candidates."""
    meta = corpus.meta
    seg_size = meta["segment_size"]
    k1, b_, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    posts = corpus.postings.filter(
        F.col("term").isin(sorted({t for m in idf_maps for t in m}))
    ).select(
        "segment_id", "term", "min_doc", "max_doc",
        "doc_ids", "freqs", "dls", "block_max_wtf_raw",
    )
    filtered = allowed_df is not None
    doc_set = allowed_df
    if not filtered:
        # read once: each access of corpus.deletes is a parquet read job
        dels = corpus.deletes
        if dels is not None:
            doc_set = dels.select(
                F.expr(f"doc_id DIV {seg_size}").alias("segment_id"), "doc_id"
            )

    def score_segment(pdf: pd.DataFrame, docs: np.ndarray | None) -> pd.DataFrame:
        base = int(pdf["segment_id"].iloc[0]) * seg_size
        blocks_by_term = {
            term: (rows := list(grp.itertuples(index=False)),
                   max(r.block_max_wtf_raw for r in rows))
            for term, grp in pdf.groupby("term")
        }
        allow_arr = docs if filtered else None
        seg_dead_arr = (
            docs[(docs >= base) & (docs < base + seg_size)] - base
            if docs is not None and not filtered
            else np.asarray([], dtype=np.int64)
        )
        decoded: dict[tuple, tuple] = {}

        def decode_block(t, bi, r):
            got = decoded.get((t, bi))
            if got is None:
                dids = codec.decode_doc_ids(r.doc_ids)
                tf = codec.decode_freqs(r.freqs)
                dl = codec.decode_freqs(r.dls)
                got = (dids - base,
                       tf / (tf + k1 * (1.0 - b_ + b_ * dl / avgdl)))
                decoded[(t, bi)] = got
            return got

        scores = np.zeros(seg_size, dtype=np.float64)
        out_q, out_d, out_s = [], [], []
        for qid, idf_map in enumerate(idf_maps):
            _maxscore_query(scores, blocks_by_term, idf_map, k, base,
                            seg_size, allow_arr, seg_dead_arr, decode_block)
            sel = _topk_select(scores, k)
            if sel.size:
                out_q.append(np.full(sel.size, qid, dtype=np.int32))
                out_d.append((sel + base).astype(np.int64))
                out_s.append(scores[sel].copy())
            nz = np.flatnonzero(scores)
            if nz.size:
                scores[nz] = 0.0
        if not out_q:
            return _EMPTY_SEG
        return pd.DataFrame(
            {"query_id": np.concatenate(out_q),
             "doc_id": np.concatenate(out_d),
             "score": np.concatenate(out_s)}
        )

    posts = _seg_partitioned(corpus, posts, len(idf_maps))
    if doc_set is None:
        # single-arg lambda: a two-arg function would be called with
        # (key, pdf)
        return posts.groupBy("segment_id").applyInPandas(
            lambda pdf: score_segment(pdf, None), schema=_SEG_SCHEMA
        )

    def score_with_docs(posts_pdf: pd.DataFrame,
                        docs_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(posts_pdf) == 0 or (filtered and len(docs_pdf) == 0):
            return _EMPTY_SEG
        return score_segment(posts_pdf, docs_pdf["doc_id"].to_numpy(np.int64))

    return (
        posts.groupBy("segment_id")
        .cogroup(_seg_partitioned(corpus, doc_set, len(idf_maps))
                 .groupBy("segment_id"))
        .applyInPandas(score_with_docs, schema=_SEG_SCHEMA)
    )


def topk_bm25(
    corpus,
    query: str,
    k: int = 10,
    filter_expr: str | None = None,
) -> DataFrame:
    """Returns DataFrame (doc_id, score, conv_id, turn_idx, role, tool,
    text) — top-k by (score desc, doc_id asc): a batch of one through
    _segment_topk, then a global top-k merge and hydration."""
    spark = corpus.spark
    hyd_src = corpus.tokenized.select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "text"
    )
    # no-match results carry the SAME hydrated schema as hits
    full_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
        + [f for f in hyd_src.schema.fields if f.name != "doc_id"]
    )
    meta_cols = [f.name for f in full_schema.fields[2:]]
    idf = _idf_maps(corpus, [corpus.tokenize_query(query)])[0]
    if not idf:
        return _local_frame(spark, full_schema)
    allowed_df = (
        corpus.doc_stats.filter(filter_expr).select("segment_id", "doc_id")
        if filter_expr
        else None
    )
    # global top-k merge (TakeOrderedAndProject over <=k rows/segment),
    # then hydrate metadata for just those k docs: the isin filter is
    # pushed into the tokenized parquet scan (row-group pruning), so
    # hydration never joins against the full corpus. For display-sized k
    # the k-row join of scores to metadata happens ON THE DRIVER (the
    # score rows are already collected for the isin list): one small
    # scan job instead of a broadcast-join+sort plan — per-query latency
    # is floor-bound by Spark job count, and display decoration of k
    # rows is O(k).
    top = (
        _segment_topk(corpus, [idf], k, allowed_df)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    if k > DRIVER_HYDRATE_MAX_K:
        # maxretrieve-scale k: stay lazy and distributed — broadcast the
        # ≤k score rows into the tokenized scan so no full-text row ever
        # lands on the driver, and callers keep pushdown/projection on
        # the returned plan
        return (
            hyd_src.join(F.broadcast(top), "doc_id")
            .select("doc_id", "score", *meta_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    top_rows = top.collect()
    if not top_rows:
        return _local_frame(spark, full_schema)
    ids = [int(r["doc_id"]) for r in top_rows]
    by_id = {
        r["doc_id"]: r
        for r in hyd_src.filter(F.col("doc_id").isin(ids)).collect()
    }
    rows = [
        tuple(
            [int(r["doc_id"]), float(r["score"])]
            + [by_id[r["doc_id"]][c] if r["doc_id"] in by_id else None
               for c in meta_cols]
        )
        for r in top_rows
    ]
    return _local_frame(spark, full_schema, rows)


def topk_bm25_phrase(corpus, phrase: str, k: int = 10) -> DataFrame:
    """Phrase-scored top-k: the whole phrase is scored like a single
    term with tf = per-doc phrase occurrence count and df = number of
    docs containing the phrase — Lucene's SpanWeight / sloppy-freq
    semantics at slop 0, the layer the reference inherits but leaves
    unused (SURVEY §2.5 'phrase-scored queries'; reference
    BlackLabIndexAbstract.java:496 creates the plain IndexSearcher
    whose SpanQuery scoring works this way).

    Execution: phrase occurrences come from the span algebra (postings-
    backed sequence join — only the phrase terms' blocks are read),
    per-doc tf is one hash aggregation, and scoring is pure codegen
    (idf from live stats, dl from the doc-stats projection). The only
    driver value is the phrase df scalar — the same single number the
    reference reads from its term dictionary."""
    spark = corpus.spark
    meta = corpus.meta
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ])
    qterms = corpus.tokenize_query(phrase)
    if not qterms:
        return _local_frame(spark, out_schema)
    cql = " ".join(f'"{t}"' for t in qterms)
    hits = corpus.find(cql).df.select("doc_id")
    tf_df = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf_df.count()  # phrase document frequency (one scalar)
    if df_ == 0:
        return _local_frame(spark, out_schema)
    n_docs = meta["n_docs"]
    idf = float(np.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5)))
    k1, b_, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    dl = corpus.doc_stats.select("doc_id", F.col("num_tokens").alias("dl"))
    scored = tf_df.join(dl, "doc_id").select(
        "doc_id",
        (
            F.lit(idf)
            * F.col("tf")
            / (F.col("tf") + k1 * (1.0 - b_ + b_ * F.col("dl") / avgdl))
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_topk(corpus, queries: list[str], k: int = 10) -> "DataFrame":
    """Score MANY queries in ONE Spark job (the reference ships the
    same idea as a perf harness: tools/.../performance/BatchQuery.java).

    One postings scan covers the union of all query terms (parquet
    pushdown on the term column), the per-segment scorer topk_bm25 runs
    too (_segment_topk) scores every query against its blocks, and one
    window takes global top-k per query. Amortizes per-job overhead
    across the whole batch — the honest way to measure query THROUGHPUT
    at scale.

    Returns (query_id, doc_id, score) with k rows per query, ordered
    (score desc, doc_id asc) within each query.
    """
    from pyspark.sql import Window

    idf_maps = _idf_maps(corpus, [corpus.tokenize_query(q) for q in queries])
    if not any(idf_maps):
        return _local_frame(corpus.spark, _SEG_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        _segment_topk(corpus, idf_maps, k)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )

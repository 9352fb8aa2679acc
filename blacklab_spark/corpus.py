"""Corpus façade — the PySpark analogue of the reference's
`BlackLabIndex` (reference search/BlackLabIndex.java:130,183-264):
open an index, run term/phrase/CQL searches, get Hits back.

Hits are plain DataFrames of (doc_id, start, end [, capture cols]);
every result operator is a DataFrame transform (SURVEY.md §1.1 "Hit").
"""

from __future__ import annotations

import json
import os
import re
import threading
from functools import cached_property

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from blacklab_spark.config import EngineConfig


class _Generation:
    """Everything a handle derives from one index generation: meta, the
    raw table handles, the term and field dicts, the planner's
    df-estimate views and memo, FI validity, the search cache and the
    tombstones — the analogue of one open Lucene reader (reference
    SURVEY §2 step 7 checks per-segment liveDocs against it). Every
    write commits through meta.json (index/incremental.py _save_meta),
    so one stat of that file tells whether this state is current.
    Built lazily: only ``meta`` is read up front."""

    def __init__(self, spark: SparkSession, index_dir: str, stamp: tuple,
                 meta: dict):
        from blacklab_spark.search.cache import SearchCache

        self.spark = spark
        self.index_dir = index_dir
        self.stamp = stamp
        self.meta = meta
        self.tables: dict[str, DataFrame] = {}
        # word@i {term: df}; None = not in the dict (cached too)
        self.terms: dict[str, int | None] = {}
        self.terms_full = False
        self.fields: dict[str, tuple[dict, int] | None] = {}
        self.df_est_views: dict[str, dict] = {}
        self.df_est_memo: dict[tuple, int | None] = {}
        self.cache = SearchCache()
        self.fi_valid = (
            bool(meta.get("fi_buckets"))
            and os.path.exists(os.path.join(index_dir, "fi"))
            and meta.get("generation", 0) == meta.get("fi_generation", 0)
        )

    @cached_property
    def dead(self) -> np.ndarray:
        """Tombstoned doc ids, sorted int64 — collected once."""
        from blacklab_spark.index.incremental import load_deletes

        dels = load_deletes(self.spark, self.index_dir)
        if dels is None:
            return np.zeros(0, dtype=np.int64)
        return np.unique(dels.toPandas()["doc_id"].to_numpy(np.int64))

    @cached_property
    def deletes(self) -> DataFrame | None:
        """``dead`` as an Arrow-backed local relation for anti-joins."""
        if not self.dead.size:
            return None
        return self.spark.createDataFrame(
            pa.table({"doc_id": pa.array(self.dead, pa.int64())}),
            "doc_id long",
        )


class Corpus:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._lock = threading.Lock()
        self._gen: _Generation | None = None
        meta = self.meta
        self.cfg = EngineConfig(
            k1=meta["k1"],
            b=meta["b"],
            segment_size=meta["segment_size"],
            block_size=meta["block_size"],
            token_pattern=meta["token_pattern"],
            segments_per_dir=meta.get("segments_per_dir", 64),
            index_fields=tuple(meta.get("index_fields", ("word@i",))),
        )

    @property
    def state(self) -> _Generation:
        """The current generation's state: meta.json is stat'ed on every
        access and a changed (inode, mtime_ns, size) swaps in a new
        state; the replaced one's search cache is unpersisted."""
        path = os.path.join(self.index_dir, "meta.json")
        st = os.stat(path)
        gen = self._gen
        if gen is not None and gen.stamp == (st.st_ino, st.st_mtime_ns, st.st_size):
            return gen
        with self._lock:
            with open(path) as f:
                fst = os.fstat(f.fileno())
                stamp = (fst.st_ino, fst.st_mtime_ns, fst.st_size)
                old = self._gen
                if old is not None and old.stamp == stamp:
                    return old
                meta = json.load(f)
            gen = self._gen = _Generation(self.spark, self.index_dir, stamp, meta)
        if old is not None:
            old.cache.clear()
        return gen

    @property
    def meta(self) -> dict:
        """meta.json of the current generation."""
        return self.state.meta

    # ---- build/open ---------------------------------------------------
    @staticmethod
    def build(
        spark: SparkSession,
        transcripts: DataFrame,
        index_dir: str,
        cfg: EngineConfig | None = None,
        resume: bool = False,
        extra_spans: DataFrame | None = None,
    ) -> "Corpus":
        from blacklab_spark.index.build import build_index

        build_index(
            spark, transcripts, index_dir, cfg, resume=resume, extra_spans=extra_spans
        )
        return Corpus(spark, index_dir)

    @staticmethod
    def open(spark: SparkSession, index_dir: str) -> "Corpus":
        return Corpus(spark, index_dir)

    # ---- tables ---------------------------------------------------------
    _DOC_STATS_COLS = (
        "doc_id", "segment_id", "conv_id", "turn_idx", "role", "tool", "ts",
        "num_tokens",
    )

    def _raw(self, name: str) -> DataFrame:
        """Unfiltered DataFrame handle per index table, memoized per
        generation. doc_stats and the implicit per-turn spans are
        DERIVED (column-pruned projections of the tokenized table —
        Catalyst pruning makes a stored copy pointless) unless a stored
        directory exists (legacy indexes, incremental appends). A stored
        doc_stats gets the tokenized table's ``meta_*`` columns it lacks
        by a doc_id join, so both forms have the same columns."""
        cache = self.state.tables
        if name in cache:
            return cache[name]
        path = os.path.join(self.index_dir, name)
        if name == "doc_stats":
            tok = self._raw("tokenized")
            meta = [c for c in tok.columns if c.startswith("meta_")]
            if os.path.exists(path):
                df = self.spark.read.parquet(path)
                extra = [c for c in meta if c not in df.columns]
                if extra:
                    df = df.join(tok.select("doc_id", *extra), "doc_id")
            else:
                df = tok.select(*self._DOC_STATS_COLS, *meta)
        elif name == "spans" and not os.path.exists(path):
            from blacklab_spark.index.build import turn_spans

            df = turn_spans(self._raw("doc_stats"))
            extra_path = os.path.join(self.index_dir, "extra_spans")
            if os.path.exists(extra_path):
                df = df.unionByName(self.spark.read.parquet(extra_path))
        else:
            df = self.spark.read.parquet(path)
            if name == "tokenized" and "tokens_i" not in df.columns:
                # the insensitive annotation is derived, not stored:
                # fold(lower()) in whole-stage codegen costs ~3s per
                # full corpus scan while storing it doubled the forward
                # index's token bytes (write AND every scan)
                from blacklab_spark.analysis import insensitive_tokens_col

                df = df.withColumn(
                    "tokens_i", insensitive_tokens_col("tokens")
                )
        cache[name] = df
        return df

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Driver-side {term: df} for a query's terms, cached across
        queries for the generation (the reference holds the whole terms
        dict in memory per index reader, forwardindex/Terms.java). A
        per-query collect job was ~1s of fixed floor on EVERY
        topk/batch_topk call; the cache amortizes it to one tiny job
        per unseen term set."""
        st = self.state
        cache = st.terms
        missing = [t for t in set(terms) if t not in cache]
        if missing and not st.terms_full:
            if int(st.meta.get("n_terms") or 0) <= 5_000_000:
                # small vocab (the overwhelmingly common case): load the
                # whole (term, df) dict ONCE — zero further Spark jobs
                # on any query, exactly the reference's in-memory Terms
                # dict per reader. Arrow-collected: ~10 MB per 1M terms.
                pdf = self.terms.select("term", "df").toPandas()
                cache.update(zip(pdf["term"], (int(x) for x in pdf["df"])))
                st.terms_full = True
            else:
                rows = (
                    self.terms.filter(F.col("term").isin(missing))
                    .select("term", "df")
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
                for t in missing:
                    cache[t] = found.get(t)  # None = not in dict (cached too)
        return {t: cache[t] for t in set(terms) if cache.get(t) is not None}

    def field_stats(self, field: str) -> tuple[dict, int] | None:
        """In-memory (term -> df) dict + total df for one postings
        field, loaded ONCE per generation and reused by the sequence
        planner's cost model (the reference holds the whole Terms dict
        in memory per index reader, forwardindex/Terms.java) — repeated
        queries run ZERO terms-dict Spark jobs. None when the vocab
        exceeds the in-memory guard; callers fall back to a distributed
        agg."""
        st = self.state
        if field not in st.fields:
            if int(st.meta.get("n_terms") or 0) > 5_000_000:
                st.fields[field] = None
            else:
                pdf = self.terms_for(field).select("term", "df").toPandas()
                d = dict(zip(pdf["term"], (int(x) for x in pdf["df"])))
                st.fields[field] = (d, sum(d.values()))
        return st.fields[field]

    def _t(self, name: str) -> DataFrame:
        """Table handle with tombstones applied (the liveDocs analogue,
        reference SpansReader.java checks liveDocs per segment)."""
        df = self._raw(name)
        if name in ("tokenized", "doc_stats", "spans"):
            dels = self.deletes
            if dels is not None:
                df = df.join(dels, "doc_id", "leftanti")
        return df

    @property
    def deletes(self) -> DataFrame | None:
        """The generation's tombstones as a local relation of doc_ids,
        or None. Collected once per generation: a delete commits a new
        generation, so an open handle sees it on its next access."""
        return self.state.deletes

    @property
    def tokenized(self) -> DataFrame:
        """The forward index + content store: one row per doc with
        tokens array and original text (SURVEY.md §1.1)."""
        return self._t("tokenized")

    @property
    def fi(self) -> DataFrame | None:
        """Doc_id-bucketed forward-index access table (the analogue of
        the reference's separate random-access forward index next to
        the content store, forwardindex/FieldForwardIndex.java), or
        None when the index wasn't built with fi_buckets or has been
        appended to or compacted past the FI's generation (a delete
        keeps it: tombstones are anti-joined here at read time).

        The bucketed scan reports HashPartitioning(doc_id, n), so
        hit->context joins insert NO Exchange on this (large) side —
        only the hit side shuffles into the bucket partitioning. The
        catalog entry is session-scoped and re-registered here from the
        durable artifacts (files + meta['fi_buckets'])."""
        st = self.state
        if not st.fi_valid:
            return None
        cache = st.tables
        if "fi" not in cache:
            from blacklab_spark.index.build import fi_table_name

            nb = int(st.meta["fi_buckets"])
            fi_path = os.path.join(self.index_dir, "fi")
            tbl = fi_table_name(self.index_dir)
            if not self.spark.catalog.tableExists(tbl):
                schema = self.spark.read.parquet(fi_path).schema
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
                )
                self.spark.sql(
                    f"CREATE TABLE {tbl} ({cols}) USING parquet "
                    f"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO {nb} BUCKETS "
                    f"LOCATION '{fi_path}'"
                )
            df = self.spark.table(tbl)
            if "tokens_i" not in df.columns:
                from blacklab_spark.analysis import insensitive_tokens_col

                df = df.withColumn("tokens_i", insensitive_tokens_col("tokens"))
            cache["fi"] = df
        df = cache["fi"]
        dels = st.deletes
        if dels is not None:
            df = df.join(dels, "doc_id", "leftanti")
        return df

    @property
    def context_store(self) -> DataFrame:
        """Token-array source for hit->context joins: the bucketed FI
        when available (shuffle-free on this side), else the range-
        layout tokenized table (correct; one more exchange)."""
        fi = self.fi
        return fi if fi is not None else self.tokenized

    @property
    def index_fields(self) -> tuple[str, ...]:
        """Postings fields present in this index, one per indexed
        annotation×sensitivity (reference AnnotatedFieldNameUtil.java:47
        field naming). Legacy (pre-field) indexes hold only word@i."""
        return tuple(self.meta.get("index_fields", ("word@i",)))

    @property
    def multivalue_anns(self) -> set[str] | None:
        """Annotations that actually carry secondary values, from build
        metadata; None for legacy indexes (fall back to column sniff)."""
        mv = self.meta.get("multivalue_anns")
        return None if mv is None else set(mv)

    def terms_for(self, field: str) -> DataFrame:
        """Terms dict rows of one postings field."""
        t = self._t("terms")
        if "field" in t.columns:
            return t.filter(F.col("field") == field)
        return t if field == "word@i" else t.limit(0)

    def postings_for(self, field: str) -> DataFrame:
        """Posting blocks of one field — the field predicate prunes the
        scan next to the term predicate (row-group stats: files are
        sorted by (segment_id, field, term))."""
        p = self._t("postings")
        if "field" in p.columns:
            return p.filter(F.col("field") == field)
        return p if field == "word@i" else p.limit(0)

    @property
    def terms(self) -> DataFrame:
        """The primary (word@i) terms dict — what BM25 idf, regex/fuzzy
        expansion, autocomplete and term stats read."""
        return self.terms_for("word@i")

    @property
    def postings(self) -> DataFrame:
        """The primary (word@i) posting blocks."""
        return self.postings_for("word@i")

    @property
    def doc_stats(self) -> DataFrame:
        """The one projection of document metadata, one row per live
        doc: the transcript columns (doc_id, segment_id, conv_id,
        turn_idx, role, tool, ts, num_tokens) plus every ``meta_*``
        column of the tokenized table (XML-format metadata fields).
        Readers select the columns they need; the rest are pruned from
        the scan."""
        return self._t("doc_stats")

    @property
    def spans(self) -> DataFrame:
        return self._t("spans")

    @property
    def segments_meta(self) -> DataFrame:
        return self._t("segments_meta")

    # ---- querying -------------------------------------------------------
    def tokenize_query(self, text: str) -> list[str]:
        """Query-side tokenization matching the index analysis chain:
        the Python-compatible tokenizer pattern, then the same
        lowercase + accent fold the `tokens_i` annotation stores."""
        from blacklab_spark.analysis import desensitize_py, py_token_pattern

        pat = py_token_pattern(self.cfg.token_pattern)
        if pat == self.cfg.token_pattern:
            # custom/legacy pattern (e.g. [a-z0-9]+): its contract is
            # to tokenize the lowercased text
            text = text.lower()
        return [desensitize_py(t) for t in re.findall(pat, text)]

    def topk(self, query: str, k: int = 10, filter_expr: str | None = None) -> DataFrame:
        """Top-k BM25 over the postings: a batch of one through the
        per-segment scorer batch_topk runs. The plan follows the input:
        with a filter, each segment's allowed docs cogroup into its
        scoring task; otherwise a plain per-segment groupBy. The
        generation's tombstones ride in the scorer's closure. Either
        way the segments are hashed into at most one scoring task per
        core.

        For display-sized k (≤ bm25.DRIVER_HYDRATE_MAX_K) the result is
        hydrated eagerly — the search has already run, and the returned
        DataFrame is an Arrow-backed local relation of the k rows, so
        collecting it runs no Spark job. Larger k returns a lazy
        distributed plan (broadcast-join hydration) that preserves
        pushdown/projection for callers that filter before collecting."""
        from blacklab_spark.search.bm25 import topk_bm25

        return topk_bm25(self, query, k=k, filter_expr=filter_expr)

    def topk_phrase(self, phrase: str, k: int = 10) -> DataFrame:
        """Phrase-scored top-k BM25 (Lucene SpanWeight semantics at
        slop 0): the phrase scored as one term, tf = occurrence count."""
        from blacklab_spark.search.bm25 import topk_bm25_phrase

        return topk_bm25_phrase(self, phrase, k=k)

    def batch_topk(self, queries: list[str], k: int = 10) -> DataFrame:
        """Top-k BM25 for many queries in one job (reference
        tools/.../performance/BatchQuery.java analogue): the same
        per-segment scorer and plan choice as topk, every query scored
        against each segment's blocks, decoded once and shared."""
        from blacklab_spark.search.bm25 import batch_topk

        return batch_topk(self, queries, k=k)

    def find(self, cql: str) -> "Hits":
        """Run a BlackLab CQL pattern, mirroring
        `BlackLabIndex.find(BLSpanQuery)` (reference BlackLabIndex.java:183-194)."""
        from blacklab_spark.cql.engine import find as cql_find

        return cql_find(self, cql)

    def search(self, usecache: bool = False, **params) -> DataFrame:
        """BLS parameter-algebra request (reference
        wslib/.../lib/PlainWebserviceParams.java:19-110): patt/pattlang,
        filter/filterlang, sort, group, viewgroup, sample/samplenum/
        sampleseed, first/number, wordsaroundhit, calc='colloc',
        maxretrieve, outputformat. With ``usecache`` the materialized
        result persists in the BlsCache analogue of the current
        generation, keyed by the full parameter fingerprint
        (search/cache.py)."""
        from blacklab_spark.search.facade import search as _search

        if not usecache or params.get("outputformat"):
            # non-DataFrame results (csv strings) bypass the cache
            return _search(self, **params)
        key = json.dumps({"params": params}, sort_keys=True, default=str)
        # subtree_cache: the hit SET is cached separately from its
        # sort/group/window decoration, so a request differing only in
        # decoration reuses the persisted hits (reference BlsCache
        # shares subtree results across requests)
        cache = self.cache
        return cache.get_or_compute(
            key, lambda: _search(self, subtree_cache=cache, **params)
        )

    @property
    def cache(self):
        """The current generation's search cache (reference
        BlsCache.java)."""
        return self.state.cache

    def cache_info(self) -> dict:
        """cache-info endpoint (reference RequestHandlerCacheInfo)."""
        return self.cache.info()

    def status(self) -> dict:
        """Server status endpoint (reference RequestHandlerServerInfo /
        corpus status): index identity, sizes, generation."""
        st = self.state
        return {
            "index_dir": self.index_dir,
            "status": "available",
            "n_docs": st.meta["n_docs"],
            "total_tokens": st.meta["total_tokens"],
            "n_terms": st.meta.get("n_terms"),
            "generation": st.meta.get("generation", 0),
            "token_pattern": self.cfg.token_pattern,
            "cache": st.cache.info(),
        }

    def doc_info(self, doc_id: int) -> dict | None:
        """Per-doc metadata (reference RequestHandlerDocInfo)."""
        rows = self.doc_stats.filter(F.col("doc_id") == doc_id).collect()
        return rows[0].asDict() if rows else None

    def doc_contents(self, doc_id: int) -> str | None:
        """Original document text from the content store — the `text`
        column (reference RequestHandlerDocContents; content store =
        ContentStoreIntegrated.java, ours is the stored text column)."""
        rows = (
            self.tokenized.filter(F.col("doc_id") == doc_id)
            .select("text")
            .collect()
        )
        return rows[0]["text"] if rows else None

    def fields(self) -> dict:
        """Index schema registry (reference RequestHandlerFieldInfo /
        IndexMetadataIntegrated.java:105): annotated-field annotations,
        metadata fields, and corpus-level counts."""
        return {
            "annotated_field": {
                "name": "contents",
                "main_annotation": "word",
                "annotations": ["word"]
                + sorted(
                    c[len("ann_"):]
                    for c in self.tokenized.columns
                    if c.startswith("ann_") and not c.endswith("_extra")
                ),
                "sensitivities": ["sensitive", "insensitive"],
            },
            "metadata_fields": ["conv_id", "turn_idx", "role", "tool"],
            "n_docs": self.meta["n_docs"],
            "total_tokens": self.meta["total_tokens"],
            "n_terms": self.meta.get("n_terms"),
        }

    def field_values(self, field: str, limit: int = 500) -> dict:
        """Metadata-field value list (reference RequestHandlerFieldInfo
        `listvalues` param / MetadataFieldImpl value tracking): top
        values by doc count, truncation-flagged like the reference's
        valueListComplete."""
        from pyspark.sql import functions as F

        rows = (
            self.doc_stats.groupBy(field)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), field)
            .limit(limit + 1)
            .collect()
        )
        complete = len(rows) <= limit
        return {
            "field": field,
            "values": {r[field]: r["n_docs"] for r in rows[:limit]},
            "valueListComplete": complete,
        }

    def find_contextql(self, query: str):
        """Run a ContextQL (SRU CQL) query (reference
        queryParser/contextql/ContextualQueryLanguageParser.java).
        Contents pattern → Hits (optionally doc-filtered); pure
        metadata query → DataFrame of matching docs (DocResults
        analogue, reference DocResults.java:86-88)."""
        from blacklab_spark.cql.contextql import parse_contextql
        from blacklab_spark.cql.engine import translate
        from blacklab_spark.search.results import Hits

        cq = parse_contextql(query)
        if cq.pattern is None:
            docs = self.doc_stats
            return docs.filter(cq.filter) if cq.filter else docs
        hits = Hits(self, translate(self, cq.pattern))
        return hits.filter_docs(cq.filter) if cq.filter else hits

    def term_hits(self, term: str, sensitive: bool = False) -> DataFrame:
        """All (doc_id, start, end) positions of one term — the leaf scan
        (reference BLSpanTermQuery.java)."""
        from blacklab_spark.search.spans import term_hits

        return term_hits(self, term, sensitive=sensitive)

    def explain(self, cql: str, physical: bool = False) -> str:
        """Query rewrite trace (reference RequestHandlerExplain)."""
        from blacklab_spark.cql.explain import explain

        return explain(self, cql, physical=physical)

    def snippets(self, hits_df: DataFrame, context_chars: int = 40) -> DataFrame:
        """Original-content snippets with <hl> highlighting (reference
        RequestHandlerDocSnippet / XmlHighlighter)."""
        from blacklab_spark.search.snippets import snippets

        return snippets(self, hits_df, context_chars=context_chars)

    def fuzzy_hits(self, term: str, max_edits: int = 2) -> DataFrame:
        """Fuzzy term positions (reference SpanFuzzyQuery.java)."""
        from blacklab_spark.search.spans import fuzzy_hits

        return fuzzy_hits(self, term, max_edits=max_edits)

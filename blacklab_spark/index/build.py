"""Inverted-index build pipeline (Spark-first).

Reference behavior being re-expressed (NOT ported): BlackLab's codec
intercepts Lucene segment writes and produces postings + forward index
+ terms files per segment (reference codec/BlackLab40PostingsWriter.java:222-340,
doc/index-formats/integrated.md:17-103). Our analogue:

  transcripts ──dense doc_id──> tokenized (forward index, parquet;
       │                         observe() yields N / total_tokens)
       │                            │ (no shuffle: scan batches)
       │                            ├─> mapInArrow block encode
       │                            │    -> postings parquet, term-
       │                            │       sorted, by seg_group
       │                            └─> terms dict (two-phase agg over
       │                                 block rows, dense term_id)
       └─ doc_stats + per-turn spans are NOT stored: they are column-
          pruned projections of `tokenized`, derived at read time
          (Corpus.doc_stats / Corpus.spans). Only explicit inline-tag
          spans persist (extra_spans table).

Scale design notes (the 100-TB story):
- **The posting build has NO shuffle and NO term-keyed stage.** Blocks
  are correct under any row placement (partial blocks of one
  (segment, term) coexist; df/cf aggregate over blocks), so the
  encoder maps straight over the tokenized scan. Head-term (Zipf)
  skew is impossible by construction — work is partitioned by storage
  splits, never by term — which is the failure mode the north rule's
  "salted repartitioning" guards against in a term-keyed build.
- The terms dict is the only term-keyed aggregation, and it runs over
  block rows (already reduced by ~block_size per (segment,term)), with
  Catalyst's partial (map-side) aggregation as the two-phase combine —
  the same effect explicit salting would buy for these algebraic sums.
  The dense term_id assignment reuses the range-partitioned two-pass
  rank (no global window). Skew in query-side hit joins is left to AQE
  skew-join handling (enabled in session defaults).
- Every stage writes to its own directory with a _STAGE_DONE marker +
  per-partition lineage rows in segments_meta -> resumable builds
  (north rule): `build_index(..., resume=True)` skips finished stages.
  Corpus-level stats (N, total_tokens, n_terms, n_blocks) ride as
  observe() metrics on the writes — no separate counting jobs.
- Everything between source and the Arrow block encoder is pure
  DataFrame API — Catalyst does pruning/pushdown; the encoder is a
  mapInArrow pass (Arrow-C++ factorize + vectorized numpy inside).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from blacklab_spark.config import EngineConfig
from blacklab_spark.ids import release_dense_id_cache, with_dense_id
from blacklab_spark.index import codec

POSTINGS_SCHEMA = (
    "field string, segment_id long, term string, block_id int, n_docs int, "
    "min_doc long, max_doc long, doc_ids binary, freqs binary, "
    "dls binary, positions binary, block_max_tf int, sum_tf long, "
    "block_max_wtf_raw double"
)

# the always-present primary postings field: the insensitive view of
# the main `word` annotation (reference AnnotatedFieldNameUtil.java:47
# names Lucene fields `contents%word@i`; AnnotationSensitivities.java:8-13
# enumerates which sensitivities get indexed per annotation)
PRIMARY_FIELD = "word@i"


def parse_field(field: str) -> tuple[str, str]:
    """'pos@i' -> ('pos', 'i'); bare 'pos' defaults to insensitive."""
    ann, _, sens = field.partition("@")
    sens = sens or "i"
    if sens not in ("s", "i"):
        raise ValueError(f"indexable sensitivities are s/i, got {field!r}")
    return ann, sens


SEGMENTS_META_SCHEMA = (
    "stage string, partition_id long, rows long, tokens long, checksum string"
)


class _StageTimer:
    """Optional per-stage wall-clock telemetry (BLSPARK_STAGE_TIMING=1):
    the builder's own metrics stream, printed to stderr and returned in
    the meta dict — the per-stage analogue of the reference's indexing
    progress reporting (IndexerImpl listener callbacks)."""

    def __init__(self) -> None:
        self.enabled = os.environ.get("BLSPARK_STAGE_TIMING") == "1"
        self.times: dict[str, float] = {}
        self._t0 = time.time()

    def mark(self, stage: str) -> None:
        now = time.time()
        self.times[stage] = round(now - self._t0, 2)
        if self.enabled:
            print(f"[build] {stage}: {self.times[stage]}s", file=sys.stderr, flush=True)
        self._t0 = now


def _stage_dir(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def _stage_done(index_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(_stage_dir(index_dir, name), "_STAGE_DONE"))


def _mark_done(index_dir: str, name: str, payload: dict | None = None) -> None:
    with open(os.path.join(_stage_dir(index_dir, name), "_STAGE_DONE"), "w") as f:
        json.dump(payload or {}, f)


def fi_table_name(index_dir: str) -> str:
    """Session-catalog name for the bucketed forward-index table of one
    index dir. Deterministic so any session can re-register it; the
    durable artifact is the files + meta['fi_buckets'], never the
    catalog entry."""
    import hashlib

    key = hashlib.md5(os.path.abspath(index_dir).encode()).hexdigest()[:12]
    return f"blspark_fi_{key}"


def _case_expanded(pat: str) -> str:
    """Case-expand `a-z` ranges in the token pattern instead of using
    the `(?i)` flag: Java's case-insensitive regex mode disables
    character-class optimizations and measured 10x slower in
    regexp_extract_all (39s -> 3.7s on a 6.4M-turn scan at 32 cores).
    Unicode-property classes (\\p{L}) already match both cases and pass
    through unchanged; `(?i)` is the last resort."""
    if "\\p{" in pat:
        return pat
    if "a-z" in pat:
        return pat.replace("a-z", "a-zA-Z")
    return f"(?i){pat}"


def tokenize(df: DataFrame, cfg: EngineConfig,
             multivalue_cols: list[str] | None = None) -> DataFrame:
    """Vectorized tokenization, entirely JVM-side (regexp_extract_all in
    whole-stage codegen — the analogue of the reference's
    BLStandardAnalyzer, analysis/BLStandardAnalyzer.java). `tokens`
    keeps original case and accents (the 's' sensitivity). The
    insensitive variant `tokens_i` (cf. MatchSensitivity.java:14-17)
    is NOT stored: it is always fold(lower(tokens))
    position-for-position, so it is derived where needed (encode input
    projection, Corpus.tokenized) — storing it doubled the forward
    index's token bytes for a ~3s/scan recompute. The pattern is
    passed as a literal Column (not an embedded SQL string) so
    backslashes in \\p{L} survive verbatim."""
    pat = _case_expanded(cfg.token_pattern)
    out = df.withColumn(
        "tokens", F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    ).withColumn("num_tokens", F.size("tokens"))
    return split_multivalue_annotations(out, cols=multivalue_cols)


def split_multivalue_annotations(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Multiple annotation values at one token position (reference
    AnnotationWriter.java:246-263 addValueAtPosition with increment 0;
    PayloadUtils.java:25-62 primary/secondary flags). Input encoding:
    `|`-separated values inside an `ann_*` sidecar cell, first value
    primary. The primary value stays in the dense `ann_X` array (the
    forward index stores primaries only — concordances, sort and group
    keys use it, like the reference FI); secondary values land in a
    sparse `ann_X_extra: array<struct<pos,term>>` column that the
    annotation scan unions in, so search matches ANY value at the
    position. All codegen expressions — no shuffle, no Python."""
    targets = (
        [c for c in df.columns if c.startswith("ann_") and not c.endswith("_extra")]
        if cols is None
        else cols
    )
    for c in targets:
        df = df.withColumn(
            f"{c}_extra",
            F.expr(
                f"filter(flatten(transform({c}, (v, i) -> "
                f"transform(slice(split(v, '\\\\|'), 2, 2147483646), "
                f"s -> struct(i AS pos, s AS term)))), x -> x.term <> '')"
            ),
        ).withColumn(c, F.expr(f"transform({c}, v -> substring_index(v, '|', 1))"))
    return df


def make_encoder(cfg: EngineConfig, avgdl: float, fields: list[str] | None = None):
    """Posting-block encoder for one segment — an ARROW kernel
    (applyInArrow): flatten token lists and factorize terms inside
    Arrow C++ (ListArray.flatten + dictionary_encode), then a single
    vectorized numpy pass (int-lexsort, grouped delta+varint). Token
    strings NEVER materialize as Python objects — only each segment's
    unique terms cross the C boundary for the block metadata column
    (measured: the former pandas path spent more core-time building
    56M Python strings per 1.6M turns than the entire encode).
    Blocks stay keyed by term STRING — the postings table needs no
    term_id join at all, and the terms dictionary is derived FROM the
    blocks afterwards (df = sum n_docs, cf = sum tf). The
    idf-independent score factor is stored so BM25 bounds can be
    recomputed from live stats at query time (appends change N/avgdl;
    the reference's codec likewise writes per-segment postings at
    Lucene flush, BlackLab40PostingsWriter.java:222-340).
    Shared by the full build and incremental delta builds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    k1, b, block_size = cfg.k1, cfg.b, cfg.block_size
    avgdl_b = avgdl
    fields = list(fields) if fields is not None else [PRIMARY_FIELD]

    out_schema = pa.schema(
        [
            ("field", pa.string()),
            ("segment_id", pa.int64()),
            ("term", pa.string()),
            ("block_id", pa.int32()),
            ("n_docs", pa.int32()),
            ("min_doc", pa.int64()),
            ("max_doc", pa.int64()),
            ("doc_ids", pa.binary()),
            ("freqs", pa.binary()),
            ("dls", pa.binary()),
            ("positions", pa.binary()),
            ("block_max_tf", pa.int32()),
            ("sum_tf", pa.int64()),
            ("block_max_wtf_raw", pa.float64()),
        ]
    )

    from blacklab_spark.analysis import desensitize_py

    def encode_field(seg: int, docs: "np.ndarray", toks, fname: str, fold: bool):
        """Posting blocks of ONE field over one segment slice. ``toks``
        is the field's RAW list<string> Arrow array; per-doc lengths
        come from the list offsets (null sidecar arrays encode as
        empty). ``fold``: desensitize for an @i field — applied to the
        segment DICTIONARY (unique terms) instead of every token: the
        former JVM-side per-token transform(lower+translate) was ~2/5
        of the whole postings stage; folding ~10-100k unique strings
        per segment costs milliseconds for the identical result (the
        desensitize_py table IS the codegen fold's table, analysis.py).
        The dictionary is also SORTED (codes remapped) so each slice's
        blocks leave the kernel term-ordered — parquet row-group
        min/max stats on `term` stay tight with almost no work for the
        downstream per-file sort."""
        lens = pc.list_value_length(toks).fill_null(0).to_numpy().astype(np.int64)
        total = int(lens.sum())
        if total == 0:
            return None
        de = pc.dictionary_encode(toks.flatten())
        codes = de.indices.to_numpy().astype(np.int32)
        dictionary = de.dictionary
        if fold:
            folded = pa.array(
                [desensitize_py(s) if s is not None else None
                 for s in dictionary.to_pylist()],
                pa.string(),
            )
            fd = pc.dictionary_encode(folded)
            codes = fd.indices.to_numpy().astype(np.int32)[codes]
            dictionary = fd.dictionary
        sort_idx = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
        inv = np.empty(len(sort_idx), dtype=np.int32)
        inv[sort_idx] = np.arange(len(sort_idx), dtype=np.int32)
        codes = inv[codes]
        dictionary = dictionary.take(pa.array(sort_idx))
        # per-token doc INDEX (int32) instead of full int64 doc-id /
        # doc-length arrays: doc ids and lengths are gathered per
        # (term, doc) GROUP later, cutting the kernel's memory traffic
        # by more than half (the lexsort+gathers over 4 int64 arrays
        # were the postings stage's hottest loop)
        doc_idx = np.repeat(np.arange(len(lens), dtype=np.int32), lens)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        pos = (np.arange(total, dtype=np.int64) - np.repeat(starts, lens)).astype(
            np.int32
        )

        # rows arrive (doc, pos)-ordered (the tokenized table is written
        # doc-contiguous and positions ascend within each doc), so ONE
        # stable sort by term code yields (term, doc, pos) order — a
        # radix pass for int32 keys, replacing the former 3-pass
        # np.lexsort((pos, did, codes)). The cheap monotonicity check
        # guards exotic row layouts (correct under any placement).
        if np.all(docs[1:] >= docs[:-1]):
            order = np.argsort(codes, kind="stable")
        else:
            # sort by the actual DOC ID, not the row index: a slice
            # whose rows arrive doc-descending must still emit
            # ascending doc lists per block (min_doc/max_doc pruning
            # and non-negative deltas depend on it)
            order = np.lexsort((pos, docs[doc_idx], codes))
        tid, dix, pos = codes[order], doc_idx[order], pos[order]

        # group boundaries at (term, doc) changes
        td_change = np.empty(total, dtype=bool)
        td_change[0] = True
        np.not_equal(tid[1:], tid[:-1], out=td_change[1:])
        td_change[1:] |= dix[1:] != dix[:-1]
        td_starts = np.flatnonzero(td_change)
        tf = np.diff(np.append(td_starts, total))
        g_tid = tid[td_starts]
        g_dix = dix[td_starts]
        g_did = docs[g_dix]
        g_dl = lens[g_dix]
        # idf attaches post-join; this is the idf-independent factor
        wtf = tf / (tf + k1 * (1.0 - b + b * g_dl / avgdl_b))

        # blocks: runs of <= block_size (term,doc) groups per term
        t_change = np.empty(len(g_tid), dtype=bool)
        t_change[0] = True
        np.not_equal(g_tid[1:], g_tid[:-1], out=t_change[1:])
        t_starts = np.flatnonzero(t_change)
        t_counts = np.diff(np.append(t_starts, len(g_tid)))
        within = np.arange(len(g_tid)) - np.repeat(t_starts, t_counts)
        block_starts = np.flatnonzero(within % block_size == 0)
        block_lens = np.diff(np.append(block_starts, len(g_tid)))
        block_ends = block_starts + block_lens

        # per-block payloads: one codec pass per column over the segment
        did_deltas = codec.delta_encode(g_did, block_starts)
        doc_bytes = codec.varint_encode(did_deltas, block_lens)
        tf_bytes = codec.varint_encode(tf, block_lens)
        dl_bytes = codec.varint_encode(g_dl, block_lens)
        pos_deltas = codec.delta_encode(pos, td_starts)
        flat_block_lens = np.add.reduceat(tf, block_starts)
        pos_bytes = codec.varint_encode(pos_deltas, flat_block_lens)

        n_blocks = len(block_starts)
        return pa.table(
            {
                "field": pa.array([fname] * n_blocks, pa.string()),
                "segment_id": pa.array(
                    np.full(n_blocks, seg, dtype=np.int64), pa.int64()
                ),
                # take block terms straight from the Arrow dictionary —
                # the only strings that exist Python-side are none
                "term": pc.take(
                    dictionary, pa.array(g_tid[block_starts], pa.int64())
                ),
                "block_id": pa.array(
                    (within[block_starts] // block_size).astype(np.int32),
                    pa.int32(),
                ),
                "n_docs": pa.array(block_lens.astype(np.int32), pa.int32()),
                "min_doc": pa.array(g_did[block_starts], pa.int64()),
                "max_doc": pa.array(g_did[block_ends - 1], pa.int64()),
                "doc_ids": doc_bytes,
                "freqs": tf_bytes,
                "dls": dl_bytes,
                "positions": pos_bytes,
                "block_max_tf": pa.array(
                    np.maximum.reduceat(tf, block_starts).astype(np.int32),
                    pa.int32(),
                ),
                "sum_tf": pa.array(flat_block_lens.astype(np.int64), pa.int64()),
                "block_max_wtf_raw": pa.array(
                    np.maximum.reduceat(wtf, block_starts), pa.float64()
                ),
            },
            schema=out_schema,
        )

    folds = [parse_field(f)[1] != "s" for f in fields]

    def encode_segment(table: "pa.Table") -> "pa.Table":
        seg = table.column("segment_id")[0].as_py()
        docs = table.column("doc_id").to_numpy().astype(np.int64)
        parts = []
        for fi, fname in enumerate(fields):
            toks = table.column(f"_fld_{fi}").combine_chunks()
            out = encode_field(seg, docs, toks, fname, folds[fi])
            if out is not None:
                parts.append(out)
        if not parts:
            return out_schema.empty_table()
        return parts[0] if len(parts) == 1 else pa.concat_tables(parts)

    return encode_segment


def encode_postings(
    tokenized: DataFrame,
    cfg: EngineConfig,
    avgdl: float,
    fields: list[str] | None = None,
    legacy_layout: bool = False,
) -> DataFrame:
    """tokenized -> posting blocks (term-string keyed, final form).

    Shuffle moves the UNEXPLODED token arrays keyed by segment (~3x
    less volume than exploded rows, and bounded per group by
    segment_size docs regardless of term skew); term explosion +
    grouping happens inside the vectorized kernel. No term_id join
    exists anywhere: queries filter blocks on the term string with the
    same parquet predicate pushdown, and the terms dictionary is
    aggregated FROM these blocks.

    ``fields``: postings fields to emit — one annotation×sensitivity
    per entry (reference indexes every annotation sensitivity as its
    own Lucene postings field, AnnotatedFieldNameUtil.java:47,
    AnnotationSensitivities.java:8-13). All fields encode in ONE pass
    over the tokenized scan (the per-field lexsort is the work; the
    scan and shuffle-free layout are shared). ``legacy_layout`` drops
    the field column for appends into pre-field index dirs."""
    fields = list(fields) if fields is not None else list(cfg.index_fields)
    # ship the RAW token arrays — desensitization for @i fields happens
    # at the segment-dictionary level inside the kernel (see
    # make_encoder.encode_field), not as a per-token JVM transform
    cols = [F.col("segment_id"), F.col("doc_id")]
    for i, f in enumerate(fields):
        ann, _sens = parse_field(f)
        src_col = F.col("tokens") if ann == "word" else F.col(f"ann_{ann}")
        cols.append(src_col.alias(f"_fld_{i}"))
    rows = tokenized.select(*cols)
    # ZERO-shuffle encode: posting blocks are correct under ANY row
    # placement — each doc contributes its (term, doc) groups to
    # exactly one kernel call, and partial blocks of the same
    # (segment, term) from different calls coexist (block stats are
    # per-block; the terms dict aggregates df/cf over blocks; scoring
    # and decode treat blocks independently). So the encoder runs
    # straight on the parquet scan's Arrow batches (mapInArrow), and
    # the build's one big shuffle — the token arrays — disappears.
    # Batches are sliced at segment boundaries (the tokenized table is
    # doc-contiguous from the dense-id stamp, so these are runs); an
    # out-of-order layout would still be CORRECT, just produce more
    # partial blocks. Head-term skew cannot exist by construction:
    # work is partitioned by storage splits, never by term.
    enc = make_encoder(cfg, avgdl, fields)

    def encode_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            table = pa.Table.from_batches([batch])
            segs = table.column("segment_id").to_numpy()
            if len(segs) == 0:
                continue
            change = np.flatnonzero(np.diff(segs)) + 1
            bounds = np.concatenate([[0], change, [len(segs)]])
            for i in range(len(bounds) - 1):
                out = enc(table.slice(bounds[i], bounds[i + 1] - bounds[i]))
                if out.num_rows:
                    yield from out.to_batches()

    out = rows.mapInArrow(encode_batches, schema=POSTINGS_SCHEMA)
    return out.drop("field") if legacy_layout else out


_SMALL_VOCAB = 2_000_000  # single-task sortable in seconds


def terms_from_postings(postings: DataFrame) -> DataFrame:
    """Terms dictionary derived from posting blocks: df/cf are sums of
    per-block counts — a groupBy over block rows (~1/block_size of the
    token count), not over exploded tokens. One dict row per
    (field, term): every postings field keeps its own vocabulary, like
    the reference's per-Lucene-field Terms (forwardindex/Terms.java).

    The dense alphabetical term_id needs a global order over the vocab.
    The vocab is persisted and counted first (ONE postings-agg pass —
    letting with_dense_id's range sampling recompute the agg doubled
    the stage), then: small vocabs (the overwhelmingly common case —
    vocab is sublinear in corpus size) sort in one task, zero shuffle;
    only a vocab past ~2M terms pays the scale path's range shuffle.

    NOTE: the former sort_pos_s/sort_pos_i columns are GONE — they were
    term_id aliases the sort path never read. Collated result sorting
    is the documented two-strength expression sort in results.py
    (fold+lower primary, raw secondary; cf. reference Collators.java)."""
    from pyspark.storagelevel import StorageLevel

    keys = ["field", "term"] if "field" in postings.columns else ["term"]
    stats = postings.groupBy(*keys).agg(
        F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n = stats.count()
    if n <= _SMALL_VOCAB:
        # single cached partition: monotonically_increasing_id over the
        # (field, term)-sorted rows IS the dense alphabetical rank
        # (unique across fields, alphabetical within each field)
        out = (
            stats.coalesce(1)
            .sortWithinPartitions(*keys)
            .withColumn("term_id", F.monotonically_increasing_id())
        )
    else:
        out = with_dense_id(stats, tuple(keys), "term_id")
    prior = getattr(out, "_blspark_persisted", None)
    out._blspark_persisted = stats
    if prior is not None:
        out._blspark_persisted_extra = prior
    return out


def turn_spans(tokenized: DataFrame) -> DataFrame:
    """The implicit per-turn span rows (analogue of the reference's
    starttag annotation, SpansTags.java:81-102)."""
    return tokenized.select(
        "doc_id",
        F.lit("turn").alias("tag"),
        F.lit(0).alias("start"),
        F.col("num_tokens").alias("end"),
        F.map_from_arrays(
            F.array(F.lit("role"), F.lit("tool")),
            F.array(F.col("role"), F.col("tool")),
        ).alias("attrs"),
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    extra_spans: DataFrame | None = None,
) -> dict:
    """``extra_spans``: optional (conv_id, turn_idx, tag, start, end,
    attrs:map) rows — inline tags beyond the implicit per-turn span
    (the analogue of `<s>`/`<entity>` starttag tokens,
    reference SpansTags.java:81-102).

    Build the index tables under ``index_dir``; returns the meta dict.
    Only tokenized / postings / terms are STORED — doc stats and the
    implicit per-turn spans are column-pruned projections of the
    tokenized table and are derived at read time (Corpus.doc_stats /
    Corpus.spans): storing them bought nothing Catalyst's pruning
    doesn't, and their write stages were pure serial floor. Global
    stats ride along as observe() metrics on the writes themselves —
    zero extra jobs."""
    from pyspark.sql import Observation

    cfg = cfg or EngineConfig()
    os.makedirs(index_dir, exist_ok=True)
    meta_path = os.path.join(index_dir, "meta.json")
    all_stages = ["tokenized", "postings", "terms"]
    if extra_spans is not None:
        all_stages.append("extra_spans")
    if cfg.fi_buckets:
        all_stages.append("fi")
    if (
        resume
        and os.path.exists(meta_path)
        and all(_stage_done(index_dir, s) for s in all_stages)
    ):
        # fully-built index: nothing to redo (meta.json is written last,
        # after every stage marker, so its presence proves completeness)
        with open(meta_path) as f:
            return json.load(f)
    timer = _StageTimer()

    # ---- stage 1: forward index (tokenized table) --------------------
    tok_path = _stage_dir(index_dir, "tokenized")
    ann_cols = [
        c for c in transcripts.columns
        if c.startswith("ann_") and not c.endswith("_extra")
    ]
    n_docs = total_tokens = None
    multivalue_anns: list[str] | None = None
    if not (resume and _stage_done(index_dir, "tokenized")):
        # EVERY ann column gets the `|` split (cheap codegen transform);
        # which annotations are genuinely multi-valued is detected FOR
        # FREE via observe() on this same write (empty _extra arrays
        # cost ~nothing to store) — no dedicated probe pass over the
        # raw input. Readers consult meta['multivalue_anns'] so
        # single-valued annotations never pay the secondary-scan cost.
        with_ids = with_dense_id(transcripts, ("conv_id", "turn_idx"), "doc_id")
        tokenized = tokenize(with_ids, cfg).withColumn(
            "segment_id", F.expr(f"doc_id DIV {cfg.segment_size}")
        ).withColumn(
            "seg_group", F.expr(f"doc_id DIV {cfg.segment_size * cfg.segments_per_dir}")
        )
        obs = Observation("tokenized_stats")
        tokenized = tokenized.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("num_tokens").alias("total_tokens"),
            *[
                F.max(F.size(f"{c}_extra")).alias(f"mv_{c}")
                for c in ann_cols
            ],
        )
        # with_dense_id emits partitions that are already contiguous
        # doc_id ranges (range-partitioned by the stable sort order),
        # so no extra shuffle is needed before the partitioned write:
        # each task holds whole segment groups' rows (+/- one boundary)
        (
            tokenized
            .write.mode("overwrite")
            # 16MB row groups: scan-split parallelism for downstream
            # stages is bounded by row-group count, not byte ranges —
            # default 128MB groups turn a 32-file table into ~32
            # effective tasks regardless of maxPartitionBytes
            .option("parquet.block.size", 16 * 1024 * 1024)
            .partitionBy("seg_group")
            .parquet(tok_path)
        )
        release_dense_id_cache(with_ids)
        got = obs.get
        n_docs, total_tokens = int(got["n_docs"]), int(got["total_tokens"] or 0)
        multivalue_anns = sorted(
            c[len("ann_"):] for c in ann_cols if int(got[f"mv_{c}"] or 0) > 0
        )
        _mark_done(index_dir, "tokenized", {"multivalue_anns": multivalue_anns})
    timer.mark("tokenized")
    tokenized = spark.read.parquet(tok_path)

    if n_docs is None:  # resumed past stage 1: one pruned-column agg
        aggs = [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("num_tokens").alias("total_tokens"),
        ]
        with open(os.path.join(tok_path, "_STAGE_DONE")) as f:
            stage_payload = json.load(f)
        multivalue_anns = stage_payload.get("multivalue_anns")
        if multivalue_anns is None:
            aggs += [
                F.max(F.size(f"{c}_extra")).alias(f"mv_{c}")
                for c in ann_cols
                if f"{c}_extra" in tokenized.columns
            ]
        agg = tokenized.agg(*aggs).collect()[0]
        n_docs, total_tokens = int(agg["n_docs"]), int(agg["total_tokens"] or 0)
        if multivalue_anns is None:
            multivalue_anns = sorted(
                c[len("ann_"):]
                for c in ann_cols
                if f"mv_{c}" in agg.asDict() and int(agg[f"mv_{c}"] or 0) > 0
            )
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    timer.mark("global_stats")

    # ---- stage 2: postings (the inverted index) ----------------------
    post_path = _stage_dir(index_dir, "postings")
    n_blocks = None
    if not (resume and _stage_done(index_dir, "postings")):
        obs_p = Observation("postings_stats")
        postings = encode_postings(tokenized, cfg, avgdl).withColumn(
            "seg_group", F.expr(f"segment_id DIV {cfg.segments_per_dir}")
        ).observe(obs_p, F.count(F.lit(1)).alias("n_blocks"))
        (
            # term-sorted within each file: tight parquet row-group
            # min/max stats on `term`, so term-filtered query scans
            # skip most row groups (the pushdown's skipping actually
            # bites instead of reading hash-ordered rows)
            postings.sortWithinPartitions("segment_id", "field", "term")
            .write.mode("overwrite")
            .partitionBy("seg_group")
            .parquet(post_path)
        )
        n_blocks = int(obs_p.get["n_blocks"])
        _mark_done(index_dir, "postings")
    timer.mark("postings")
    postings = spark.read.parquet(post_path)
    if n_blocks is None:
        n_blocks = postings.count()

    # ---- stage 3: terms dictionary (derived from the blocks) ---------
    # dense alphabetical term_id == insensitive sort position
    # (reference precomputes collator sort orders per terms dict,
    # forwardindex/Terms.java:69-95); our dict terms are already
    # desensitized so term order IS the collated insensitive order.
    terms_path = _stage_dir(index_dir, "terms")
    n_terms = None
    if not (resume and _stage_done(index_dir, "terms")):
        obs_t = Observation("terms_stats")
        terms0 = terms_from_postings(postings)
        terms = terms0.observe(obs_t, F.count(F.lit(1)).alias("n_terms"))
        terms.write.mode("overwrite").parquet(terms_path)
        # release the PRE-observe handle: observe() returns a fresh
        # DataFrame object without the _blspark_persisted attrs
        release_dense_id_cache(terms0)
        n_terms = int(obs_t.get["n_terms"])
        _mark_done(index_dir, "terms")
    timer.mark("terms")
    if n_terms is None:
        n_terms = spark.read.parquet(terms_path).count()

    # ---- stage 4 (optional): extra inline-tag spans ------------------
    if extra_spans is not None and not (
        resume and _stage_done(index_dir, "extra_spans")
    ):
        extra = extra_spans.join(
            tokenized.select("conv_id", "turn_idx", "doc_id"),
            ["conv_id", "turn_idx"],
        ).select(
            "doc_id",
            "tag",
            F.col("start").cast("int").alias("start"),
            F.col("end").cast("int").alias("end"),
            F.col("attrs").cast("map<string,string>").alias("attrs"),
        )
        extra.write.mode("overwrite").parquet(_stage_dir(index_dir, "extra_spans"))
        _mark_done(index_dir, "extra_spans")
    timer.mark("spans")

    # ---- stage 4b (optional): doc_id-bucketed forward-index table ----
    # The query-side FI access path (see EngineConfig.fi_buckets): the
    # same rows as `tokenized`, written as a Spark bucketed table so
    # hit->context joins provide HashPartitioning(doc_id, n) straight
    # from the scan — no Exchange of the token arrays at query time,
    # ever. Registered in the (session) catalog at build; Corpus.fi
    # re-registers it per session from meta.json (the files + bucket
    # count are the durable artifact, the catalog entry is throwaway).
    if cfg.fi_buckets and not (resume and _stage_done(index_dir, "fi")):
        fi_path = _stage_dir(index_dir, "fi")
        tbl = fi_table_name(index_dir)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            # token arrays + join/meta keys only — the content store
            # (text/xml_text) stays solely in `tokenized`, like the
            # reference's forward index living beside, not containing,
            # its content store (integrated.md:17-103 vs :105-169);
            # duplicating the raw text would double FI storage at scale.
            # repartition INTO the bucket partitioning first so each
            # write task holds exactly one bucket: one file per bucket
            # (instead of tasks x buckets small files), which also lets
            # the bucketed scan use the per-file doc_id sort order.
            tokenized.drop("seg_group", "text", "xml_text")
            .repartition(cfg.fi_buckets, F.col("doc_id"))
            .write.mode("overwrite")
            .format("parquet")
            .option("path", fi_path)
            .bucketBy(cfg.fi_buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(tbl)
        )
        _mark_done(index_dir, "fi", {"fi_buckets": cfg.fi_buckets})
    timer.mark("fi")

    # ---- stage 5: lineage + meta --------------------------------------
    meta = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        "k1": cfg.k1,
        "b": cfg.b,
        "segment_size": cfg.segment_size,
        "block_size": cfg.block_size,
        "segments_per_dir": cfg.segments_per_dir,
        "token_pattern": cfg.token_pattern,
        "index_fields": list(cfg.index_fields),
        "multivalue_anns": multivalue_anns or [],
        "n_terms": n_terms,
        "n_posting_blocks": n_blocks,
        "fi_buckets": cfg.fi_buckets,
        # the bucketed FI mirrors generation-0 contents; incremental
        # appends and compactions invalidate it (Corpus.fi checks this)
        "fi_generation": 0,
    }
    from blacklab_spark.index.incremental import _save_meta

    _save_meta(index_dir, meta)

    # per-partition lineage: rows+tokens+checksum per segment (cheap
    # algebraic checksum — count/sum/min/max of doc ids — instead of
    # an md5 over the collected, sorted id list)
    lin = (
        tokenized.select("doc_id", "segment_id", "num_tokens")
        .groupBy("segment_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("num_tokens").alias("tokens"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.count(F.lit(1)),
                    F.sum("doc_id"),
                    F.min("doc_id"),
                    F.max("doc_id"),
                )
            ).alias("checksum"),
        )
        .select(
            F.lit("tokenized").alias("stage"),
            F.col("segment_id").alias("partition_id"),
            "rows",
            "tokens",
            "checksum",
        )
    )
    lin.write.mode("overwrite").parquet(_stage_dir(index_dir, "segments_meta"))
    timer.mark("meta_lineage")
    meta["stage_times"] = timer.times
    return meta

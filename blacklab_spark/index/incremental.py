"""Incremental index maintenance: append, delete, compact.

The reference supports adding/deleting documents in an existing index
(reference index/IndexerImpl.java, core TestDeleteDocument.java); Lucene
realizes this as new segments + liveDocs tombstones + merges. Our
analogue over parquet tables:

- add_documents: new docs become NEW segments (doc_ids continue after
  the current max; existing segments are never rewritten). The terms
  dict is merged with STABLE term_ids for existing terms; df/cf are
  incremented. Global stats (N, avgdl) are updated in meta.json.
  Stored block_max_wtf of older segments becomes a stale bound — it is
  advisory metadata only (scoring recomputes idf from live stats), the
  same way Lucene keeps deleted docs in stats until merge.
- delete_documents: tombstone table (doc_id rows), honored at query
  time like Lucene liveDocs; stats keep counting tombstoned docs until
  compaction (Lucene parity). It bumps the generation like the others.
- compact: rewrites only segments that have tombstones (re-encoding
  from the forward index minus deleted docs), refreshes terms df/cf
  and global stats, clears tombstones. Untouched segments' files are
  not rewritten.

Every operation commits by replacing meta.json (_save_meta), the one
file an open Corpus stats to see a new generation.

Each operation appends lineage rows to segments_meta (stage name,
partition, rows, tokens, checksum) so a resumed/audited build can
verify per-partition state — the north rule's checkpoint story.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from blacklab_spark.config import EngineConfig
from blacklab_spark.ids import release_dense_id_cache, with_dense_id
from blacklab_spark.index.build import (
    _stage_dir,
    encode_postings,
    tokenize,
    turn_spans,
)

DELETES_SCHEMA = "doc_id long"


def _load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _save_meta(index_dir: str, meta: dict) -> None:
    """The only meta.json writer: a synced temp file renamed over the
    old one, so a reader that stats and opens it (Corpus.state) never
    reads a half-written file."""
    fd, tmp = tempfile.mkstemp(prefix=".meta.", suffix=".tmp", dir=index_dir)
    try:
        os.fchmod(fd, 0o644)  # mkstemp's 0600 would hide it from other readers
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(index_dir, "meta.json"))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _append_lineage(spark: SparkSession, index_dir: str, stage: str,
                    doc_stats: DataFrame) -> None:
    lin = (
        doc_stats.groupBy("segment_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("num_tokens").alias("tokens"),
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))).alias(
                "checksum"
            ),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("segment_id").alias("partition_id"),
            "rows",
            "tokens",
            "checksum",
        )
    )
    lin.write.mode("append").parquet(_stage_dir(index_dir, "segments_meta"))


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_transcripts: DataFrame,
    extra_spans: DataFrame | None = None,
) -> dict:
    """Append new docs as fresh segments. Returns updated meta."""
    meta = _load_meta(index_dir)
    new_layout = "index_fields" in meta
    cfg = EngineConfig(
        k1=meta["k1"], b=meta["b"], segment_size=meta["segment_size"],
        block_size=meta["block_size"], token_pattern=meta["token_pattern"],
        segments_per_dir=meta.get("segments_per_dir", 64),
        index_fields=tuple(meta.get("index_fields", ("word@i",))),
    )
    seg_size = cfg.segment_size
    group_docs = seg_size * cfg.segments_per_dir
    # doc ids come from the tokenized table (doc_stats is a derived
    # projection in current indexes; the pruned max reads one column)
    old_tok = spark.read.parquet(_stage_dir(index_dir, "tokenized"))
    base = int(old_tok.agg(F.max("doc_id")).collect()[0][0]) + 1
    # new docs start at a fresh segment boundary: existing segment files
    # are immutable (Lucene-style write-once segments)
    base = ((base + seg_size - 1) // seg_size) * seg_size

    stamped = with_dense_id(new_transcripts, ("conv_id", "turn_idx"), "doc_id")
    with_ids = stamped.withColumn("doc_id", F.col("doc_id") + F.lit(base))
    # conform the delta to the STORED schema. New-layout indexes split
    # EVERY ann column (same as a fresh build), so a delta that
    # introduces '|' values in a previously single-valued annotation is
    # indexed exactly like a rebuild would index it — which annotations
    # are live-multivalue is re-detected below and merged into meta.
    # Legacy indexes keep splitting only the columns whose _extra
    # already exists (a mixed-schema dir reads nondeterministically).
    mv_cols = (
        None
        if new_layout
        else [c[: -len("_extra")] for c in old_tok.columns if c.endswith("_extra")]
    )
    tokenized = tokenize(with_ids, cfg, multivalue_cols=mv_cols).withColumn(
        "segment_id", F.expr(f"doc_id DIV {seg_size}")
    ).withColumn("seg_group", F.expr(f"doc_id DIV {group_docs}"))
    n_out = max(spark.sparkContext.defaultParallelism // 2, 4)
    (
        tokenized.repartitionByRange(n_out, "doc_id")
        .write.mode("append")
        .partitionBy("seg_group")
        .parquet(_stage_dir(index_dir, "tokenized"))
    )
    release_dense_id_cache(stamped)
    # re-read the delta (stable lineage for the remaining stages)
    delta = spark.read.parquet(_stage_dir(index_dir, "tokenized")).filter(
        F.col("doc_id") >= base
    )

    new_stats = delta.select(
        "doc_id", "segment_id", "conv_id", "turn_idx", "role", "tool", "ts",
        "num_tokens",
    )
    if os.path.exists(_stage_dir(index_dir, "doc_stats")):
        # legacy index with a stored doc_stats table: keep it complete
        new_stats.write.mode("append").parquet(_stage_dir(index_dir, "doc_stats"))

    # ---- multivalue re-detection over the delta (new layout) ----------
    ann_cols = [
        c for c in delta.columns
        if c.startswith("ann_") and not c.endswith("_extra")
    ]
    if new_layout and ann_cols:
        agg = delta.agg(
            *[F.max(F.size(f"{c}_extra")).alias(c) for c in ann_cols]
        ).collect()[0]
        delta_mv = {c[len("ann_"):] for c in ann_cols if int(agg[c] or 0) > 0}
        meta["multivalue_anns"] = sorted(
            set(meta.get("multivalue_anns") or []) | delta_mv
        )

    # ---- delta postings (new segments only; term-string keyed) -------
    n_docs = meta["n_docs"] + delta.count()
    total_tokens = meta["total_tokens"] + int(
        delta.agg(F.sum("num_tokens")).collect()[0][0] or 0
    )
    avgdl = total_tokens / max(n_docs, 1)
    postings = encode_postings(
        delta, cfg, avgdl, legacy_layout=not new_layout
    ).withColumn("seg_group", F.expr(f"segment_id DIV {cfg.segments_per_dir}"))
    sort_cols = (
        ["segment_id", "field", "term"] if new_layout else ["segment_id", "term"]
    )
    (
        postings.sortWithinPartitions(*sort_cols)
        .write.mode("append")
        .partitionBy("seg_group")
        .parquet(_stage_dir(index_dir, "postings"))
    )

    # ---- terms merge with stable ids (stats from the delta blocks) ---
    terms_path = _stage_dir(index_dir, "terms")
    old_terms = spark.read.parquet(terms_path)
    keys = ["field", "term"] if "field" in old_terms.columns else ["term"]
    delta_stats = (
        spark.read.parquet(_stage_dir(index_dir, "postings"))
        .filter(F.col("min_doc") >= base)
        .groupBy(*keys)
        .agg(F.sum("n_docs").alias("df_new"), F.sum("sum_tf").alias("cf_new"))
    )
    carry_cols = [
        c for c in old_terms.columns if c not in (*keys, "df", "cf")
    ]
    joined = old_terms.join(delta_stats, keys, "full_outer")
    existing = joined.filter(F.col("term_id").isNotNull()).select(
        *keys,
        (F.col("df") + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
        (F.col("cf") + F.coalesce(F.col("cf_new"), F.lit(0))).alias("cf"),
        *carry_cols,
    )
    max_tid = int(old_terms.agg(F.max("term_id")).collect()[0][0])
    unseen = joined.filter(F.col("term_id").isNull()).select(
        *keys, F.col("df_new").alias("df"), F.col("cf_new").alias("cf")
    )
    unseen_stamped = with_dense_id(unseen, tuple(keys), "term_id")
    unseen = unseen_stamped.withColumn(
        "term_id", F.col("term_id") + F.lit(max_tid + 1)
    )
    for c in carry_cols:
        if c != "term_id":
            # legacy sort_pos_* columns: keep their term_id-alias shape
            unseen = unseen.withColumn(c, F.col("term_id"))
    merged = existing.unionByName(unseen.select(*existing.columns))
    tmp = terms_path + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    release_dense_id_cache(unseen_stamped)
    shutil.rmtree(terms_path)
    os.rename(tmp, terms_path)
    spark.catalog.refreshByPath(terms_path)
    terms = spark.read.parquet(terms_path)

    # ---- spans ----------------------------------------------------------
    # implicit per-turn spans are DERIVED from the tokenized table at
    # read time; only explicit inline-tag spans persist
    extra = None
    if extra_spans is not None:
        extra = extra_spans.join(
            delta.select("conv_id", "turn_idx", "doc_id"), ["conv_id", "turn_idx"]
        ).select(
            "doc_id",
            "tag",
            F.col("start").cast("int").alias("start"),
            F.col("end").cast("int").alias("end"),
            F.col("attrs").cast("map<string,string>").alias("attrs"),
        )
    if os.path.exists(_stage_dir(index_dir, "spans")):
        # legacy index with a stored full spans table: keep it complete
        spans = turn_spans(delta)
        if extra is not None:
            spans = spans.unionByName(extra)
        spans.write.mode("append").parquet(_stage_dir(index_dir, "spans"))
    elif extra is not None:
        extra.write.mode("append").parquet(_stage_dir(index_dir, "extra_spans"))

    _append_lineage(spark, index_dir, "add_documents", new_stats)
    meta.update(
        {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "n_terms": terms.count(),
            "generation": meta.get("generation", 0) + 1,
        }
    )
    _save_meta(index_dir, meta)
    return meta


def delete_documents(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> int:
    """Tombstone docs (liveDocs analogue). Takes a (doc_id) DataFrame;
    returns the number of live tombstones after the append. Commits a
    new generation; the bucketed FI stays valid, because readers
    anti-join the tombstones against it (Corpus.fi)."""
    meta = _load_meta(index_dir)
    path = _stage_dir(index_dir, "deletes")
    doc_ids.select(F.col("doc_id").cast("long")).distinct().write.mode(
        "append"
    ).parquet(path)
    n = spark.read.parquet(path).distinct().count()
    gen = meta.get("generation", 0)
    if meta.get("fi_generation", 0) == gen:
        meta["fi_generation"] = gen + 1
    meta["generation"] = gen + 1
    _save_meta(index_dir, meta)
    return n


def load_deletes(spark: SparkSession, index_dir: str) -> DataFrame | None:
    path = _stage_dir(index_dir, "deletes")
    if not os.path.exists(path):
        return None
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    return df.distinct()


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Merge tombstones into the index: rewrite ONLY segments that
    contain deleted docs, refresh terms df/cf + global stats, drop the
    tombstone table. Clean segments' files are untouched (the analogue
    of Lucene merging only segments with deletions)."""
    meta = _load_meta(index_dir)
    new_layout = "index_fields" in meta
    cfg = EngineConfig(
        k1=meta["k1"], b=meta["b"], segment_size=meta["segment_size"],
        block_size=meta["block_size"], token_pattern=meta["token_pattern"],
        segments_per_dir=meta.get("segments_per_dir", 64),
        index_fields=tuple(meta.get("index_fields", ("word@i",))),
    )
    deletes = load_deletes(spark, index_dir)
    if deletes is None or deletes.isEmpty():
        return meta
    tok_path = _stage_dir(index_dir, "tokenized")
    tokenized = spark.read.parquet(tok_path)
    dirty_rows = (
        tokenized.join(deletes, "doc_id", "leftsemi")
        .select("segment_id", "seg_group")
        .distinct()
        .collect()
    )
    dirty = sorted({int(r["segment_id"]) for r in dirty_rows})
    dirty_groups = sorted({int(r["seg_group"]) for r in dirty_rows})

    # rewrite dirty segments of the partitioned tokenized table;
    # legacy stored doc_stats/spans/extra_spans tables (unpartitioned)
    # get a whole-table anti-join rewrite; derived views need nothing
    for table in ("doc_stats", "spans", "extra_spans"):
        path = _stage_dir(index_dir, table)
        if not os.path.exists(path):
            continue
        keep = spark.read.parquet(path).join(deletes, "doc_id", "leftanti")
        tmp = path + ".tmp"
        keep.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
        spark.catalog.refreshByPath(path)
    for grp in dirty_groups:
        grp_dir = os.path.join(tok_path, f"seg_group={grp}")
        part = spark.read.parquet(grp_dir)
        keep = part.join(deletes, "doc_id", "leftanti")
        tmp = grp_dir + ".tmp"
        keep.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(grp_dir)
        os.rename(tmp, grp_dir)
    # swapped partition dirs: drop the shared file-status cache entries
    # (a later scan would otherwise try the removed files)
    spark.catalog.refreshByPath(tok_path)

    tokenized = spark.read.parquet(tok_path)
    agg = tokenized.agg(
        F.count(F.lit(1)).alias("n"), F.sum("num_tokens").alias("tt")
    ).collect()[0]
    n_docs, total_tokens = int(agg["n"]), int(agg["tt"] or 0)
    avgdl = total_tokens / max(n_docs, 1)

    # re-encode dirty segments, then refresh terms stats FROM the
    # blocks (stable term_ids; vanished terms drop out)
    post_path = _stage_dir(index_dir, "postings")
    tokenized = spark.read.parquet(tok_path)  # re-read: dirty groups rewritten
    # rewrite each dirty GROUP dir: clean segments' block rows carry
    # over unchanged; dirty segments are re-encoded from the forward
    # index (which no longer contains the deleted docs)
    dirty_tok = tokenized.filter(F.col("segment_id").isin(dirty))
    new_posts = encode_postings(
        dirty_tok, cfg, avgdl, legacy_layout=not new_layout
    ).withColumn("seg_group", F.expr(f"segment_id DIV {cfg.segments_per_dir}"))
    tmp = post_path + ".rewrite"
    old_posts = spark.read.parquet(post_path)
    carry = old_posts.filter(
        F.col("seg_group").isin(dirty_groups) & ~F.col("segment_id").isin(dirty)
    )
    sort_cols = (
        ["segment_id", "field", "term"] if new_layout else ["segment_id", "term"]
    )
    carry.unionByName(new_posts.select(*carry.columns)).sortWithinPartitions(
        *sort_cols
    ).write.mode("overwrite").partitionBy("seg_group").parquet(tmp)
    for grp in dirty_groups:
        grp_dir = os.path.join(post_path, f"seg_group={grp}")
        shutil.rmtree(grp_dir, ignore_errors=True)
        src = os.path.join(tmp, f"seg_group={grp}")
        if os.path.exists(src):
            os.rename(src, grp_dir)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.refreshByPath(post_path)

    terms_path = _stage_dir(index_dir, "terms")
    old_terms = spark.read.parquet(terms_path)
    keys = ["field", "term"] if "field" in old_terms.columns else ["term"]
    fresh = (
        spark.read.parquet(post_path)
        .groupBy(*keys)
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
    )
    merged = old_terms.drop("df", "cf").join(fresh, keys, "inner")
    tmp = terms_path + ".tmp"
    merged.select(*old_terms.columns).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(terms_path)
    os.rename(tmp, terms_path)
    spark.catalog.refreshByPath(terms_path)
    terms = spark.read.parquet(terms_path)

    shutil.rmtree(_stage_dir(index_dir, "deletes"), ignore_errors=True)
    _append_lineage(
        spark, index_dir, "compact",
        tokenized.select("doc_id", "segment_id", "num_tokens"),
    )
    meta.update(
        {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "n_terms": terms.count(),
            "generation": meta.get("generation", 0) + 1,
        }
    )
    _save_meta(index_dir, meta)
    return meta

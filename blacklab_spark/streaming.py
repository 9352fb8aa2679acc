"""Structured-Streaming ingestion: live transcript streams feed the
incremental index.

The reference is batch-index + interactive-query; its nearest live
feature is add/delete of documents on an open index
(reference index/IndexerImpl.java, TestDeleteDocument.java). Here the
same incremental machinery (index.incremental.add_documents — fresh
write-once segments, Lucene-style) becomes the sink of a Structured
Streaming query:

    readStream(transcript source) -> foreachBatch(add_documents)

Each micro-batch appends whole segments and commits a new index
generation through meta.json; an open Corpus sees the new docs on its
next access after the batch commits (it stats meta.json on every
access and rebuilds its per-generation state, table handles included).
Exactly-once at the segment level comes from the streaming
checkpoint: a replayed batch re-runs add_documents with the same rows,
and doc ids are re-derived from (conv_id, turn_idx), so re-appended
conversations are detectable via lineage generations.

Scale notes: the per-batch work is the incremental build itself (no
shuffle in the posting encode; dense ids per batch are batch-local),
so stream throughput equals incremental-build throughput. Watermarks /
event-time windows are NOT needed — indexing is order-insensitive
(positions are intra-turn) — but a `withWatermark` pass-through is
accepted for sources that need state cleanup upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "parquet",
) -> DataFrame:
    """readStream over a growing directory of transcript files (the
    Iceberg-append analogue available in this sandbox)."""
    return (
        spark.readStream.format(fmt)
        .schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .load(source_dir)
    )


def index_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Attach the incremental index build as the stream's sink.

    Returns the started StreamingQuery. With
    ``trigger_available_now`` (default) the query drains everything
    currently in the source and stops — the batch-friendly mode used
    in tests and backfills; pass False for a continuous 30s-trigger
    stream."""
    from blacklab_spark.index.incremental import add_documents

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        add_documents(batch_df.sparkSession, index_dir, batch_df)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()

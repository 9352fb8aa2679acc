"""Index inspection / export utilities — the analogue of the reference's
testutil + performance tool set, re-expressed as single DataFrame jobs:

  count-tokens            reference tools/.../testutil/CountTokens.java
                          (per-doc loop over the length field -> one agg)
  export-corpus           testutil/ExportCorpus.java (content store ->
                          one file per doc; --parquet = distributed export)
  export-metadata         testutil/ExportMetadata.java (docId + metadata
                          TSV with tab escaping)
  field-values            testutil/GetFieldValues.java (sorted distinct
                          metadata values per field)
  reconstruct-term-vector testutil/ReconstructTermVector.java (rebuild a
                          doc's token sequence FROM THE INVERTED INDEX —
                          proves postings invertibility)
  run-term-query          testutil/RunTermQuery.java (docs + freqs +
                          positions for one term)
  tokens-per-meta-value   testutil/TokensPerMetaValue.java
                          (field\tvalue\tnumberOfDocs\tnumberOfTokens)
  doc-contents            testutil/GetDocFromContentStore.java
  export-fi               performance/ExportForwardIndex.java
  batch-fi                performance/BatchForwardIndex.java (timed batch
                          of random (doc, start, len) context fetches —
                          ONE join job, not a per-probe loop)
  batch-cs                performance/BatchContentStore.java (timed batch
                          of random content retrievals)

Usage: python tools/corpus_util.py <cmd> <index_dir> [args...]

Every command is one (or two) Spark jobs over the index tables; the
per-doc loops of the reference tools become aggregations/joins, so the
same commands hold at cluster scale. Driver-side iteration only streams
final output rows (toLocalIterator), never materializes the corpus.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

META_FIELDS = ("conv_id", "turn_idx", "role", "tool")


def _open(index_dir: str, cpus: int | None = None):
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.session import get_spark

    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("corpus-util", cpus=n, shuffle_partitions=n)
    return spark, Corpus.open(spark, index_dir)


def count_tokens(index_dir: str, *argv: str) -> int:
    """Total live docs + tokens. Reference CountTokens.java iterates all
    docs reading the length field; here it is one agg over doc_stats
    (tombstones already applied by the accessor)."""
    _, corpus = _open(index_dir)
    row = corpus.doc_stats.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("num_tokens").alias("tokens"),
    ).collect()[0]
    print(f"Processing {row['docs']} docs...")
    print(f"Total tokens: {row['tokens']}")
    return 0


def export_corpus(index_dir: str, export_dir: str, *argv: str) -> int:
    """Reconstruct every document from the content store. Default mirrors
    ExportCorpus.java (one .txt/.xml file per doc, driver-streamed);
    --parquet writes a distributed (doc_id, content) export instead —
    the shape you'd use at 100 TB."""
    spark, corpus = _open(index_dir)
    src = corpus.tokenized
    content = F.col("xml_text") if "xml_text" in src.columns else F.col("text")
    df = src.select("doc_id", content.alias("content"))
    if "--parquet" in argv:
        df.write.mode("overwrite").parquet(export_dir)
        print(f"Exported {corpus.meta['n_docs']} docs to {export_dir} (parquet)")
        return 0
    os.makedirs(export_dir, exist_ok=True)
    n = 0
    for r in df.toLocalIterator():
        body = r["content"] or ""
        ext = "xml" if body.lstrip().startswith("<") else "txt"
        with open(os.path.join(export_dir, f"doc{r['doc_id']}.{ext}"), "w") as f:
            f.write(body)
        n += 1
    print(f"Exported {n} docs to {export_dir}")
    return 0


def export_metadata(index_dir: str, out_file: str, *argv: str) -> int:
    """docId + metadata fields as TSV, tabs escaped like
    ExportMetadata.escapeTabs (ExportMetadata.java:20-22)."""
    _, corpus = _open(index_dir)
    fields = [c for c in META_FIELDS if c in corpus.doc_stats.columns]
    df = corpus.doc_stats.select("doc_id", *fields).orderBy("doc_id")
    with open(out_file, "w") as f:
        f.write("\t".join(["docId", *fields]) + "\n")
        for r in df.toLocalIterator():
            vals = [str(r[c]).replace("\t", "\\t") for c in ["doc_id", *fields]]
            f.write("\t".join(vals) + "\n")
    print(f"Wrote metadata for index to {out_file}")
    return 0


def field_values(index_dir: str, *fields: str) -> int:
    """Sorted distinct values of the given metadata fields
    (GetFieldValues.java collects per-doc values into a TreeSet; ours is
    one distinct per field, output sorted)."""
    _, corpus = _open(index_dir)
    if not fields:
        print("Usage: field-values <index_dir> <fieldName1> ...")
        return 1
    for fld in fields:
        if fld not in corpus.doc_stats.columns:
            print(f"### {fld}:\n(unknown field)")
            continue
        vals = [
            r[fld]
            for r in corpus.doc_stats.select(fld).distinct().orderBy(fld).collect()
        ]
        print(f"### {fld}:")
        for v in vals:
            print(v)
    return 0


def reconstruct_term_vector(
    index_dir: str, doc_id: str = "0", first: str = "0",
    number: str = "100", field: str = "word@i", *argv: str,
) -> int:
    """Rebuild a document's token sequence purely from the inverted
    index (ReconstructTermVector.java walks every term's postings
    looking for the doc). Here: block-pruned postings scan -> vectorized
    decode keeping (term, position) for the one doc -> order by position.
    Prints `pos: term`, '[' for positions the window misses."""
    import numpy as np
    import pyarrow as pa

    from blacklab_spark.index import codec

    doc, lo, num = int(doc_id), int(first), int(number)
    spark, corpus = _open(index_dir)
    posts = corpus.postings_for(field).filter(
        (F.col("min_doc") <= doc) & (F.col("max_doc") >= doc)
    )

    def decode(batches):
        for batch in batches:
            dids, offs = codec.varint_decode(batch.column("doc_ids"), "row")
            tf, _ = codec.varint_decode(batch.column("freqs"))
            pos, _ = codec.varint_decode(batch.column("positions"), tf)
            block_row = np.repeat(np.arange(batch.num_rows), np.diff(offs))
            hit = np.repeat(dids == doc, tf)
            yield pa.RecordBatch.from_arrays(
                [batch.column("term").take(np.repeat(block_row, tf)[hit]),
                 pos[hit].astype(np.int32)],
                names=["term", "pos"],
            )

    rows = (
        posts.select("term", "doc_ids", "freqs", "positions")
        .mapInArrow(decode, "term string, pos int")
        .filter((F.col("pos") >= lo) & (F.col("pos") < lo + num))
        .orderBy("pos")
        .collect()
    )
    by_pos = {r["pos"]: r["term"] for r in rows}
    hi = max(by_pos) + 1 if by_pos else lo
    for p in range(lo, min(lo + num, hi)):
        print(f"{p}: {by_pos.get(p, '[')}")
    return 0


def run_term_query(index_dir: str, word: str = "the",
                   field: str = "word@i", *argv: str) -> int:
    """Docs, frequencies and hit positions for one term
    (RunTermQuery.java prints doc list then per-doc spans)."""
    from blacklab_spark.search.spans import term_hits

    spark, corpus = _open(index_dir)
    sens = field.endswith("@s")
    ann = field.split("@", 1)[0]
    ann = "word" if ann in ("", "word") else ann
    hits = term_hits(corpus, word, annotation=ann, sensitive=sens)
    per_doc = (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("freq"),
             F.sort_array(F.collect_list("start")).alias("positions"))
        .orderBy("doc_id")
        .collect()
    )
    print(f'Term query: "{word}" in field {field}')
    if not per_doc:
        print(" (no matching docs)")
        return 0
    total = sum(r["freq"] for r in per_doc)
    print(f"{total} hits in {len(per_doc)} docs")
    for r in per_doc:
        pos = " ".join(str(p) for p in r["positions"])
        print(f" doc {r['doc_id']}: {r['freq']} hits @ {pos}")
    return 0


def tokens_per_meta_value(index_dir: str, *fields: str) -> int:
    """Docs + tokens per metadata value, every metadata field by default
    (TokensPerMetaValue.java prints the same four-column TSV)."""
    _, corpus = _open(index_dir)
    flds = list(fields) or [
        c for c in META_FIELDS if c in corpus.doc_stats.columns
    ]
    # one scan: unpivot field/value pairs, then a single groupBy
    ds = corpus.doc_stats
    pairs = ds.select(
        "num_tokens",
        F.explode(
            F.array(*[
                F.struct(F.lit(f).alias("field"),
                         F.col(f).cast("string").alias("value"))
                for f in flds
            ])
        ).alias("fv"),
    ).select("num_tokens", "fv.field", "fv.value")
    rows = (
        pairs.groupBy("field", "value")
        .agg(F.count(F.lit(1)).alias("numberOfDocs"),
             F.sum("num_tokens").alias("numberOfTokens"))
        .orderBy("field", "value")
        .collect()
    )
    print("field\tvalue\tnumberOfDocs\tnumberOfTokens")
    for r in rows:
        print(f"{r['field']}\t{r['value']}\t{r['numberOfDocs']}\t{r['numberOfTokens']}")
    return 0


def doc_contents(index_dir: str, doc_id: str = "0", *argv: str) -> int:
    """Print one doc from the content store (GetDocFromContentStore.java)."""
    _, corpus = _open(index_dir)
    body = corpus.doc_contents(int(doc_id))
    print(body if body is not None else f"(doc {doc_id} not found)")
    return 0


def export_fi(index_dir: str, out_dir: str, *argv: str) -> int:
    """Dump the forward index: (doc_id, token...) rows, distributed
    parquet (ExportForwardIndex.java prints terms per doc)."""
    _, corpus = _open(index_dir)
    corpus.context_store.select("doc_id", "tokens").write.mode(
        "overwrite"
    ).parquet(out_dir)
    print(f"Exported forward index to {out_dir}")
    return 0


def _probe_frame(spark, n_docs: int, n_probes: int, seed: int = 17):
    """Deterministic pseudo-random probe set built ON the cluster —
    no driver-side randomness, no Date.now dependence."""
    return spark.range(n_probes).select(
        (F.xxhash64(F.col("id") + seed) % n_docs).alias("doc_id"),
        (F.abs(F.xxhash64(F.col("id") + seed + 1)) % 64).alias("start"),
    ).withColumn("doc_id", F.abs(F.col("doc_id")))


def batch_fi(index_dir: str, n_probes: str = "10000",
             ctx: str = "5", *argv: str) -> int:
    """BatchForwardIndex.java analogue: N random context snippet fetches
    through the forward index, timed. The reference loops fi.retrieve
    per probe; ours is ONE join of the probe frame against the bucketed
    FI (no exchange on the FI side when bucketed) + a codegen slice."""
    n, c = int(n_probes), int(ctx)
    spark, corpus = _open(index_dir)
    probes = _probe_frame(spark, corpus.meta["n_docs"], n)
    fi = corpus.context_store.select("doc_id", "tokens")
    t0 = time.time()
    got = (
        probes.join(fi, "doc_id")
        .select(F.slice("tokens", F.col("start") + 1, c).alias("ctx"))
        .agg(F.sum(F.size("ctx")).alias("toks"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    dt = time.time() - t0
    print(f"{got['n']} forward-index snippet fetches ({got['toks']} tokens) "
          f"in {dt:.2f}s = {got['n'] / dt:.0f} lookups/s")
    return 0


def batch_cs(index_dir: str, n_probes: str = "10000", *argv: str) -> int:
    """BatchContentStore.java analogue: N random content retrievals as
    one join, reporting retrievals/s and bytes touched."""
    n = int(n_probes)
    spark, corpus = _open(index_dir)
    probes = _probe_frame(spark, corpus.meta["n_docs"], n).select("doc_id")
    cs = corpus.tokenized.select("doc_id", "text")
    t0 = time.time()
    got = (
        probes.join(cs, "doc_id")
        .agg(F.sum(F.length("text")).alias("chars"),
             F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    dt = time.time() - t0
    print(f"{got['n']} content retrievals ({got['chars']} chars) "
          f"in {dt:.2f}s = {got['n'] / dt:.0f} docs/s")
    return 0


COMMANDS = {
    "count-tokens": count_tokens,
    "export-corpus": export_corpus,
    "export-metadata": export_metadata,
    "field-values": field_values,
    "reconstruct-term-vector": reconstruct_term_vector,
    "run-term-query": run_term_query,
    "tokens-per-meta-value": tokens_per_meta_value,
    "doc-contents": doc_contents,
    "export-fi": export_fi,
    "batch-fi": batch_fi,
    "batch-cs": batch_cs,
}


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] not in COMMANDS:
        names = "\n  ".join(sorted(COMMANDS))
        print(f"Usage: corpus_util.py <command> <index_dir> [args...]\n"
              f"Commands:\n  {names}")
        return 1
    return COMMANDS[argv[0]](*argv[1:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""spark-submit job: training-data cleaning pass over a documents table.

    spark-submit --py-files dist/blacklab_spark.zip jobs/clean_corpus.py \
        --input <parquet dir with (doc_id, text)> \
        --output <parquet dir> \
        [--min-quality 800] [--langs en,de] \
        [--neardup]   # additionally drop MinHash-LSH near-duplicates

One single-scan job: exact dedup + quality gate + language gate
(pipeline/clean.py); with --neardup, surviving docs also go through the
MinHash-LSH candidate + n-gram-Jaccard verify chain (pipeline/dedup.py)
and the lower doc_id of each verified near-dup pair is kept.
"""

from __future__ import annotations

import argparse
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=int, default=800)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--neardup", action="store_true")
    ap.add_argument("--jaccard", type=float, default=0.8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from blacklab_spark.pipeline.clean import clean_corpus
    from blacklab_spark.session import submitted_spark

    spark = submitted_spark("blacklab-clean")
    docs = spark.read.parquet(args.input)

    t0 = time.time()
    kept = clean_corpus(
        docs, min_quality=args.min_quality,
        langs=tuple(args.langs.split(",")),
    )
    if args.neardup:
        from blacklab_spark.pipeline.dedup import ngram_jaccard

        survivors = docs.join(kept.select("doc_id"), "doc_id", "leftsemi")
        pairs = ngram_jaccard(survivors, threshold=args.jaccard)
        # drop the larger doc_id of each verified pair
        losers = pairs.select(
            F.greatest("doc_a", "doc_b").alias("doc_id")
        ).distinct()
        kept = kept.join(losers, "doc_id", "leftanti")

    out = docs.join(kept, "doc_id", "leftsemi")
    out.write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    print(
        f"clean_corpus: kept {n_out}/{n_in} docs "
        f"({100.0 * n_out / max(n_in, 1):.1f}%) in {time.time() - t0:.1f}s"
    )


if __name__ == "__main__":
    main()

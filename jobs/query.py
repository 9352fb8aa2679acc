"""spark-submit job: run top-k BM25 and/or CQL queries against an index.

    spark-submit --py-files dist/blacklab_spark.zip jobs/query.py \
        --index <index dir> \
        [--topk "term1 term2" ...] [--k 10] \
        [--cql '"the" "quick"' ...] \
        [--output <parquet dir>]   # else print to stdout

Batched: all --topk queries run as ONE Spark job (per-segment
multi-query kernel), the BlackLab-Server analogue of answering a
request batch without per-query driver round-trips.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--topk", action="append", default=[])
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--cql", action="append", default=[])
    ap.add_argument("--output", default=None)
    args = ap.parse_args()

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.session import submitted_spark

    spark = submitted_spark("blacklab-query")
    corpus = Corpus.open(spark, args.index)

    t0 = time.time()
    if args.topk:
        res = corpus.batch_topk(args.topk, k=args.k)
        if args.output:
            res.write.mode("overwrite").parquet(args.output + "/topk")
        else:
            for r in res.collect():
                print(json.dumps({k: r[k] for k in res.columns}, default=str))
    for i, q in enumerate(args.cql):
        hits = corpus.find(q).df
        if args.output:
            hits.write.mode("overwrite").parquet(f"{args.output}/cql_{i}")
        else:
            print(json.dumps({"cql": q, "hits": hits.count()}))
    print(json.dumps({"total_s": round(time.time() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()

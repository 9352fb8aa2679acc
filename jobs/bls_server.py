"""spark-submit job: serve built indexes over the BlackLab-Server REST
protocol (reference server/ webapp, RequestHandler.java:54-73 routes):

    spark-submit --py-files dist/blacklab_spark.zip jobs/bls_server.py \
        [--port 8080] [--host 0.0.0.0] [--cpus N] [--user-dir DIR] \
        [--trust-user-header] NAME=INDEX_DIR ...

Each NAME=INDEX_DIR pair mounts one index at /NAME (so
`GET /NAME/hits?patt="word"` etc.). Pure-stdlib HTTP in front of the
engine's JSON envelopes — one long-lived SparkSession shared by all
requests; concurrent requests become concurrent Spark jobs.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--cpus", type=int, default=0)
    ap.add_argument("--user-dir", default=None,
                    help="directory for user-created corpora; enables "
                         "POST / (create), POST /<corpus>/docs (upload), "
                         "DELETE /<corpus>, /input-formats management")
    ap.add_argument("--trust-user-header", action="store_true",
                    help="take the user id from the X-BlackLab-User "
                         "header; only behind a proxy that "
                         "authenticates users and sets it")
    ap.add_argument("mounts", nargs="*", metavar="NAME=INDEX_DIR")
    args = ap.parse_args()

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.search.webservice import serve
    from blacklab_spark.session import get_spark

    spark = get_spark("bls-server", cpus=args.cpus or None)
    corpora = {}
    for m in args.mounts:
        name, _, path = m.partition("=")
        if not path:
            ap.error(f"mount must be NAME=INDEX_DIR, got {m!r}")
        corpora[name] = Corpus.open(spark, path)
        print(f"mounted /{name} <- {path}")

    if not corpora and not args.user_dir:
        ap.error("mount at least one NAME=INDEX_DIR or pass --user-dir")
    srv = serve(corpora, port=args.port, host=args.host,
                user_dir=args.user_dir, spark=spark,
                trust_user_header=args.trust_user_header)
    print(f"listening on http://{args.host}:{srv.server_address[1]}/")
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()

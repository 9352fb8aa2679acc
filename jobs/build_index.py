"""spark-submit job: build (or resume) the inverted index.

    spark-submit --py-files dist/blacklab_spark.zip jobs/build_index.py \
        --input  <transcripts table: parquet path or catalog table,
                  OR raw files when --format is given> \
        --index  <index dir (shared storage on a real cluster)> \
        --resume            # skip stages with a _STAGE_DONE marker
        [--format FMT]      # ingest raw files: txt/csv/tsv/tsv-frog/
                            # jsonl/chat/sketch-wpl, any XML format,
                            # or a convert/tag plugin format (md,
                            # md-tagged, register_plugin_format)
                            # (tei-p5[-legacy]/tei-p4-legacy/folia/naf/
                            # eaf/tcf/cmdi), or a .blf.yaml config path
        [--segment-size N] [--block-size N]

Without --format the input must already have the transcript shape
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp); with it, files are parsed distributed (the IndexTool /
DocIndexerFactory analogue — one parse shared between the token and
span extractions for XML formats). On a cluster the SparkSession comes
from spark-submit's conf (master/executors set there); standalone runs
fall back to local mode. Checkpointed stages + per-partition lineage
in `segments_meta` make a killed build resumable with `--resume`
(north rule).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


# standalone runs (no --py-files): the repo root is the package home
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or table name")
    ap.add_argument("--index", required=True, help="index output directory")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--format", dest="fmt", default=None)
    ap.add_argument("--segment-size", type=int, default=1 << 13)
    ap.add_argument("--block-size", type=int, default=128)
    args = ap.parse_args()

    from blacklab_spark.config import EngineConfig
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.session import submitted_spark

    spark = submitted_spark("blacklab-build-index")
    src = args.input
    extra_spans = None
    if args.fmt:
        from blacklab_spark.index.xml_ingest import (
            FORMATS, load_blf_config, parse_xml_files, read_xml, xml_spans,
        )

        fmt = args.fmt
        if fmt.endswith((".yaml", ".yml")):
            fmt = load_blf_config(fmt)
        if not isinstance(fmt, str) or fmt in FORMATS:
            # XML engine format: parse each file ONCE, share between
            # the token and span extractions
            parsed = parse_xml_files(spark, src, fmt, keep_xml=True)
            parsed.persist()
            transcripts = read_xml(spark, src, fmt, parsed=parsed,
                                   keep_xml=True)
            extra_spans = xml_spans(spark, src, fmt, parsed=parsed)
        else:
            from blacklab_spark.index.ingest import read_input

            transcripts = read_input(spark, src, fmt)
    elif src.endswith(".parquet") or "/" in src:
        transcripts = spark.read.parquet(src)
    else:
        transcripts = spark.read.table(src)

    t0 = time.time()
    corpus = Corpus.build(
        spark,
        transcripts,
        args.index,
        EngineConfig(segment_size=args.segment_size, block_size=args.block_size),
        resume=args.resume,
        extra_spans=extra_spans,
    )
    dt = time.time() - t0
    n_docs = corpus.meta["n_docs"]
    print(
        json.dumps(
            {
                "index": args.index,
                "n_docs": n_docs,
                "build_s": round(dt, 2),
                "turns_per_sec": round(n_docs / dt, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit job: frequency lists over annotations × metadata —
the FrequencyTool analogue (reference tools/.../frequency/
FrequencyTool.java:52-56; config format + CLI shape mirror
tools/.../frequency/README.md):

    spark-submit --py-files dist/blacklab_spark.zip jobs/frequency_tool.py \
        [--json] [--gzip] INDEX_DIR CONFIG_FILE [OUTPUT_DIR]

Each configured list writes one directory of TSV part-files
(annotation values..., metadata values..., frequency — the reference's
TSV column order) or JSON lines with --json; --gzip compresses parts.
Output is a distributed write, not a driver-side merge: at 10^12
tokens a frequency list can itself be billions of rows.
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
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--gzip", action="store_true")
    ap.add_argument("index_dir")
    ap.add_argument("config_file")
    ap.add_argument("output_dir", nargs="?", default=".")
    args = ap.parse_args()

    import yaml
    from pyspark.sql import SparkSession

    from blacklab_spark.corpus import Corpus
    from blacklab_spark.search.frequency import frequency_lists

    with open(args.config_file) as f:
        config = yaml.safe_load(f)

    from blacklab_spark.session import get_spark, submitted_spark

    # under spark-submit an active/configured session exists; a bare
    # standalone run falls back to the project's local session (proper
    # driver memory — the default 1g heap OOMs on real corpora)
    active = SparkSession.getActiveSession()
    if active is not None or os.environ.get("SPARK_ENV_LOADED"):
        spark = submitted_spark("frequency-tool")
    else:
        spark = get_spark("frequency-tool")
    corpus = Corpus.open(spark, args.index_dir)
    for name, df in frequency_lists(corpus, config).items():
        out = os.path.join(args.output_dir, name)
        w = df.write.mode("overwrite")
        if args.gzip:
            w = w.option("compression", "gzip")
        if args.json:
            w.json(out)
        else:
            w.option("sep", "\t").csv(out)
        print(f"wrote {out}")


if __name__ == "__main__":
    main()

"""spark-submit entry point: run (or resume) the extraction pipeline.

    spark-submit --py-files pdf_ai_mapper_spark.zip \
        scripts/run_pipeline.py <input> <output_path> [options]

Options:
    --warc              input is a directory of *.warc(.gz) files
                        (default: web_pages-shaped parquet)
    --warc-index PATH   offset-index sidecar (build_warc_index parquet)
                        — REQUIRED for files over 2 GiB (binaryFile
                        caps whole-file reads at Int.MaxValue)
    --build-warc-index PATH
                        build + persist the sidecar to PATH and exit
    --incremental       append-mode batch with content dedup against
                        the committed output (exactly-once counters)
    --bloom             size the incremental anti-join from the
                        committed hashes: a capped collect broadcasts
                        them when they fit
                        spark.sql.autoBroadcastJoinThreshold; else a
                        count sizes a bloom pre-split, else the plain
                        join
    --preprocess-mode {deterministic,nltk}
                        NLTK-present stopwords/tokenizer (default:
                        deterministic byte-identity path)

Reads the input, runs doctype sniff → extract → preprocess → md5 →
dedup, writes bucketed parquet with per-bucket lineage, resuming from
the last committed bucket set. Prints one JSON line of run stats.

The session takes the cluster settings of ``session.cluster_spark_conf``
(speculation, decommissioning, shuffle retries), leaves the master to
spark-submit, and keeps Spark's parallel table listing.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys

from pyspark.sql import SparkSession


def session_builder() -> SparkSession.Builder:
    """The entry point's session builder: the app name and
    ``cluster_spark_conf``; no master, which spark-submit sets."""
    from pdf_ai_mapper_spark.session import cluster_spark_conf
    return (SparkSession.builder.appName('pdf-ai-mapper-extract')
            .config(map=cluster_spark_conf()))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(usage=__doc__)
    ap.add_argument('input')
    ap.add_argument('output', nargs='?')
    ap.add_argument('--warc', action='store_true')
    ap.add_argument('--warc-index', default=None)
    ap.add_argument('--build-warc-index', default=None)
    ap.add_argument('--incremental', action='store_true')
    ap.add_argument('--bloom', action='store_true')
    ap.add_argument('--preprocess-mode', default='deterministic',
                    choices=['deterministic', 'nltk'])
    args = ap.parse_args(argv[1:])

    from pdf_ai_mapper_spark.config import DEFAULT_CONFIG
    from pdf_ai_mapper_spark.pipeline import run_extraction

    spark = session_builder().getOrCreate()
    spark.conf.set('spark.sql.session.timeZone', 'UTC')

    if args.build_warc_index:
        from pdf_ai_mapper_spark.sources.warc import build_warc_index
        build_warc_index(spark, args.input).write.mode('overwrite') \
            .parquet(args.build_warc_index)
        print(json.dumps({'warc_index': args.build_warc_index}))
        spark.stop()
        return 0

    if not args.output:
        ap.error('output_path required')
    if args.warc:
        from pdf_ai_mapper_spark.sources.warc import read_warc
        input_df = read_warc(spark, args.input, index=args.warc_index)
    else:
        input_df = spark.read.parquet(args.input)

    cfg = dataclasses.replace(DEFAULT_CONFIG,
                              preprocess_mode=args.preprocess_mode)
    stats = run_extraction(spark, input_df, args.output, cfg,
                           dedup_against_output=args.incremental,
                           bloom_prefilter=args.bloom)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))

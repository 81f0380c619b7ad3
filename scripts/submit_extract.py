#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster usage (the north rule's deployment path):

    cd /root/repo && zip -r /tmp/crrf_det_spark.zip crrf_det_spark
    spark-submit --py-files /tmp/crrf_det_spark.zip \
        scripts/submit_extract.py \
        --input  <transcripts parquet/iceberg path> \
        --output <extraction sink path> \
        [--buckets 64] [--json-sink <path>]

Local smoke (this sandbox):

    python scripts/submit_extract.py --master 'local[8]' \
        --input /tmp/crrf_bench_transcripts --output /tmp/extract_out

The job is idempotent and resumable: completed buckets are skipped on
restart (see crrf_det_spark.pipeline.run_resumable_extraction).  A lineage
table (per-partition row/segment/byte counts) is written next to the
output.  On a real cluster, run at N and 4N executors with identical args
to evidence the scaling criterion.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--json-sink", default=None)
    p.add_argument("--master", default=None,
                   help="override master for local runs (spark-submit sets it on a cluster)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("crrf_extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from crrf_det_spark.pipeline import (
        lineage,
        run_resumable_extraction,
        write_segments_json,
    )

    transcripts = spark.read.parquet(args.input)
    done = run_resumable_extraction(
        spark, transcripts, args.output, n_buckets=args.buckets
    )
    print(f"processed {len(done)} buckets -> {args.output}")

    out = spark.read.parquet(args.output)
    lineage(out).write.mode("overwrite").parquet(
        args.output.rstrip("/") + "_lineage"
    )
    n = out.count()
    print(f"extraction rows: {n}")

    if args.json_sink:
        # from the sink just written, not a second kernel pass
        write_segments_json(out, args.json_sink)
        print(f"json sink -> {args.json_sink}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

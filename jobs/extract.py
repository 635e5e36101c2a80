"""spark-submit entry point for the extraction job (SURVEY.md §3.4).

    spark-submit --py-files nreadability_spark.zip jobs/extract.py \
        --source /path/or/table --out /path/or/table --run-id run42 \
        [--iceberg] [--buckets 256] [--no-resume] [--no-html] \
        [--offset-strategy window|two_phase]

Reads parquet paths by default; with --iceberg the source/out are
catalog table names (requires the Iceberg runtime on the cluster
classpath — see nreadability_spark/sources/iceberg.py).

Prints one JSON line of run metrics (rows, wall sec, buckets written,
and the observed extracted_rows, chars and errors).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--iceberg", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-html", action="store_true")
    ap.add_argument("--offset-strategy", choices=("window", "two_phase"), default="window")
    ap.add_argument("--arrow-batch-rows", type=int, default=512)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from nreadability_spark.plans.extract_job import run_extract_job, tune_session

    spark = SparkSession.builder.appName("nreadability-extract").getOrCreate()
    tune_session(spark, arrow_batch_rows=args.arrow_batch_rows)

    if args.iceberg:
        source_df = spark.read.table(args.source)
    else:
        source_df = spark.read.parquet(args.source)

    if args.iceberg:
        # production path: atomic per-partition replacement
        from nreadability_spark.plans.extract_job import extract_transcripts
        from nreadability_spark.sources.iceberg import write_overwrite_partitions

        extracted = extract_transcripts(
            source_df,
            include_html=not args.no_html,
            conv_offset_strategy=args.offset_strategy,
        )
        write_overwrite_partitions(extracted, args.out)
        metrics = {"run_id": args.run_id, "table": args.out}
    else:
        metrics = run_extract_job(
            spark,
            source_df,
            args.out,
            run_id=args.run_id,
            n_buckets=args.buckets,
            include_html=not args.no_html,
            resume=not args.no_resume,
            conv_offset_strategy=args.offset_strategy,
        )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()

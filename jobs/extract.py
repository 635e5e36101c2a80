"""spark-submit entry point for the extraction job (SURVEY.md §3.4).

    spark-submit --py-files nreadability_spark.zip jobs/extract.py \
        --source /path/to/transcripts.parquet --out /path/to/out \
        [--run-id run42] [--buckets 256] [--no-resume] [--no-html]

Reads the source as parquet and runs ``run_extract_job``: a bucketed,
lineage-committed parquet write under ``--out``, resumable unless
``--no-resume``.

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
    from nreadability_spark.sources.lineage import N_BUCKETS

    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=N_BUCKETS)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-html", action="store_true")
    args = ap.parse_args()

    from nreadability_spark.plans.extract_job import run_extract_job
    from nreadability_spark.session import get_spark

    spark = get_spark(app_name="nreadability-extract")
    metrics = run_extract_job(
        spark,
        spark.read.parquet(args.source),
        args.out,
        run_id=args.run_id,
        n_buckets=args.buckets,
        include_html=not args.no_html,
        resume=not args.no_resume,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point for the corpus-preparation pipeline.

    spark-submit --py-files nreadability_spark.zip jobs/clean_corpus.py \
        --sf-dir /root/testdata/sf0.01 --out /path/out \
        [--stage clean|training_ready]

Runs the composed pipeline over the documents table at ``--sf-dir``:

- ``clean`` — quality gate (``pipeline.MIN_TOKENS``) + exact dedup + near-dup prune
  (``plans.pipeline.clean_corpus``);
- ``training_ready`` (default) — the above, then eval-slice exclusion,
  contamination filtering, and deterministic split assignment
  (``plans.pipeline.training_ready``) — the rows a training job reads.

Output is parquet partitioned by ``split`` (training jobs read one
split directory); prints one JSON metrics line (per-split row counts,
wall seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", choices=("clean", "training_ready"), default="training_ready")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nreadability_spark.plans.pipeline import clean_corpus, training_ready
    from nreadability_spark.session import get_spark

    spark = get_spark(app_name="nreadability-clean-corpus")

    t0 = time.monotonic()
    if args.stage == "clean":
        out = clean_corpus(spark, args.sf_dir)
        out.write.mode("overwrite").parquet(args.out)
        back = spark.read.parquet(args.out)
        counts = {"survivors": back.count()}
    else:
        out = training_ready(spark, args.sf_dir)
        out.write.mode("overwrite").partitionBy("split").parquet(args.out)
        back = spark.read.parquet(args.out)
        counts = {
            r["split"]: r["n"]
            for r in back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    wall = time.monotonic() - t0

    print(json.dumps({"stage": args.stage, "rows": counts, "wall_sec": round(wall, 3)}))
    spark.stop()


if __name__ == "__main__":
    main()

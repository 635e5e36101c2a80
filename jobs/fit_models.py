"""spark-submit entry point for fitting the engine's learned artifacts.

    spark-submit --py-files nreadability_spark.zip jobs/fit_models.py \
        --sf-dir /root/testdata/sf0.01 --out /path/models

The "train offline, apply anywhere" deployment shape: every model the
operators can consume is fitted in one job and written as a parquet
table under ``--out`` —

- ``centroids/``   coarse IVF centroids (cell, dim, centroid) from the
                   distributed Lloyd fit;
- ``pq_codebook/`` product-quantization codebook (sub, code, dim, val);
- ``bpe_merges/``  learned BPE merge table (rank, lhs, rhs, merged,
                   pair_count);
- ``quality_lr/``  logistic-regression quality-filter weights
                   (feature, weight) — final GD iterate;
- ``dsir_buckets/`` DSIR hashed-n-gram importance weights
                   (b, lw_micro) — the B-row bucket model
                   ``dsir_select`` broadcasts.

Each table is exactly what the corresponding apply path broadcasts
(the model is DATA): ``knn_ivf_fitted``, ``knn_pq_adc``,
``bpe_encode``, ``quality_classifier_apply``. Prints ONE JSON metrics
line (row counts per artifact, wall seconds).
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
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nreadability_spark.operators import bpe, classifier, similarity, textops
    from nreadability_spark.session import get_spark

    spark = get_spark(app_name="nreadability-fit-models")

    t0 = time.monotonic()
    counts = {}

    cents = similarity.centroid_fit(spark, args.sf_dir)
    cents.write.mode("overwrite").parquet(f"{args.out}/centroids")
    counts["centroids"] = spark.read.parquet(f"{args.out}/centroids").count()

    book = similarity.fit_pq_codebook(similarity._vectors(spark, args.sf_dir)).select(
        F.col("m").cast("long").alias("sub"),
        F.col("cent_id").cast("long").alias("code"),
        F.posexplode("c").alias("dim", "val"),
    )
    book.write.mode("overwrite").parquet(f"{args.out}/pq_codebook")
    counts["pq_codebook"] = spark.read.parquet(f"{args.out}/pq_codebook").count()

    bpe.bpe_fit(spark, args.sf_dir).write.mode("overwrite").parquet(
        f"{args.out}/bpe_merges"
    )
    counts["bpe_merges"] = spark.read.parquet(f"{args.out}/bpe_merges").count()

    feats = classifier.feature_frame(
        classifier.labeled_corpus(textops.load_documents(spark, args.sf_dir))
    )
    w = classifier.fit_logreg(feats)[-1][1]
    spark.createDataFrame(
        list(enumerate(w)), "feature: long, weight: double"
    ).write.mode("overwrite").parquet(f"{args.out}/quality_lr")
    counts["quality_lr"] = spark.read.parquet(f"{args.out}/quality_lr").count()

    dsir = textops.dsir_bucket_model(spark, args.sf_dir)
    dsir.write.mode("overwrite").parquet(f"{args.out}/dsir_buckets")
    counts["dsir_buckets"] = spark.read.parquet(f"{args.out}/dsir_buckets").count()

    print(
        json.dumps(
            {
                "metric": "fit_models",
                "artifacts": counts,
                "wall_sec": round(time.monotonic() - t0, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

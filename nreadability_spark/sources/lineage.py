"""Per-partition lineage commits and idempotent resume.

Production target is an Iceberg table written with
``df.writeTo(table).overwritePartitions()`` — atomic per-partition
replacement. This sandbox has no Iceberg runtime jar (no network), so
the same contract is implemented over partitioned Parquet:

- output is hash-bucketed by ``conv_id`` into ``bucket=NNN/`` dirs
  (Spark dynamic partition overwrite replaces exactly the buckets a run
  writes — the ``overwritePartitions`` analogue);
- after each successful run, a manifest row per bucket is committed via
  atomic rename into ``_lineage/``, recording run_id / rows / chars /
  wall time. Rows and chars come from an ``observe`` on the written
  frame, collected by the write's own pass: nothing reads the output
  back;
- resume = anti-join of source buckets against committed manifests: a
  restarted run recomputes only missing buckets, and re-executing a
  bucket is idempotent because extraction is deterministic and the
  overwrite is per-partition.

The writer interface is storage-agnostic so the Iceberg call-sites slot
in unchanged on a real cluster (see ``IcebergTableIO`` note at bottom).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

BUCKET_COL = "bucket"
LINEAGE_DIR = "_lineage"


def with_bucket(df, n_buckets, conv_col="conv_id"):
    """Stable hash bucket of the conversation key (Iceberg
    ``bucket(N, conv_id)`` transform analogue)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int"))


def committed_buckets(out_path):
    lineage = Path(out_path) / LINEAGE_DIR
    if not lineage.is_dir():
        return {}
    out = {}
    for f in sorted(lineage.glob("bucket=*.json")):
        try:
            out[int(f.stem.split("=")[1])] = json.loads(f.read_text())
        except (ValueError, json.JSONDecodeError):
            continue
    return out


def commit_bucket(out_path, bucket_id, manifest):
    """Atomic manifest commit via same-filesystem rename."""
    lineage = Path(out_path) / LINEAGE_DIR
    lineage.mkdir(parents=True, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=lineage, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, lineage / f"bucket={bucket_id}.json")


def write_partitioned(df, out_path, run_id, n_buckets, counters=()):
    """Write ``df``, which holds ``BUCKET_COL`` and should be partitioned
    by it (one file per bucket), with a manifest commit per bucket.

    One observation on ``df`` counts each bucket's rows and content
    chars, plus the aggregate columns ``counters``. Its metrics are
    collected in the write's result stage, where Spark applies a task's
    accumulator update once even if the task is retried. Returns the
    manifests of the buckets this write produced, keyed by bucket, and
    the observed ``counters``. Dynamic partition overwrite, an option of
    this write alone, leaves every other bucket's data and manifest
    untouched, so re-running any subset of buckets is idempotent.
    """
    observation = Observation("lineage")
    per_bucket = []
    for b in range(n_buckets):
        in_b = F.col(BUCKET_COL) == b
        per_bucket += [
            F.sum(F.when(in_b, 1)).alias(f"_rows{b}"),
            F.sum(F.when(in_b, F.length("content_text"))).alias(f"_chars{b}"),
        ]
    t0 = time.monotonic()
    (
        df.observe(observation, *counters, *per_bucket)
        .sortWithinPartitions(BUCKET_COL, "conv_id", "turn_idx")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(str(out_path))
    )
    wall = time.monotonic() - t0

    observed = dict(observation.get)
    out = {}
    for b in range(n_buckets):
        rows, chars = observed.pop(f"_rows{b}"), observed.pop(f"_chars{b}")
        if rows:
            out[b] = {
                "run_id": run_id,
                "rows": rows,
                "chars": chars,
                "wall_sec_total_run": round(wall, 3),
            }
            commit_bucket(out_path, b, out[b])
    return out, observed


def filter_uncommitted(df, out_path, n_buckets, conv_col="conv_id"):
    """Resume filter: drop source rows whose bucket already has a
    committed manifest. Partition-level pruning happens before any
    Python work runs."""
    done = sorted(committed_buckets(out_path))
    bucketed = with_bucket(df, n_buckets, conv_col=conv_col)
    if not done:
        return bucketed
    return bucketed.where(~F.col(BUCKET_COL).isin(done))


# IcebergTableIO (production path, requires iceberg-spark-runtime on the
# cluster classpath; not loadable in this sandbox):
#
#   spark.conf:  spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
#   writer:      df.writeTo("lake.db.extracted").overwritePartitions()
#   DDL:         PARTITIONED BY (bucket(256, conv_id))
#   resume:      SELECT DISTINCT partition FROM lake.db.extracted.files
#                anti-joined against source buckets — same contract as
#                committed_buckets()/filter_uncommitted() above.

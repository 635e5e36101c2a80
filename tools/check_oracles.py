"""Driver-emulating oracle check: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB, compare row count, schema (column
names) and exact values (columns sorted by name, rows sorted).

Each query's line gives its Spark seconds (build + collect), its
DuckDB seconds and the number of Spark jobs its build alone launched
(schema discovery, model fits); the last line is one JSON object with
``sf_dir``, the passed count, the failed names, and the Spark seconds
and build jobs per query.

``duck(sf_dir)`` is the DuckDB connection the oracles run on (one view
per table), and ``check`` the one build + compare of a query; the
Tier-1 registry walk (the ``walk`` fixture in ``tests/conftest.py``)
runs both, and tests read the rows it collected.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import itertools
import json
import math
import os
import sys
import time
from typing import NamedTuple

import duckdb

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck(sf_dir):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def compare(spark_cols, spark_rows, duck_cols, duck_rows):
    status = []
    cols = sorted(spark_cols)
    if len(spark_rows) != len(duck_rows):
        status.append(f"ROWS {len(spark_rows)} vs {len(duck_rows)}")
    if cols != sorted(duck_cols):
        status.append(f"COLS {cols} vs {sorted(duck_cols)}")
    if not status:
        dmap = {c: i for i, c in enumerate(duck_cols)}
        s_sorted = sorted(
            tuple(_canon(r[c]) for c in cols) for r in spark_rows
        )
        d_sorted = sorted(
            tuple(_canon(r[dmap[c]]) for c in cols) for r in duck_rows
        )
        n_bad = sum(1 for a, b in zip(s_sorted, d_sorted) if a != b)
        if n_bad:
            status.append(f"VALUES {n_bad}/{len(s_sorted)} rows differ")
            for a, b in zip(s_sorted, d_sorted):
                if a != b:
                    print(f"    spark={a}\n    duck ={b}")
                    break
    return status


_GROUPS = itertools.count()
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def build_jobs(spark, fn, sf_dir):
    """``(fn(spark, sf_dir), the number of Spark jobs that call launched)``,
    counted through a job group of its own; the thread's previous group
    is restored afterwards."""
    sc = spark.sparkContext
    group = f"check-oracles-build-{next(_GROUPS)}"
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    sc.setJobGroup(group, "query build")
    try:
        sdf = fn(spark, sf_dir)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sdf, len(sc.statusTracker().getJobIdsForGroup(group))


class Checked(NamedTuple):
    """What ``check`` found for one query: the compare's complaints
    (empty when it matched), the Spark and DuckDB seconds, the build's
    job count, a note, the collected Spark rows (None for a rows-only
    query, which is counted instead) and the built DataFrame."""

    status: list
    spark_s: float
    duck_s: float
    jobs: int
    note: str
    rows: list | None
    df: object


def check(fn, sql, spark, sf_dir, con):
    """Build one query through ``build_jobs``, run it on Spark (collect,
    or count when it has no oracle) and its oracle on DuckDB."""
    t0 = time.monotonic()
    sdf, jobs = build_jobs(spark, fn, sf_dir)
    if sql is None:
        n = sdf.count()
        return Checked([], time.monotonic() - t0, 0.0, jobs, f"(rows-only: {n} rows)", None, sdf)
    spark_rows = sdf.collect()
    spark_s = time.monotonic() - t0
    t0 = time.monotonic()
    oracle = con.sql(sql)
    duck_cols, duck_rows = oracle.columns, oracle.fetchall()
    duck_s = time.monotonic() - t0
    status = compare(sdf.columns, spark_rows, duck_cols, duck_rows)
    return Checked(status, spark_s, duck_s, jobs, "", spark_rows, sdf)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # point the extract_* golden-parquet oracles at this scale factor
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    sys.path.insert(0, REPO_DIR)
    import __spark_entry__ as entrymod
    from nreadability_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duck(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed, spark_s, jobs_per_query = [], {}, {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            status, s_s, d_s, jobs, note, *_ = check(fn, oracles.get(name), spark, sf_dir, con)
        except Exception as exc:  # noqa: BLE001
            status, s_s, d_s, jobs, note = (
                [f"EXCEPTION {type(exc).__name__}: {exc}"], 0.0, 0.0, None, "")
        spark_s[name] = round(s_s, 3)
        jobs_per_query[name] = jobs
        timing = f"[spark {s_s:.2f}s duckdb {d_s:.2f}s jobs {jobs}]"
        if status:
            failed.append(name)
            print(f"FAIL {name} {timing}: {'; '.join(status)[:2000]}")
        else:
            print(f"ok   {name} {timing} {note}")
    print("\n%d/%d passed" % (len(spark_s) - len(failed), len(spark_s)))
    print(json.dumps({
        "sf_dir": sf_dir,
        "passed": len(spark_s) - len(failed),
        "failed": failed,
        "spark_s": spark_s,
        "build_jobs": jobs_per_query,
    }))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

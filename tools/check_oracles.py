"""Driver-emulating oracle check: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB, compare row count, schema (column
names) and exact values (columns sorted by name, rows sorted).

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def compare(name, sdf, sql, con):
    spark_rows = sdf.collect()
    cols = sorted(sdf.columns)
    duck = con.sql(sql)
    duck_cols = sorted(duck.columns)
    duck_rows = duck.fetchall()
    status = []
    if len(spark_rows) != len(duck_rows):
        status.append(f"ROWS {len(spark_rows)} vs {len(duck_rows)}")
    if cols != duck_cols:
        status.append(f"COLS {cols} vs {duck_cols}")
    if not status:
        dmap = {c: i for i, c in enumerate(duck.columns)}
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

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                status = compare(name, sdf, oracles[name], con)
            else:
                n = sdf.count()
                status = [] if n >= 0 else ["NEGATIVE ROWS?"]
                status_info = f"(rows-only: {n} rows)"
        except Exception as exc:  # noqa: BLE001
            status = [f"EXCEPTION {type(exc).__name__}: {exc}"]
        dt = time.monotonic() - t0
        if status:
            failed.append(name)
            print(f"FAIL {name} [{dt:.1f}s]: {'; '.join(status)[:2000]}")
        else:
            extra = status_info if name not in oracles else ""
            print(f"ok   {name} [{dt:.1f}s] {extra}")
    n_run = len(only) if only else len(qs)
    print("\n%d/%d passed" % (n_run - len(failed), n_run))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

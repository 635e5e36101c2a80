"""Relational query pack over the TPC-H-ish testdata tables.

Covers the engine-level operator categories from SURVEY.md §2.2 —
scan/projection/filter, hash & broadcast joins, anti/semi joins,
aggregation, rollup/grouping sets, window functions, sort/top-k, set
ops — each as a (spark, sf_dir) callable plus a DuckDB oracle twin.

Scale notes baked into the plans:
- dimension tables (region, nation, customer at 100 TB scale-factors
  still tiny relative to facts) are broadcast explicitly so the fact
  scan never shuffles for the join;
- aggregations run on pre-projected narrow columns so partial
  aggregation is cheap map-side;
- top-k uses window rank bounded by a filter, which AQE executes as a
  partial top-k per partition (TakeOrderedAndProject for global sorts);
- date filters are native predicates -> parquet row-group pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- Q1-style pricing summary (filter + hash agg + sort) ---------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty_raw"),
            F.sum("l_extendedprice").alias("sum_base_raw"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_raw"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round("sum_qty_raw", 2).alias("sum_qty"),
            F.round("sum_base_raw", 2).alias("sum_base_price"),
            F.round("sum_disc_raw", 2).alias("sum_disc_price"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- revenue by nation (broadcast dim joins + agg) ---------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # nation (25 rows) and region (5 rows) are CONSTANT-size dims —
    # broadcast is always right. customer is O(SF): no hint, so the
    # planner broadcasts it while its stats fit the threshold and
    # falls back to a shuffle join at SF where a forced hint would OOM.
    return (
        orders.join(cust.select("c_custkey", "c_nationkey"),
                    orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("region_name", "nation_name")
    )


REVENUE_BY_NATION_SQL = """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
ORDER BY region_name, nation_name
"""


# --- top-k orders (join + global top-k) --------------------------------

TOP_ORDERS_K = 10


def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    # customer is O(SF) — no broadcast hint (see revenue_by_nation)
    return (
        orders.join(cust.select("c_custkey", "c_name"),
                    orders.o_custkey == cust.c_custkey)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_ORDERS_K)
        .select("rank", "o_orderkey", "c_name",
                F.round("o_totalprice", 2).alias("total_price"))
        .orderBy("rank")
    )


TOP_ORDERS_SQL = f"""
SELECT rank, o_orderkey, c_name, round(o_totalprice, 2) AS total_price
FROM (
  SELECT o.o_orderkey, c.c_name, o.o_totalprice,
         row_number() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rank
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) t
WHERE rank <= {TOP_ORDERS_K}
ORDER BY rank
"""


# --- windowed event sequences (partitioned window fns) -----------------

EVENT_SEQ_FIRST_N = 3


def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("seq", F.row_number().over(w))
        .withColumn("running_value", F.round(F.sum("value").over(cum), 4))
        .where(F.col("seq") <= EVENT_SEQ_FIRST_N)
        .select("user_id", "seq", "event_id", "event_type", "running_value")
        .orderBy("user_id", "seq")
    )


USER_EVENT_SEQUENCES_SQL = f"""
SELECT user_id, seq, event_id, event_type, running_value
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
  FROM events
) t
WHERE seq <= {EVENT_SEQ_FIRST_N}
ORDER BY user_id, seq
"""


# --- customers without orders (anti join) ------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders.select("o_custkey").distinct(),
                  cust.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
"""


def lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO order on/after the cutoff (anti join with a
    pushed-down date filter). Same plan family as
    ``customers_without_orders``, but NON-VACUOUS at every test scale:
    that query matches its oracle on 0 rows vs 0 rows (every synthetic
    customer has at least one order), which verifies only the filter
    direction — this one anti-joins against a filtered order set that
    provably excludes some customers, so the driver hash-compares real
    rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    recent = (
        orders.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(recent, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


LAPSED_CUSTOMERS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2000-01-01'
)
ORDER BY c_custkey
"""


# --- order priority rollup (grouping sets) -----------------------------

def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total",
        )
        .orderBy("priority", "status")
    )


ORDER_PRIORITY_ROLLUP_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


# --- daily event summary (distinct agg + date bucketing) ---------------

def daily_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("day")
    )


DAILY_EVENT_SUMMARY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1
ORDER BY day
"""


# --- brand revenue (fact-to-dim shuffle join; AQE picks strategy) ------

def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # no broadcast hint: part grows with SF, so let AQE choose
    # broadcast vs shuffle join from runtime sizes
    return (
        li.join(part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .orderBy("p_brand")
    )


BRAND_REVENUE_SQL = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


# --- set ops: suppliers vs customers nations (intersect/except) --------

def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c_nations = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s_nations = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c_nations.intersect(s_nations).withColumn("side", F.lit("both"))
    cust_only = c_nations.exceptAll(s_nations).withColumn("side", F.lit("customer_only"))
    return both.unionAll(cust_only).orderBy("side", "nationkey")


NATION_SET_OPS_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS side FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s) t
UNION ALL
SELECT nationkey, 'customer_only' AS side FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s) t
ORDER BY side, nationkey
"""


# --- sessionization (gap-based; lag + running session counter) ---------

SESSION_GAP_MINUTES = 30


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap-based sessionization: a new session starts when the
    user's inter-event gap exceeds ``SESSION_GAP_MINUTES``. lag() + a running
    sum of session starts — two window passes over one shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ timestamps: timestamp_diff works on the wall-clock values
    # directly, so the gap is timezone-independent (no session-tz
    # mutation, which would leak into every later query on the session).
    # Truncate each side to whole seconds BEFORE differencing — second-
    # boundary-crossing semantics, matching SQL date_diff('second',..)
    ts_s = F.date_trunc("second", F.col("ts"))
    gap = F.timestamp_diff("SECOND", F.lag(ts_s).over(w), ts_s)
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_session).withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_idx")
    )


EVENT_SESSIONS_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_s,
         ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS session_value
FROM sessions
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


# --- as-of join (latest order at or before each event) -----------------

def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the most recent order by the same
    key with o_orderdate <= event ts. Spark lacks a native as-of join;
    the scalable composition is a union-merge: tag both sides, union on
    the join key, order by time, and carry the last order forward with
    a window — one shuffle, no row explosion (vs. the naive
    inequality-join which is O(events x orders) per key)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"), F.lit(None).cast("long").alias("o_key"),
        F.lit(1).alias("is_event"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("o_key"), F.lit(0).alias("is_event"),
    )
    merged = ev.unionAll(orders)
    # orders sort before events at identical timestamps (is_event asc)
    # => an order dated exactly at the event ts is visible to it;
    # ties between orders break by o_key desc (latest key wins,
    # deterministic)
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event"), F.col("o_key").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = merged.withColumn("asof_orderkey", F.last("o_key", ignorenulls=True).over(w))
    return (
        joined.where(F.col("is_event") == 1)
        .select(F.col("event_id"), F.col("k").alias("user_id"), "asof_orderkey")
        .orderBy("event_id")
    )


ASOF_JOIN_SQL = """
WITH merged AS (
  SELECT user_id AS k, ts AS t, event_id, CAST(NULL AS BIGINT) AS o_key, 1 AS is_event
  FROM events
  UNION ALL
  SELECT o_custkey AS k, o_orderdate AS t, CAST(NULL AS BIGINT) AS event_id,
         o_orderkey AS o_key, 0 AS is_event
  FROM orders
),
carried AS (
  SELECT k, t, event_id, is_event,
         last_value(o_key IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY t, is_event, o_key DESC NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
  FROM merged
)
SELECT event_id, k AS user_id, asof_orderkey
FROM carried WHERE is_event = 1
ORDER BY event_id
"""


# --- grouping sets (beyond rollup) -------------------------------------

def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql("""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY priority, status
    """)


ORDER_GROUPING_SETS_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY priority, status
"""


# --- semi join + HAVING ------------------------------------------------

BIG_SPENDER_MIN_TOTAL = 300000.0


def big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having aggregate order value above a threshold who
    also placed at least one urgent order (semi join + HAVING)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    totals = (
        orders.join(urgent, "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("total_spent") > BIG_SPENDER_MIN_TOTAL)
    )
    # customer is O(SF) — no broadcast hint (see revenue_by_nation)
    return (
        totals.join(cust.select("c_custkey", "c_name"),
                    totals.o_custkey == cust.c_custkey)
        .select(F.col("c_custkey"), F.col("c_name"), "total_spent", "n_orders")
        .orderBy("c_custkey")
    )


BIG_SPENDERS_SQL = f"""
SELECT c.c_custkey, c.c_name, t.total_spent, t.n_orders
FROM (
  SELECT o_custkey,
         round(sum(o_totalprice), 2) AS total_spent,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders o
  WHERE EXISTS (SELECT 1 FROM orders u
                WHERE u.o_custkey = o.o_custkey AND u.o_orderpriority = '1-URGENT')
  GROUP BY o_custkey
  HAVING round(sum(o_totalprice), 2) > {BIG_SPENDER_MIN_TOTAL}
) t
JOIN customer c ON t.o_custkey = c.c_custkey
ORDER BY c.c_custkey
"""


# --- pivot (conditional aggregation) -----------------------------------

def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue pivoted by return flag per line status. ``pivot`` with an
    EXPLICIT value list compiles to one conditional hash aggregation —
    a single shuffle with map-side partials; an implicit list would add
    a distinct-values job first (never do that at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2))
    )
    return (
        out.select(
            "l_linestatus",
            F.col("A").alias("rev_a"),
            F.col("N").alias("rev_n"),
            F.col("R").alias("rev_r"),
        )
        .orderBy("l_linestatus")
    )


RETURNFLAG_PIVOT_SQL = """
SELECT l_linestatus,
       round(sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_a,
       round(sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_n,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_r
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


# --- exact quantiles ---------------------------------------------------

def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per priority.
    ``percentile`` is the exact sort-based aggregate (linear
    interpolation — same definition as SQL ``quantile_cont``); at
    100 TB swap in ``approx_percentile`` (t-digest, map-side
    mergeable) and accept the documented error bound — exact
    percentiles force a per-group sort of the full column."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.groupBy("o_orderpriority")
        .agg(
            *[
                F.round(F.expr(f"percentile(o_totalprice, {q})"), 4).alias(name)
                for q, name in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
            ]
        )
        .orderBy("o_orderpriority")
    )


ORDER_PRICE_QUANTILES_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.90), 4) AS p90
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- approximate quantiles (the documented 100 TB swap, shipped) -------

APPROX_QUANTILE_ACC = 100  # rank error bound: 1/accuracy of the group size


def order_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` (mergeable sketch — map-side partials, no
    per-group full sort) with its rank-error guarantee ASSERTED against
    the exact data: for each group and each q, the estimate's true rank
    interval [count(<est)+1, count(<=est)] must intersect
    [(q - 1/acc) * n, (q + 1/acc) * n]. The output is the per-group
    pass/fail flags, not the estimates — the estimate itself depends on
    sketch merge order (legitimately non-deterministic across
    partitionings), so the oracle pins the *guarantee*, which must hold
    everywhere (all-1s). This is the swap ``rel_price_quantiles``'s
    docstring promises at 100 TB, where exact percentiles force a
    per-group sort of the full column."""
    od = _t(spark, sf_dir, "orders")
    qs = ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
    est = od.groupBy("o_orderpriority").agg(
        *[
            F.expr(f"approx_percentile(o_totalprice, {q}, {APPROX_QUANTILE_ACC})")
            .alias(f"est_{n}")
            for q, n in qs
        ]
    )
    joined = od.join(F.broadcast(est), "o_orderpriority")
    aggs = [F.count(F.lit(1)).alias("n")]
    for _q, n in qs:
        aggs.append(
            F.sum((F.col("o_totalprice") < F.col(f"est_{n}")).cast("long")).alias(f"lt_{n}")
        )
        aggs.append(
            F.sum((F.col("o_totalprice") <= F.col(f"est_{n}")).cast("long")).alias(f"le_{n}")
        )
    ranks = joined.groupBy("o_orderpriority").agg(*aggs)
    err = 1.0 / APPROX_QUANTILE_ACC
    checks = []
    for q, n in qs:
        lo_ok = F.col(f"le_{n}") >= F.floor((F.lit(q) - F.lit(err)) * F.col("n"))
        hi_ok = (F.col(f"lt_{n}") + 1) <= F.ceil((F.lit(q) + F.lit(err)) * F.col("n"))
        checks.append((lo_ok & hi_ok).cast("int").alias(f"ok_{n}"))
    return ranks.select("o_orderpriority", *checks).orderBy("o_orderpriority")


ORDER_PRICE_QUANTILES_APPROX_SQL = """
SELECT o_orderpriority,
       CAST(1 AS INT) AS ok_p25, CAST(1 AS INT) AS ok_p50, CAST(1 AS INT) AS ok_p90
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


APPROX_DISTINCT_RSD = 0.05


def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_count_distinct`` (HyperLogLog++ — a mergeable fixed-size
    sketch, map-side partials, no distinct-expand shuffle) with its
    error guarantee ASSERTED against the exact cardinality: per order
    priority, the estimate of distinct ordering customers must land
    within 3 relative standard deviations of the true count. Output is
    the exact count plus the pass flag — the estimate itself is
    implementation-defined (sketch register layout / merge order), so
    the oracle pins the exact value and the guarantee (all-1s). This is
    the 100 TB swap for exact countDistinct, whose expand+re-aggregate
    doubles the shuffle volume per distinct column."""
    od = _t(spark, sf_dir, "orders")
    margin = 3.0 * APPROX_DISTINCT_RSD
    return (
        od.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.approx_count_distinct("o_custkey", APPROX_DISTINCT_RSD).alias("est"),
        )
        .select(
            "o_orderpriority",
            F.col("n_customers").cast("long").alias("n_customers"),
            (
                F.abs(F.col("est") - F.col("n_customers"))
                <= F.lit(margin) * F.col("n_customers")
            )
            .cast("int")
            .alias("ok_est"),
        )
        .orderBy("o_orderpriority")
    )


APPROX_DISTINCT_CUSTOMERS_SQL = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(1 AS INT) AS ok_est
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- JSON scalar functions over event props ----------------------------

def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction as a scalar expression: parse the ``props`` JSON
    column, pull the numeric field, aggregate per event type. The
    extraction runs inside whole-stage codegen (no UDF, no shuffle of
    the raw JSON — only (event_type, k) reaches the aggregate)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENT_PROPS_JSON_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 4) AS avg_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
) t
GROUP BY event_type
ORDER BY event_type
"""


# --- correlated scalar subquery (TPC-H Q17 shape) ----------------------

def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue from line items whose quantity is below 20% of the
    per-part average — TPC-H Q17's correlated-scalar-subquery shape,
    deliberately written as SQL so Catalyst's decorrelation does the
    rewrite: the optimizer turns the per-row subquery into ONE
    per-part aggregate joined back on ``l_partkey`` (a plan-shape test
    asserts no ScalarSubquery node survives). At 100 TB this is the
    difference between one extra shuffle and a per-row re-scan of
    lineitem. The avg of integer quantities is exact in binary floating
    point (integer sums are), so the 0.2*avg threshold is
    engine-portable with no rounding grain."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("nrs_q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("nrs_q17_part")
    return spark.sql("""
        SELECT p.p_brand, round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM nrs_q17_lineitem l JOIN nrs_q17_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM nrs_q17_lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand ORDER BY p.p_brand
    """)


SMALL_QTY_REVENUE_SQL = """
SELECT p.p_brand, round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand ORDER BY p.p_brand
"""


# --- EXISTS with a mixed equi+range condition (TPC-H Q4 shape) ---------

DELAYED_ORDER_LAG_DAYS = 1500

def delayed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line item shipped more than
    ``DELAYED_ORDER_LAG_DAYS`` days after the order date, counted per
    priority — TPC-H Q4's EXISTS shape. The join condition mixes an
    equi key with a range predicate: Spark extracts ``l_orderkey =
    o_orderkey`` as the shuffle key and evaluates the date comparison
    as a residual filter inside the LeftSemi join — one co-partitioned
    shuffle, no row explosion (semi join emits each order at most
    once, so a 7-line order costs the same as a 1-line order)."""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (od.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr(f"INTERVAL {DELAYED_ORDER_LAG_DAYS} DAYS")
    )
    return (
        od.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_delayed"))
        .orderBy("o_orderpriority")
    )


DELAYED_ORDERS_SQL = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_delayed
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL {DELAYED_ORDER_LAG_DAYS} DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- range join via interval binning -----------------------------------

RANGE_JOIN_WINDOW_S = 3600  # follower window length == bin width
RANGE_JOIN_SPIKE_VALUE = 200.0

def range_join_followers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): for each high-value "spike"
    event, count and sum all events in the following hour. A naive
    ``e.ts BETWEEN s.ts AND s.ts + 1h`` join has no equi conjunct, so
    Spark would pick BroadcastNestedLoopJoin — O(spikes × events)
    comparisons, a non-starter at 100 TB. The scale path bins time
    into window-length buckets: each event belongs to exactly one bin,
    each spike interval covers at most two, so exploding the spike
    side to its covered bins turns the range join into an equi join on
    ``bin`` with the precise predicate as a residual — every
    qualifying pair meets exactly once (the event's single bin), and
    the comparison volume drops to pairs sharing an hour. The bins are
    engine-internal (the oracle is the naive BETWEEN join), so
    session-timezone epoch arithmetic never leaks into the compared
    result. A plan-shape test asserts no nested-loop join survives."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    w = RANGE_JOIN_WINDOW_S
    followers = ev.select(
        F.col("event_id").alias("f_id"),
        F.col("ts").alias("f_ts"),
        F.col("value").alias("f_value"),
        (F.floor(F.unix_timestamp("ts") / w)).alias("bin"),
    )
    spikes = (
        ev.where(F.col("value") > RANGE_JOIN_SPIKE_VALUE)
        .select(
            "event_id",
            "ts",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp("ts") / w),
                    F.floor((F.unix_timestamp("ts") + w) / w),
                )
            ).alias("bin"),
        )
    )
    cond = (
        (spikes.bin == followers.bin)
        & (followers.f_ts > spikes.ts)
        & (followers.f_ts <= spikes.ts + F.expr(f"INTERVAL {w} SECONDS"))
    )
    return (
        spikes.join(followers, cond, "left")
        .groupBy("event_id")
        .agg(
            F.count("f_id").alias("n_follow"),
            F.round(F.coalesce(F.sum("f_value"), F.lit(0.0)), 2).alias("follow_value"),
        )
        .orderBy("event_id")
    )


RANGE_JOIN_FOLLOWERS_SQL = f"""
SELECT s.event_id,
       CAST(count(e.event_id) AS BIGINT) AS n_follow,
       round(coalesce(sum(e.value), 0), 2) AS follow_value
FROM events s
LEFT JOIN events e
  ON e.ts > s.ts AND e.ts <= s.ts + INTERVAL {RANGE_JOIN_WINDOW_S} SECOND
WHERE s.value > {RANGE_JOIN_SPIKE_VALUE}
GROUP BY s.event_id ORDER BY s.event_id
"""


# --- RANGE window frame (rolling interval aggregate) --------------------

ROLLING_WINDOW_DAYS = 30

def rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 30-day order revenue — the RANGE window
    frame shape (value-based bounds, peers included), distinct from
    every ROWS/unbounded frame elsewhere in the pack. Spark's
    ``rangeBetween`` needs a numeric ordering key, so the frame runs
    over epoch seconds; frame membership depends only on timestamp
    DIFFERENCES, so the session timezone cancels and the oracle can use
    a native INTERVAL frame. One shuffle (hash by customer), frames
    computed in a single sorted pass per partition — no self-join
    (the naive rolling-sum-as-join reads the fact table twice and
    explodes on dense customers)."""
    od = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-ROLLING_WINDOW_DAYS * 86400, 0)
    )
    return (
        od.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_rev"),
            F.count(F.lit(1)).over(w).alias("n_in_window"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


ROLLING_REVENUE_SQL = f"""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w, 2) AS rolling_rev,
       CAST(count(*) OVER w AS BIGINT) AS n_in_window
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL {ROLLING_WINDOW_DAYS} DAY PRECEDING
                   AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


# --- Q21 shape: EXISTS + NOT EXISTS, hand-decorrelated -----------------

Q21_LAG_DAYS = 1000
Q21_TOP_K = 10

def exclusive_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper in multi-supplier
    orders (TPC-H Q21's EXISTS + NOT EXISTS shape). The Spark side is
    the hand-decorrelated aggregate form — per (order, supplier) one
    distinct row with a late flag (a single hash aggregate; NOT the
    two-countDistinct formulation, whose Expand doubles shuffle rows),
    then per-order supplier/late-supplier counts, then the filter
    ``n_supp > 1 AND n_late_supp = 1``. The oracle is the textbook
    correlated EXISTS/NOT EXISTS, so the driver compare proves the
    rewrite's equivalence. One shuffle keyed by order, one by
    supplier."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lines = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LAG_DAYS} DAYS")
        ).cast("long").alias("is_late"),
    )
    per_pair = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late_any")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late_any").alias("n_late_supp"),
    )
    winners = (
        per_pair.where(F.col("late_any") == 1)
        .join(
            per_order.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_exclusive_late"))
    )
    w = Window.orderBy(F.desc("n_exclusive_late"), F.asc("l_suppkey"))
    return (
        winners.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= Q21_TOP_K)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "l_suppkey",
            "n_exclusive_late",
        )
        .orderBy("rank")
    )


EXCLUSIVE_LATE_SUPPLIER_SQL = f"""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LAG_DAYS} DAY
)
SELECT CAST(row_number() OVER (ORDER BY n_exclusive_late DESC, l_suppkey)
            AS BIGINT) AS rank,
       l_suppkey, n_exclusive_late
FROM (
  SELECT s.l_suppkey,
         CAST(count(DISTINCT s.l_orderkey) AS BIGINT) AS n_exclusive_late
  FROM late s
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = s.l_orderkey
                  AND l2.l_suppkey != s.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = s.l_orderkey
                      AND l3.l_suppkey != s.l_suppkey)
  GROUP BY s.l_suppkey
) g
ORDER BY n_exclusive_late DESC, l_suppkey
LIMIT {Q21_TOP_K}
"""


QUERIES = {
    "rel_pricing_summary": pricing_summary,
    "rel_revenue_by_nation": revenue_by_nation,
    "rel_top_orders": top_orders,
    "rel_user_event_sequences": user_event_sequences,
    "rel_customers_without_orders": customers_without_orders,
    "rel_lapsed_customers": lapsed_customers,
    "rel_brand_revenue": brand_revenue,
    "rel_order_priority_rollup": order_priority_rollup,
    "rel_daily_event_summary": daily_event_summary,
    "rel_nation_set_ops": nation_set_ops,
    "rel_event_sessions": event_sessions,
    "rel_asof_join": asof_join_events_orders,
    "rel_order_grouping_sets": order_grouping_sets,
    "rel_big_spenders": big_spenders,
    "rel_returnflag_pivot": returnflag_pivot,
    "rel_price_quantiles": order_price_quantiles,
    "rel_price_quantiles_approx": order_price_quantiles_approx,
    "rel_approx_distinct": approx_distinct_customers,
    "rel_event_props_json": event_props_json,
    "rel_small_qty_revenue": small_qty_revenue,
    "rel_delayed_orders": delayed_orders,
    "rel_range_join_followers": range_join_followers,
    "rel_rolling_revenue": rolling_revenue,
    "rel_exclusive_late_supplier": exclusive_late_supplier,
}

ORACLES = {
    "rel_pricing_summary": PRICING_SUMMARY_SQL,
    "rel_revenue_by_nation": REVENUE_BY_NATION_SQL,
    "rel_top_orders": TOP_ORDERS_SQL,
    "rel_user_event_sequences": USER_EVENT_SEQUENCES_SQL,
    "rel_customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "rel_lapsed_customers": LAPSED_CUSTOMERS_SQL,
    "rel_brand_revenue": BRAND_REVENUE_SQL,
    "rel_order_priority_rollup": ORDER_PRIORITY_ROLLUP_SQL,
    "rel_daily_event_summary": DAILY_EVENT_SUMMARY_SQL,
    "rel_nation_set_ops": NATION_SET_OPS_SQL,
    "rel_event_sessions": EVENT_SESSIONS_SQL,
    "rel_asof_join": ASOF_JOIN_SQL,
    "rel_order_grouping_sets": ORDER_GROUPING_SETS_SQL,
    "rel_big_spenders": BIG_SPENDERS_SQL,
    "rel_returnflag_pivot": RETURNFLAG_PIVOT_SQL,
    "rel_price_quantiles": ORDER_PRICE_QUANTILES_SQL,
    "rel_price_quantiles_approx": ORDER_PRICE_QUANTILES_APPROX_SQL,
    "rel_approx_distinct": APPROX_DISTINCT_CUSTOMERS_SQL,
    "rel_event_props_json": EVENT_PROPS_JSON_SQL,
    "rel_small_qty_revenue": SMALL_QTY_REVENUE_SQL,
    "rel_delayed_orders": DELAYED_ORDERS_SQL,
    "rel_range_join_followers": RANGE_JOIN_FOLLOWERS_SQL,
    "rel_rolling_revenue": ROLLING_REVENUE_SQL,
    "rel_exclusive_late_supplier": EXCLUSIVE_LATE_SUPPLIER_SQL,
}

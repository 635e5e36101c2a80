"""The exclusive running sum of a column, in two bounded phases.

A single ``Window.orderBy(key)`` puts every row in one task: the whole
corpus for a global running total (AQE can split skewed joins, not
window partitions). Blocking the order key bounds every task:

1. block sums: rows group into ``order_col div block_size`` blocks, and
   each block's sum is a hash aggregate (map-side partials, no skew);
2. block prefix: an exclusive running sum over the block sums, a
   window over ``rows / block_size`` rows (10^12 rows in blocks of
   10^6 is 10^6 rows);
3. within-block prefix: a window over one block, at most
   ``block_size`` rows by construction.

The running sum is ``block prefix + within-block prefix``, exactly the
single-window result. The block key is an integer ``div``: a double
division and cast is exact only below 2^53, which global offsets exceed
at the 10^12-row scale this exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exclusive_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    out_col: str,
    block_size: int,
) -> DataFrame:
    """``df`` plus ``out_col`` (long): the sum of ``value_col`` over the
    rows before each row in integer ``order_col`` order, over the whole
    frame."""
    df = df.withColumn("_blk", F.expr(f"{order_col} div {block_size}"))
    before = Window.unboundedPreceding, -1
    w_blk = Window.orderBy("_blk").rowsBetween(*before)
    blk_prefix = (
        df.groupBy("_blk")
        .agg(F.sum(value_col).alias("_blk_sum"))
        .select("_blk", F.coalesce(F.sum("_blk_sum").over(w_blk), F.lit(0)).alias("_blk_prefix"))
    )
    w_in = Window.partitionBy("_blk").orderBy(order_col).rowsBetween(*before)
    return (
        df.join(blk_prefix, "_blk")
        .withColumn(
            out_col,
            (
                F.col("_blk_prefix") + F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
            ).cast("long"),
        )
        .drop("_blk", "_blk_prefix")
    )

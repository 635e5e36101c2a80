"""The ordered tail of a query whose result is small.

A global ``orderBy`` plans a range exchange: its RangePartitioner first
runs a sampling job over the child to pick partition bounds, then runs
the child again for the shuffle. When the child is a Python stage
(``mapInPandas``, a pandas UDF) that means every decode or extraction
runs twice. A single-partition shuffle needs no bounds, so the child
runs once and the rows are sorted in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ordered_small(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic global order by ``cols`` for a result small enough
    to sort in one task, without a range exchange."""
    return df.repartition(1).sortWithinPartitions(*cols)

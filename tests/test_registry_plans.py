"""Plan guard over the whole query registry: no range exchange may sit
directly above a Python stage.

A global sort plans ``Exchange rangepartitioning``, whose
RangePartitioner runs a sampling job over its child before the shuffle
runs the child again. With a Python node below and no other exchange in
between, every row goes through Python twice. Small results use
``functions.ordering.ordered_small`` instead.
"""

import os

import pytest

from tests.test_operators import SF_DIR

pytestmark = pytest.mark.spark

PYTHON_NODES = frozenset(
    ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
)
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _initial_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return plan


def _is_range_exchange(node):
    return (
        node.nodeName() == "Exchange"
        and node.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
    )


def python_below_range_exchange(plan):
    """Names of Python nodes reachable from a range exchange without
    crossing another exchange."""
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        kids = _children(node)
        stack.extend(kids)
        if not _is_range_exchange(node):
            continue
        below = list(kids)
        while below:
            n = below.pop()
            if "Exchange" in n.nodeName():
                continue
            if n.nodeName() in PYTHON_NODES:
                found.append(n.nodeName())
            below.extend(_children(n))
    return found


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")
def test_no_range_exchange_above_python_stage(spark):
    import __spark_entry__

    before = spark.conf.get(ARROW_BATCH)
    offenders = {}
    try:
        for name, build in __spark_entry__.queries().items():
            found = python_below_range_exchange(_initial_plan(build(spark, SF_DIR)))
            if found:
                offenders[name] = sorted(set(found))
    finally:
        spark.conf.set(ARROW_BATCH, before)
    assert offenders == {}, f"range exchange directly above a Python stage: {offenders}"


def test_walk_flags_order_by_over_map_in_pandas(spark):
    """The walk itself: orderBy over mapInPandas is flagged, the
    single-partition tail and an exchange in between are not."""
    from nreadability_spark.functions.ordering import ordered_small

    def ident(it):
        yield from it

    mapped = spark.range(8).mapInPandas(ident, schema="id long")
    assert python_below_range_exchange(_initial_plan(mapped.orderBy("id"))) == ["MapInPandas"]
    assert python_below_range_exchange(_initial_plan(ordered_small(mapped, "id"))) == []
    hashed = mapped.repartition(4, "id").orderBy("id")
    assert python_below_range_exchange(_initial_plan(hashed)) == []

"""Plan guards over the query registry.

No range exchange may sit directly above a Python stage. A global sort
plans ``Exchange rangepartitioning``, whose RangePartitioner runs a
sampling job over its child before the shuffle runs the child again.
With a Python node below and no other exchange in between, every row
goes through Python twice. Small results use
``functions.ordering.ordered_small`` instead.

A query over a cached synthetic corpus builds without a Spark job: the
cache is read with the schema it was written with, so no
schema-discovery job runs.
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


needs_sf = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")


@pytest.fixture
def registry(spark):
    """The registry's builders; the Arrow batch size some builders set
    is restored afterwards."""
    import __spark_entry__

    before = spark.conf.get(ARROW_BATCH)
    yield __spark_entry__.queries()
    spark.conf.set(ARROW_BATCH, before)


def _cached_corpus_queries(registry):
    """The queries that scan a parquet cache of ``sources.synth``."""
    names = [n for n in registry if n.startswith("multimodal_")] + ["extract_mixed_media"]
    return {n: registry[n] for n in names}


@needs_sf
def test_no_range_exchange_above_python_stage(spark, registry):
    offenders = {}
    for name, build in registry.items():
        found = python_below_range_exchange(_initial_plan(build(spark, SF_DIR)))
        if found:
            offenders[name] = sorted(set(found))
    assert offenders == {}, f"range exchange directly above a Python stage: {offenders}"


@needs_sf
def test_cached_corpora_have_their_declared_schema(spark, registry, monkeypatch):
    """Schema discovery on each cache the registry reads gives the
    constant it is read with, which is what makes skipping it exact."""
    from nreadability_spark.sources import synth

    paths = {}
    materialize = synth._materialize

    def spy(scope, name, write):
        paths[name] = materialize(scope, name, write)
        return paths[name]

    monkeypatch.setattr(synth, "_materialize", spy)
    for build in _cached_corpus_queries(registry).values():
        build(spark, SF_DIR)
    declared = {n: synth.PAYLOAD_SCHEMA for n in paths if n.endswith("_payload_for")}
    declared["mixed.parquet"] = synth.MIXED_SCHEMA
    assert sorted(paths) == sorted(declared)
    for name, schema in declared.items():
        assert spark.read.parquet(paths[name]).schema == schema, name


@needs_sf
def test_cached_corpus_queries_build_without_a_job(spark, registry):
    """At a warm cache, building a query over a cached corpus launches
    no Spark job."""
    from tools.check_oracles import build_jobs

    queries = _cached_corpus_queries(registry)
    assert len(queries) == 14
    for build in queries.values():
        build(spark, SF_DIR)  # warm the caches
    jobs = {name: build_jobs(spark, build, SF_DIR)[1] for name, build in queries.items()}
    assert jobs == dict.fromkeys(queries, 0)
    # the counter does see a read that discovers its schema
    _, discovery = build_jobs(spark, lambda s, d: s.read.parquet(f"{d}/documents.parquet"), SF_DIR)
    assert discovery >= 1


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

"""The registry walk, and plan guards over the query registry.

The walk builds every ``__spark_entry__.queries()`` entry once at
sf0.001 through ``tools/check_oracles.check``, which collects it and
compares the rows with its ``oracle_sql()`` twin on DuckDB. Three tests
per query read the walk: oracle equality and the two plan guards below,
each run on the initial physical plan of the DataFrame the walk built.

No range exchange may sit directly above a Python stage. A global sort
plans ``Exchange rangepartitioning``, whose RangePartitioner runs a
sampling job over its child before the shuffle runs the child again.
With a Python node below and no other exchange in between, every row
goes through Python twice. Small results use
``functions.ordering.ordered_small`` instead.

No Python function is evaluated in two plan nodes. A DataFrame with a
Python stage that is used twice in one plan, as in a self-join, runs
every row through Python once per use.

A query over a cached synthetic corpus builds without a Spark job: the
cache is read with the schema it was written with, so no
schema-discovery job runs.
"""

import os
from collections import Counter

import pytest

import __spark_entry__
from tests.test_operators import SF_DIR
from tools import check_oracles

pytestmark = pytest.mark.spark

PYTHON_NODES = frozenset(
    ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
)
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _children(node):
    return _seq(node.children())


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


def python_functions_in_two_nodes(plan):
    """Result ids of the Python functions that more than one node of
    ``plan`` evaluates. Each call of a Python UDF in the DataFrame API
    has its own result id, so a node evaluating the same id as another
    re-runs that call on the same rows."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        stack.extend(_children(node))
        if node.nodeName() not in PYTHON_NODES:
            continue
        ids, exprs = set(), list(_seq(node.expressions()))
        while exprs:
            e = exprs.pop()
            if e.getClass().getSimpleName() == "PythonUDF":
                ids.add(e.resultId().id())
            exprs.extend(_seq(e.children()))
        nodes.extend(ids)
    return sorted(i for i, n in Counter(nodes).items() if n > 1)


needs_sf = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")


@pytest.fixture
def registry(spark):
    """The registry's builders; the Arrow batch size some builders set
    is restored afterwards."""
    before = spark.conf.get(ARROW_BATCH)
    yield __spark_entry__.queries()
    spark.conf.set(ARROW_BATCH, before)


def _cached_corpus_queries(registry):
    """The queries that scan a parquet cache of ``sources.synth``."""
    names = [n for n in registry if n.startswith("multimodal_")] + ["extract_mixed_media"]
    return {n: registry[n] for n in names}


QUERY_NAMES = list(__spark_entry__.queries())


def test_every_query_has_an_oracle(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    assert __spark_entry__.queries().keys() == __spark_entry__.oracle_sql().keys()
    assert len(QUERY_NAMES) == 90


@pytest.fixture(scope="module")
def walk(spark):
    """Each registry query built once and checked against its oracle:
    name -> what ``check_oracles.check`` returned (status first, the
    built DataFrame last), or the exception its build or collect raised.
    The build jobs it records are not asserted: the count moved on
    unchanged code. The Arrow batch size some builders set is restored
    afterwards."""
    before = spark.conf.get(ARROW_BATCH)
    results = {}
    with pytest.MonkeyPatch.context() as mp, check_oracles.duck(SF_DIR) as con:
        # the extract_* golden oracles at the walk's scale factor
        mp.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
        oracles = __spark_entry__.oracle_sql()
        for name, build in __spark_entry__.queries().items():
            try:
                results[name] = check_oracles.check(build, oracles[name], spark, SF_DIR, con)
            except Exception as exc:  # noqa: BLE001 — fails this query's items only
                results[name] = exc
    spark.conf.set(ARROW_BATCH, before)
    return results


def _walked(walk, name):
    checked = walk[name]
    if isinstance(checked, Exception):
        raise checked
    return checked


@needs_sf
@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(walk, name):
    assert _walked(walk, name)[0] == []


@needs_sf
@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_range_exchange_above_python_stage(walk, name):
    assert python_below_range_exchange(_initial_plan(_walked(walk, name)[-1])) == []


@needs_sf
@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_python_function_in_two_nodes(walk, name):
    assert python_functions_in_two_nodes(_initial_plan(_walked(walk, name)[-1])) == []


def test_extract_job_write_runs_each_python_function_once(spark, tmp_path, monkeypatch):
    """The frame ``run_extract_job`` hands to its write, planned without
    writing."""
    from nreadability_spark.plans.extract_job import run_extract_job
    from nreadability_spark.sources import lineage
    from nreadability_spark.sources.synth import transcripts_df

    written = []
    monkeypatch.setattr(
        lineage, "write_partitioned", lambda df, *a, **k: written.append(df) or ({}, {})
    )
    run_extract_job(spark, transcripts_df(spark, 8), str(tmp_path / "out"), n_buckets=4)
    assert len(written) == 1
    assert python_functions_in_two_nodes(_initial_plan(written[0])) == []


def test_materialize_removes_other_versions(tmp_path, monkeypatch):
    """A cache miss removes the corpora an earlier ``_synth_version()``
    left under the same scope and keeps the current version's."""
    from nreadability_spark.sources import synth

    monkeypatch.setattr(synth, "_CACHE_ROOT", str(tmp_path))
    scope = tmp_path / "sf_test"
    stale = scope / "0123456789"
    current = scope / synth._synth_version()
    (stale / "old_corpus").mkdir(parents=True)
    (current / "kept_corpus").mkdir(parents=True)
    path = synth._materialize("/data/sf_test/", "new_corpus", os.makedirs)
    assert path == str(current / "new_corpus") and os.path.isdir(path)
    assert not stale.exists()
    assert (current / "kept_corpus").is_dir()


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


def test_walk_flags_a_python_function_in_two_nodes(spark):
    """The walk itself: a self-join of a Python stage is flagged, a
    chain of two calls of one UDF and two separate stages are not."""
    from pyspark.sql import functions as F

    plus_one = F.pandas_udf(lambda s: s + 1, "long")
    once = spark.range(8).withColumn("x", plus_one("id"))
    assert len(python_functions_in_two_nodes(_initial_plan(once.join(once, "id")))) == 1
    chained = once.withColumn("y", plus_one("x"))
    assert python_functions_in_two_nodes(_initial_plan(chained)) == []
    other = spark.range(8).withColumn("z", plus_one("id"))
    assert python_functions_in_two_nodes(_initial_plan(once.join(other, "id"))) == []

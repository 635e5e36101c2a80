import faulthandler
import os
import sys

import pytest

# a test that runs longer than this, setup included, dumps every
# thread's traceback and ends the run
TEST_LIMIT_S = 900
_STDERR = pytest.StashKey[int]()


def pytest_configure(config):
    # the terminal's stderr: output capture redirects fd 2 during a test
    config.stash[_STDERR] = os.dup(sys.stderr.fileno())


def pytest_unconfigure(config):
    os.close(config.stash[_STDERR])


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_protocol(item, nextitem):
    faulthandler.dump_traceback_later(TEST_LIMIT_S, exit=True, file=item.config.stash[_STDERR])
    try:
        yield
    finally:
        faulthandler.cancel_dump_traceback_later()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("nreadability-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # as session.get_spark sets it: pandas -> DataFrame through Arrow
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


class _Walk(dict):
    """name -> ``check_oracles.Checked``; reading a query whose build
    or collect raised re-raises that exception."""

    def __getitem__(self, name):
        checked = super().__getitem__(name)
        if isinstance(checked, Exception):
            raise checked
        return checked


@pytest.fixture(scope="session")
def walk(spark):
    """The Tier-1 registry walk: each ``__spark_entry__.queries()``
    entry built once at sf0.001 and checked against its oracle through
    ``check_oracles.check``. Oracle and plan tests read the outcome,
    behavioural tests the collected rows. The build jobs it records are
    not asserted: the count moved on unchanged code."""
    import __spark_entry__
    from tests.test_operators import SF_DIR
    from tools import check_oracles

    results = _Walk()
    with pytest.MonkeyPatch.context() as mp, check_oracles.duck(SF_DIR) as con:
        # the extract_* golden oracles at the walk's scale factor
        mp.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
        oracles = __spark_entry__.oracle_sql()
        for name, build in __spark_entry__.queries().items():
            try:
                results[name] = check_oracles.check(build, oracles[name], spark, SF_DIR, con)
            except Exception as exc:  # noqa: BLE001 — fails this query's items only
                results[name] = exc
    return results

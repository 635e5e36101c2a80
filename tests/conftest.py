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

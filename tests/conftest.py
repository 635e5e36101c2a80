import pytest


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

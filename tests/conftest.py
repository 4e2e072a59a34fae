import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from document_extraction_service_spark.session import PARTITION_DISCOVERY_THRESHOLD

    s = (
        SparkSession.builder.master("local[2]")
        .appName("des_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # as build_session: bucket-dir reads list on the driver
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(PARTITION_DISCOVERY_THRESHOLD))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def plan_text():
    """The one plan-assertion helper: a DataFrame's executed-plan text
    (the AQE-final plan once the frame has run)."""
    return lambda df: df._jdf.queryExecution().executedPlan().toString()

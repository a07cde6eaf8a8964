"""Shared fixtures: one session-scoped SparkSession (local[4] keeps
pytest light), connections over the sf0.001 testdata, and a temp sink.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from etlhelper_spark import connect_files, get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("etlhelper_spark_tests", master="local[4]",
                        shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def src_conn(spark):
    return connect_files(SF_DIR, spark=spark)


@pytest.fixture()
def dest_conn(spark):
    d = tempfile.mkdtemp(prefix="ehs_test_")
    yield connect_files(d, spark=spark)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def call_jobs(spark):
    """``call_jobs()`` -> the number of Spark jobs the most recent ETL
    call ran: each call starts its own job group (abort.py)."""
    from etlhelper_spark import abort

    tracker = spark.sparkContext.statusTracker()
    return lambda: len(tracker.getJobIdsForGroup(abort._current_group))

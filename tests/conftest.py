from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from groonga_spark.session import get_spark

    s = get_spark("groonga_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()  # tear the JVM down for in-process pytest runners


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    the ids of the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> list[int]:
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def frames_built(spark):
    """``frames_built(fn)`` runs ``fn`` and returns how many times it
    called ``SparkSession.createDataFrame``; the method is restored
    afterwards, also when ``fn`` raises."""
    from pyspark.sql import SparkSession

    def run(fn) -> int:
        calls = [0]
        orig = SparkSession.createDataFrame

        def counted(self, *args, **kwargs):
            calls[0] += 1
            return orig(self, *args, **kwargs)

        SparkSession.createDataFrame = counted
        try:
            fn()
        finally:
            SparkSession.createDataFrame = orig
        return calls[0]

    return run

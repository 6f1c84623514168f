from __future__ import annotations

import time

import pytest


@pytest.fixture(scope="session")
def spark():
    from adsb_clickhouse_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_base(tmp_path):
    return str(tmp_path)


@pytest.fixture()
def non_utc_tz(monkeypatch):
    """Run with a process time zone that is not UTC: createDataFrame reads
    naive datetimes as local time, and collect returns them in it."""
    monkeypatch.setenv("TZ", "Europe/Berlin")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(group, action)`` runs ``action`` under a Spark job
    group and returns the number of jobs it started."""
    sc = spark.sparkContext

    def count(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count

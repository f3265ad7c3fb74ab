import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_sessionstart(session):
    """Remove scratch artifacts built by other package source, or
    never finished, before any test reads them."""
    from data_wrangler_spark.scratch import sweep

    sweep()


def _jobs_started_by(spark, fn):
    """(fn(), number of Spark jobs fn started). The status store is
    fed asynchronously, so a marker job in a second group runs after
    fn; once it is visible, every job fn started is visible too."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"jobs-started-by-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "code under test")
    try:
        out = fn()
        sc.setJobGroup(group + "-marker", "status store flush")
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from data_wrangler_spark.session import get_spark

    s = get_spark("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def engine(spark, sf_dir):
    from data_wrangler_spark import Engine

    return Engine(spark, sf_dir)


@pytest.fixture(scope="session")
def foobar(spark):
    """The reference's only fixture (testdb.sql:1-15), recreated to
    pin gateway semantics: foo(id,name), bar(id,foo_id,rank)."""
    foo = spark.createDataFrame(
        [(1, "bob"), (2, "fred"), (3, "jones")], "id int, name string"
    )
    bar = spark.createDataFrame(
        [(4, 1, 1), (5, 1, 2), (6, 2, 5)], "id int, foo_id int, rank int"
    )
    return foo, bar

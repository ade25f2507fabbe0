import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from pandasschema_spark.resources import scope


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pandasschema-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def scoped():
    """Run the test inside one resources.scope(): everything the
    operators under test pin is released when it ends."""
    with scope():
        yield


@pytest.fixture
def pinned(spark):
    """Callable: the ids of the RDDs the session keeps persisted now."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet())


_GROUPS = itertools.count()


@pytest.fixture
def jobs_of(spark):
    """Callable: the number of Spark jobs ``action()`` starts, counted
    through a job group of its own."""
    sc = spark.sparkContext

    def count(action):
        group = "jobs_of_{}".format(next(_GROUPS))
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count

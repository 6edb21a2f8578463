import uuid
from contextlib import contextmanager

import pytest

from kg_obo_spark.datagen import build_ontology
from kg_obo_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg_obo_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def onto():
    return build_ontology()


@contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block launches: ``with count_jobs(spark) as
    jobs: ...`` then ``jobs["n"]``. The block runs under a job group of its
    own, read back through ``statusTracker().getJobIdsForGroup``."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    jobs = {}
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        jobs["n"] = len(sc.statusTracker().getJobIdsForGroup(group))

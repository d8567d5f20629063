from __future__ import annotations

import uuid

import pytest

from neo4j_graph_algorithms_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="nga-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn launched)``,
    counted under a fresh job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

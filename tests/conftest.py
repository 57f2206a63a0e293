"""Shared fixtures: one SparkSession per test session, sf0.001 corpus."""

from __future__ import annotations

import pytest

from graphiti_spark.datagen import ensure_corpus
from graphiti_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="graphiti_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir() -> str:
    return ensure_corpus(0.001)


@pytest.fixture
def job_count(spark):
    """``job_count(group, action)`` → the Spark jobs ``action`` runs under
    its own job group."""
    def count(group: str, action) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count

from __future__ import annotations

import uuid

import pytest

from query_cost_feature_engineering_spark.session import get_spark
from query_cost_feature_engineering_spark.sources.images import (
    generate_images_pandas,
    generate_spine_pandas,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="qcfe-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_pdf():
    return generate_images_pandas(400, n_entities=30, seed=42)


@pytest.fixture(scope="session")
def spine_pdf(images_pdf):
    return generate_spine_pandas(images_pdf, n=200, seed=43)


@pytest.fixture(scope="session")
def images_sdf(spark, images_pdf):
    return spark.createDataFrame(images_pdf).cache()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)``: how many Spark jobs ``fn()`` ran, read from the
    status tracker under a job group of its own."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run

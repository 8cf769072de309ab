from __future__ import annotations

import os
import uuid

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME

from query_cost_feature_engineering_spark.session import get_spark
from query_cost_feature_engineering_spark.sources.images import (
    generate_images_pandas,
    generate_spine_pandas,
)


@pytest.fixture(scope="session")
def spark():
    # cap the test heap: at the session default (48g) the suite's driver
    # JVM grows to ~14 GB resident, nearly all of a 16 GB host
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
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


@pytest.fixture()
def count_py4j(spark):
    """``count_py4j(fn)``: how many py4j round trips ``fn()`` made to the
    driver JVM. py4j's own release messages (sent from its finalizer
    thread whenever Python drops a JVM reference) are not counted: they
    arrive at times the garbage collector picks."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def run(fn) -> int:
        calls = 0

        def counting(command, *args, **kwargs):
            nonlocal calls
            if not command.startswith(MEMORY_COMMAND_NAME):
                calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            fn()
        finally:
            del client.send_command
        return calls

    return run

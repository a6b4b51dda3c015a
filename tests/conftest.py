from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from muopdb_spark.session import get_spark

    s = get_spark("muopdb-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # r15 (the r14 verdict's item 3): the extras' continuous bar runs
    # at sf0.01 — the SAME scale as the driver's correctness window —
    # not the 10x-smaller sf0.001 it used through r14. Override via
    # SPARK_GRAFT_TEST_SF_DIR for a quick local iteration loop.
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture()
def round_trips(spark):
    """round_trips(build) -> the Py4J round trips `build()` makes, not
    counting object releases, with the cyclic collector off so that a
    release of an unrelated object cannot land in the count."""
    import gc

    client = spark.sparkContext._gateway._gateway_client

    def count(build) -> int:
        send = client.send_command
        n = [0]

        def counting(cmd, *a, **kw):
            if not cmd.startswith("m\n"):
                n[0] += 1
            return send(cmd, *a, **kw)

        gc.collect()
        gc.disable()
        client.send_command = counting
        try:
            build()
        finally:
            client.send_command = send
            gc.enable()
        return n[0]

    return count

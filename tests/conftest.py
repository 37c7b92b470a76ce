import os
import sys
import threading
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def spark():
    from table2qb_spark.session import get_spark

    s = get_spark(app_name="table2qb_spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def reference_available():
    if not os.path.isdir(REFERENCE):
        pytest.skip("reference repo not available")
    return REFERENCE


def example_csv(example: str, filename: str) -> str:
    return os.path.join(REFERENCE, "examples", example, "csv", filename)


def example_csvw(example: str, filename: str) -> str:
    return os.path.join(REFERENCE, "examples", example, "csvw", filename)


@pytest.fixture(scope="session")
def default_config():
    """The reference test suite's shared columns config
    (test/resources/columns.csv, loaded in test_common.clj:13-16)."""
    from table2qb_spark.config.columns import load_column_configuration

    path = os.path.join(REFERENCE, "test", "resources", "columns.csv")
    if not os.path.exists(path):
        pytest.skip("reference columns.csv not available")
    return load_column_configuration(path)


@contextmanager
def job_group(spark):
    """Yields a callable listing the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"no-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs launched inside this block")
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@contextmanager
def py4j_round_trips():
    """Yields a callable giving the number of py4j commands this thread
    sent to the JVM inside the block (one per round trip). Other threads
    are not counted: py4j's finalizer thread sends a delete for every
    collected JVM-object proxy, whenever the collector runs."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    me = threading.get_ident()
    sent = 0

    def counting(self, command):
        nonlocal sent
        if threading.get_ident() == me:
            sent += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield lambda: sent
    finally:
        ClientServerConnection.send_command = send

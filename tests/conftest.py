from __future__ import annotations

import threading
import time

import pytest

from database2ogr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("d2o-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ates_dir(spark, tmp_path_factory):
    from database2ogr_spark.sources.fixtures import write_ates_fixtures

    out = str(tmp_path_factory.mktemp("ates"))
    return write_ates_fixtures(spark, out)


@pytest.fixture(scope="session")
def ates_catalog(spark, ates_dir):
    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.sources.catalog import Catalog

    return Catalog(spark, ates_dir, schemas=ATES_SCHEMAS)


class Py4jRoundTrips:
    """Counts py4j round trips while active: one per command the Python
    side sends to the JVM, from any thread (py4j's object finalizers
    included). Wraps ``ClientServerConnection.send_command`` on entry and
    restores it on exit.

    py4j sends the deletes of freed Java references from a worker thread
    that drains a queue. Entry waits for that queue to empty, so deletes
    of what earlier code freed (thousands after a first build of an
    export plan) do not land in the count at random.

        with Py4jRoundTrips() as trips:
            build()
        assert trips.count <= budget
    """

    def __init__(self) -> None:
        self.count = 0
        self._original = None
        self._lock = threading.Lock()

    def __enter__(self) -> "Py4jRoundTrips":
        from py4j.clientserver import ClientServerConnection
        from pyspark import SparkContext

        pending = SparkContext._gateway._gateway_client.finalizer_deque
        deadline = time.monotonic() + 30
        while pending and time.monotonic() < deadline:
            time.sleep(0.01)
        original = self._original = ClientServerConnection.send_command

        def counting(conn, command):
            with self._lock:
                self.count += 1
            return original(conn, command)

        ClientServerConnection.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._original


@pytest.fixture
def py4j_round_trips():
    """The :class:`Py4jRoundTrips` counter class, for use as a context
    manager around the code under budget."""
    return Py4jRoundTrips

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dataqtor_spark.session import get_spark

    s = get_spark("dataqtor-tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from dataqtor_spark.queries import _t

    names = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"]
    return {n: _t(spark, SF_DIR, n) for n in names}


@pytest.fixture
def py4j_calls(spark):
    """``with py4j_calls() as calls:`` records every py4j command (one
    Python → JVM round trip) the block's thread sends, by wrapping the
    gateway client's ``send_command``.  Commands from other threads are
    not counted: py4j's finalizer thread sends the deletes of objects that
    earlier tests released whenever it gets to them."""
    import contextlib
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    owner = []

    def counting(command, *a, **kw):
        if threading.get_ident() in owner:
            calls.append(command)
        return send(command, *a, **kw)

    @contextlib.contextmanager
    def counted():
        gc.collect()  # release objects made earlier outside the block
        calls.clear()
        owner[:] = [threading.get_ident()]
        client.send_command = counting
        try:
            yield calls
        finally:
            del client.send_command

    return counted

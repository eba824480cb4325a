import pytest
from py4j.protocol import Py4JNetworkError

from tika_xapian_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tika-xapian-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    if not spark_is_gone(s):  # stop() on a dead JVM raises
        s.stop()


def spark_is_gone(spark) -> bool:
    """True when the session's JVM no longer answers or its SparkContext
    has stopped."""
    jsc = spark.sparkContext._jsc
    if jsc is None:  # SparkContext.stop() clears it
        return True
    try:
        return bool(jsc.sc().isStopped())
    except (Py4JNetworkError, ConnectionError):
        # a JVM that just died answers Py4JNetworkError; once py4j's
        # reconnect is refused, the call raises ConnectionRefusedError
        return True


def stop_if_spark_gone(spark, nodeid: str) -> None:
    if spark_is_gone(spark):
        pytest.exit(
            f"Spark JVM is gone before {nodeid}; stopping the run, every "
            "later Spark test would fail on the same dead session"
        )


@pytest.fixture(autouse=True)
def _spark_alive(request):
    """The suite shares one SparkSession: once its JVM dies, every later
    Spark test fails or errors, so stop the run with one message instead.
    Module-scoped fixtures built on ``spark`` set up before this probe, so
    a dead JVM can still error one module's setup before the run stops."""
    if "spark" in request.fixturenames:
        stop_if_spark_gone(request.getfixturevalue("spark"), request.node.nodeid)

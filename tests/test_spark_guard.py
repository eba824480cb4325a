"""The suite-wide dead-JVM guard in conftest.py, driven by stub sessions
(no Spark): a py4j network error, a refused reconnect or a stopped context
ends the run with one message naming the test."""

from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JNetworkError

from tests.conftest import spark_is_gone, stop_if_spark_gone


def _stub_session(is_stopped):
    sc = SimpleNamespace(isStopped=is_stopped)
    jsc = SimpleNamespace(sc=lambda: sc)
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))


def test_live_session_passes():
    live = _stub_session(lambda: False)
    assert not spark_is_gone(live)
    stop_if_spark_gone(live, "tests/test_x.py::test_y")  # no exit


def test_stopped_context_is_gone():
    assert spark_is_gone(_stub_session(lambda: True))
    cleared = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    assert spark_is_gone(cleared)


@pytest.mark.parametrize(
    "error",
    [Py4JNetworkError("Answer from Java side is empty"), ConnectionRefusedError()],
)
def test_network_error_stops_the_run_naming_the_test(error):
    def unreachable():
        raise error

    dead = _stub_session(unreachable)
    assert spark_is_gone(dead)
    with pytest.raises(pytest.exit.Exception) as exc:
        stop_if_spark_gone(dead, "tests/test_x.py::test_y")
    assert "tests/test_x.py::test_y" in str(exc.value)

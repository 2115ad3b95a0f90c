from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kissmetrics_to_database_spark.session import get_spark


@pytest.hookimpl(tryfirst=True)
def pytest_configure(config):
    # pytest empties --basetemp at the start of a run, so keep it
    # inside this checkout whatever directory pytest is started from
    if config.option.basetemp is None:
        config.option.basetemp = str(ROOT / ".tmp")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def compiles(spark):
    """Returns the number of classes Spark's code generator has
    compiled so far in this JVM."""
    jvm = spark._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount


@pytest.fixture
def round_trips(monkeypatch):
    """Returns the number of py4j commands Python has sent to the JVM
    since the fixture started, each one socket round trip: calls,
    attribute lookups and the deletes of collected proxies."""
    from py4j.clientserver import ClientServerConnection

    sent = 0
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        nonlocal sent
        sent += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return lambda: sent

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kissmetrics_to_database_spark.session import get_spark


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


@pytest.hookimpl(tryfirst=True)
def pytest_configure(config):
    # pytest empties --basetemp at the start of a run. Each run gets its
    # own directory inside this checkout, whatever directory pytest is
    # started from, so a second run does not delete the files of one in
    # progress; the directories of runs that have ended are removed.
    if config.option.basetemp is None:
        runs = ROOT / ".tmp"
        runs.mkdir(exist_ok=True)
        for old in runs.glob("run-*"):
            pid = old.name.removeprefix("run-")
            if pid.isdigit() and not _running(int(pid)):
                shutil.rmtree(old, ignore_errors=True)
        config.option.basetemp = str(runs / f"run-{os.getpid()}")


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

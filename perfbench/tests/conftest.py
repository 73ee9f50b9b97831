from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def event_dir(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_dir):
    """A small session with the uncompressed event log on and AQE off, so
    task and plan counts of a tiny job are fixed."""
    from flinkproj_spark.session import build_session

    s = build_session("perfbench-tests", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.driver.memory": "2g",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()

"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"

# The test session's Python workers start from tests/workers/zipshare_daemon.py.
# PYTHONPATH is set before the JVM starts, which passes it on to every
# Python worker it launches (UDFs, UDTF analysis, Python data sources).
WORKER_DIR = str(Path(__file__).resolve().parent / "workers")
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (WORKER_DIR, os.environ.get("PYTHONPATH")) if p
)


@pytest.fixture(scope="session")
def spark():
    from data_misc_tools_spark.session import build_session

    s = build_session(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.python.daemon.module": "zipshare_daemon"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE

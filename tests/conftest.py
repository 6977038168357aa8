from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# The engine's 16g default driver heap exceeds the RAM of a 16 GB box: the
# JVM grows past what is free while the suite's biggest collects (millions
# of rows held in Python for the DuckDB comparison) are in flight, and the
# kernel kills it, failing every later Spark test. 6g leaves room for both.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from database_cloner_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dcs-tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE

"""Benchmark tests: ``python -m pytest perfbench/tests`` from the checkout root."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from dbt_meshify_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def ref_data():
    """The reference tables the Spark workloads read."""
    from perfbench import workloads as W

    return os.path.join(ROOT, W.DATA_DIR)

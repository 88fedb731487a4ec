from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_etl_pipeline_spark.operators import caches, venue  # noqa: E402
from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="ecommerce-etl-pipeline-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _cache_scope():
    """Each test runs inside a cache scope, so whatever the engine persists
    during a test is released when the test ends."""
    with caches.scope():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def distributed_venue(monkeypatch):
    """Context manager that forces every iterative operator onto its
    distributed venue (the over-budget regime): inside it the driver-venue
    probe declines every input without running an action."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(venue, "driver_rows", lambda df, max_rows, op: None)
            yield

    return forced

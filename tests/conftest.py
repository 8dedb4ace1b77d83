import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparktiles.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparktiles-tests", cpus=8, shuffle_partitions=8)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(params=["local", "distributed"])
def phase2_path(request, monkeypatch):
    """Runs a build_fast test on both phase-2 paths: the driver-side
    numpy pass (maps under the row gate) and the per-zoom Spark walk
    (forced by a zero gate)."""
    if request.param == "distributed":
        from sparktiles.plans import pipeline

        monkeypatch.setattr(pipeline, "LOCAL_PHASE2_ROWS", 0)
    return request.param

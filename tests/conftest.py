from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow", action="store_true", default=False,
        help="also run tests marked slow (the exhaustive oracle/fuzz "
        "re-runs): the FULL ~2 h tier. Default is the fast tier — every "
        "unit/property/restore test plus the bench-path oracle sample — "
        "so a plain `pytest tests/` completes in minutes (VERDICT r12 "
        "#2: the full tier no longer fits the driver's pytest budget). "
        "SPARK_GRAFT_RUNSLOW=1 is the env spelling.",
    )


def pytest_configure(config):
    # One driver heap for the whole run, set before any session or
    # subprocess starts, so a test sees the same value in any order:
    # the program's default (half the host's memory) varies by host.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    config.addinivalue_line(
        "markers",
        "slow: exhaustive re-runs (full oracle sweep, fuzz corpora); "
        "deselected by default, enabled with --runslow / "
        "SPARK_GRAFT_RUNSLOW=1",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_RUNSLOW"):
        return
    kept, deselected = [], []
    for item in items:
        (deselected if "slow" in item.keywords else kept).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = kept


@pytest.fixture(scope="session")
def spark():
    from flink_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    spark = get_spark("flink_spark-tests", cpus=cpus, shuffle_partitions=int(cpus))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

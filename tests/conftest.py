import os
import sys
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Smoke tier (round-10 VERDICT ask #6): the full suite takes ~65-75
# minutes, which exceeds the driver's pytest budget every round, so a
# bare `pytest tests/` runs the SMOKE tier — everything except the
# tests listed in tests/slow_tests.txt (every test whose measured call
# time was >= 6 s in the round-10 full run; ~10 minutes remain, with
# every operator family still represented). The full suite is
#     python -m pytest tests/ -m "slow or not slow"
# and is run for end-of-round certification (see OPTIMIZATION_r10.md).
_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_ids() -> frozenset[str]:
    try:
        with open(_SLOW_LIST) as f:
            return frozenset(l.strip() for l in f if l.strip())
    except OSError:
        return frozenset()


def stale_slow_ids(slow, nodeids, rootdir) -> list[str]:
    """slow_tests.txt entries that name no collected test although
    their file was collected (or no longer exists): a renamed or
    re-parametrized test drops back into the smoke tier unnoticed
    otherwise. Entries of files outside this run are not judged."""
    nodeids = set(nodeids)
    files = {n.split("::", 1)[0] for n in nodeids}
    return sorted(
        e
        for e in slow
        if e not in nodeids
        and (
            e.split("::", 1)[0] in files
            or not os.path.exists(os.path.join(rootdir, e.split("::", 1)[0]))
        )
    )


def pytest_collection_modifyitems(config, items):
    slow = _slow_ids()
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
    if any("::" in a for a in config.args):
        return  # a node-id selection collects only part of each file
    for entry in stale_slow_ids(slow, [i.nodeid for i in items], str(config.rootpath)):
        warnings.warn(
            pytest.PytestWarning(
                f"tests/slow_tests.txt entry matches no collected test: {entry}"
            )
        )

from ndvi_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_oracle():
    return SF_DIR_ORACLE

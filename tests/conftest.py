import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_big_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # tiny fixtures: fewer shuffle partitions = fewer tasks = faster jobs;
    # AQE would coalesce anyway but starting small avoids the task churn.
    s = get_spark("wbs-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")), shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _session_conf_unchanged(request):
    """No test, and no library call under test, may leave a session conf
    change behind: a plan that needs a setting scopes it to itself, never
    to the shared session (SCC runs jobs on a thread pool)."""
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    before = s.conf.getAll
    yield
    assert s.conf.getAll == before


@pytest.fixture()
def tmp_run_dir(tmp_path):
    return str(tmp_path / "run")

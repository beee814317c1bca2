import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from coords_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="coords-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Small deterministic fixture tables shared by the Spark tests."""
    from coords_spark.fixtures import write_fixtures

    d = tmp_path_factory.mktemp("fixtures")
    write_fixtures(str(d), sf=0.0004)  # ~2000 images, 8000 nodes, 800 ways
    return str(d)


@pytest.fixture()
def force_distributed(monkeypatch):
    """Call it to set every driver-side staging cap in coords_spark.bounded
    to 0: from then on, for the rest of the test, each bounded operator
    takes its distributed path. Calling it mid-test lets one test compare
    the default path's result with the distributed one."""
    from coords_spark import bounded

    def force():
        for name in [n for n in vars(bounded) if n.isupper()]:
            monkeypatch.setattr(bounded, name, 0)

    return force

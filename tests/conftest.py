import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydriosm_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=int(os.environ.get("TEST_CPUS", "8")), app_name="pydriosm_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pbf_lake(tmp_path_factory):
    """Directory holding the deterministic two-file PBF lake of
    ``tests/pbf_lake.py`` (``a.osm.pbf``, ``b.osm.pbf``)."""
    from tests.pbf_lake import write_lake

    return write_lake(tmp_path_factory.mktemp("pbf_lake"))


@pytest.fixture(scope="session")
def shp_lake(tmp_path_factory):
    """Directory holding the generated shapefile lake of
    ``tests/shp_lake.py`` (``plain/`` and the same files as a zip)."""
    from tests.shp_lake import write_lake

    return write_lake(tmp_path_factory.mktemp("shp_lake"))

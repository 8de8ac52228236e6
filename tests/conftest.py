import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from industrial_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # cores: $SPARK_GRAFT_CPUS, else the machine's (session.py)
    s = get_spark("idp-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE

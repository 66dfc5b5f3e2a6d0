import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_DIR = os.path.join(REPO_ROOT, ".scratch")

sys.path.insert(0, REPO_ROOT)

# pytest.ini points --basetemp at .scratch/pytest; basetemp's mkdir is
# non-recursive, so make sure the (gitignored) parent exists.
os.makedirs(SCRATCH_DIR, exist_ok=True)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from flink_kmeans_spark.session import get_spark

    s = get_spark("pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE

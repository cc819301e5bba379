from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a second checkout (an A/B
# copy, a CI clone) tests its own package
REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from synthetic_data_transfer_to_relational_database_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sdt-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_CORRECT

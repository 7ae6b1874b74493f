from __future__ import annotations

import os
from pathlib import Path

import pytest

from takuan_spark.session import get_spark

SF_SMOKE = os.environ.get("TAKUAN_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("TAKUAN_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="takuan-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def config_path():
    """The committed service config: the reference config.example.yml's
    ssh and http parsers, the same ssh rules, two http rules."""
    return str(Path(__file__).resolve().parents[1] / "configs" / "takuan.yml")

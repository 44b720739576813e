from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postgres_opensearch_cdc_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def open_cost_bytes(spark):
    """``with open_cost_bytes(n):`` runs its body with
    ``spark.sql.files.openCostInBytes`` = n bytes, the versioned
    mirror's bytes-per-bucket target, and restores the session value
    after."""
    key = "spark.sql.files.openCostInBytes"

    @contextlib.contextmanager
    def setting(n: int):
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    return setting

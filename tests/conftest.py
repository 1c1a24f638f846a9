from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from dagster_etl_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Operators pin() self-join intermediates; release them after every
    test so the session-scoped Spark never accumulates cached blocks."""
    yield
    from dagster_etl_spark.plans.cache import release_pinned

    release_pinned()

from __future__ import annotations

import sys
from pathlib import Path

import pytest

# this checkout's package, whichever directory it was cloned to
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_vs_dbt_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

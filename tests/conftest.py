from __future__ import annotations

import pytest

from datapipelines_essentials_python_spark import get_or_create_spark_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    session = get_or_create_spark_session(app_name="tests", shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

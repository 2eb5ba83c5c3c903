from __future__ import annotations

import contextlib
import io

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


@pytest.fixture
def pinned_plans(monkeypatch):
    """The formatted physical plan of every frame pinned with
    ``localCheckpoint`` while the test runs, in call order.

    A pinned operator's final plan reads its checkpoints as ``Scan
    ExistingRDD``, which hides the exchanges and expressions that ran
    before each pin; this records them as the operator executes them.
    Patches the classic ``DataFrame`` class, which overrides the method
    ``pyspark.sql.DataFrame`` declares."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    real = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain("formatted")
        plans.append(buf.getvalue())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans
